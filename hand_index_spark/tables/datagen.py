"""Deterministic synthetic world for the index-build / ROI pipelines.

FIXTURES.md §§2-6 realized: all values are pure hash-arithmetic functions
of (row, col, k) — no RNG state, no wall clock, no external data (north
rule, BASELINE.json:14). Geometry is generated in **EPSG:5070 meters**
(the reference's storage CRS, load.py:155-156) by projecting the
tilegrid's lon/lat quads through the Albers forward transform, so the
pipelines exercise the real CRS path (5070 -> 4326 for H3 keying,
load.py:165-166).

Tables produced (as Spark DataFrames):
- ``tiles_raw``     — per-branch sub-polygons (WKB, 5070) whose union is
                      the branch quad, plus noise rows that the P4 path
                      filter must drop (load.py:80).
- ``file_manifest`` — asset paths in the four reference glob shapes
                      (gpkg/csv/2x tif, load.py:39-45), joinable via
                      regexp_extract on the branch dir.
- ``raster_footprints`` — (raster_path, width, height, affine transform)
                      rows for the raster->vector ingest operator.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..geo import albers, wkb
from . import tilegrid as tg


def branch_path(tile_id: int) -> str:
    huc = tile_id // tg.NC
    return f"s3://fix/huc{huc:02d}/branches/b{tile_id}/"


def branch_quads_5070() -> list[tuple[int, str, np.ndarray]]:
    """(tile_id, branch_path, quad ring in EPSG:5070 meters)."""
    ids, rings = tg.tile_ids_and_rings()
    out = []
    for tid, ring in zip(ids, rings):
        x, y = albers.forward(ring[:, 0], ring[:, 1])
        out.append((tid, branch_path(tid), np.column_stack([x, y])))
    return out


def _fan_triangles(quad: np.ndarray, k: int) -> list[np.ndarray]:
    """Split a convex quad into k in {2,3,4} triangles whose union is the
    quad (fan from vertex 0 after densifying edges)."""
    # densify the quad boundary to 4 + (k-1) points, fan from vertex 0
    pts = [quad[0], quad[1], quad[2], quad[3]]
    tris = [np.array([pts[0], pts[1], pts[2]]), np.array([pts[0], pts[2], pts[3]])]
    if k >= 3:
        mid = (quad[1] + quad[2]) * 0.5
        tris = [
            np.array([pts[0], pts[1], mid]),
            np.array([pts[0], mid, pts[2]]),
            np.array([pts[0], pts[2], pts[3]]),
        ]
    if k >= 4:
        mid2 = (quad[2] + quad[3]) * 0.5
        tris = tris[:-1] + [
            np.array([pts[0], pts[2], mid2]),
            np.array([pts[0], mid2, pts[3]]),
        ]
    return tris


def tiles_raw(spark: SparkSession) -> DataFrame:
    """Sub-polygon rows + filterable noise (FIXTURES.md §3)."""
    rows = []
    for tid, bp, quad in branch_quads_5070():
        k = 2 + (tid * 2654435761 % 3)  # 2..4 pieces
        # all sub-polygons of a branch live in ONE source file (reference
        # semantics: ST_Read of the chosen gpkg yields many rows,
        # load.py:143; the J7 dedup picks files, not rows)
        for tri in _fan_triangles(quad, k):
            rows.append(
                (bytearray(wkb.polygon_to_wkb([tri])), bp, f"{bp}gw_catchments.gpkg")
            )
        # a second file per branch that J7 must drop (duplicate coverage)
        rows.append(
            (bytearray(wkb.polygon_to_wkb([quad])), bp, f"{bp}gw_catchments_v2.gpkg")
        )
        # noise: _pixels_ file + non-branches path (must be filtered, load.py:80)
        rows.append(
            (
                bytearray(wkb.polygon_to_wkb([quad])),
                bp,
                f"{bp}gw_catchments_pixels_{tid}.gpkg",
            )
        )
        rows.append(
            (
                bytearray(wkb.polygon_to_wkb([quad])),
                f"s3://fix/other/{tid}/",
                f"s3://fix/other/{tid}/stray.gpkg",
            )
        )
    return spark.createDataFrame(rows, "geom binary, branch_path string, src_file string")


def synth_neardup_docs(
    spark: SparkSession,
    n: int,
    group: int = 5,
    vocab: int = 50_000,
    toks: int = 16,
) -> DataFrame:
    """Deterministic near-dup corpus for dedup benchmarking, generated
    entirely in Catalyst (no Python, no RNG): ``n`` docs in families of
    ``group``. Family members share ``toks`` base tokens plus one
    variant token (Jaccard ~= toks/(toks+2) between members — real
    near-dups), and variants repeat mod 2, so every family also
    contains byte-identical pairs that exercise the exact-dedup
    pre-pass and the rep cluster merge."""
    from pyspark.sql import functions as F

    df = spark.range(n).withColumnRenamed("id", "doc_id")
    g = F.col("doc_id") / F.lit(group)
    fam = F.floor(g).cast("long")
    variant = (F.col("doc_id") % F.lit(group)) % F.lit(2)
    base_toks = F.transform(
        F.sequence(F.lit(0), F.lit(toks - 1)),
        lambda i: F.concat(
            F.lit("w"),
            ((fam * F.lit(2654435761) + i * F.lit(40503)) % F.lit(vocab)).cast(
                "string"
            ),
        ),
    )
    text = F.concat(
        F.array_join(base_toks, " "), F.lit(" v"), variant.cast("string")
    )
    return df.select("doc_id", text.alias("text"))


def file_manifest(spark: SparkSession) -> DataFrame:
    """Asset paths per branch (FIXTURES.md §4): 1-3 hydrotable csvs,
    rem/catchment rasters with deterministic gaps (left-join nulls)."""
    rows = []
    for tid, bp, _quad in branch_quads_5070():
        n_csv = 1 + (tid * 40503 % 3)
        for i in range(n_csv):
            rows.append((f"{bp}hydroTable_{i}.csv",))
        if tid % 7 != 0:  # gap: some branches lack a REM raster
            rows.append((f"{bp}rem_zeroed_masked_{tid}.tif",))
        if tid % 11 != 0:
            rows.append((f"{bp}gw_catchments_reaches_filtered_addedAttributes_{tid}.tif",))
    return spark.createDataFrame(rows, "file string")


def raster_footprints(spark: SparkSession) -> DataFrame:
    """Affine-transform raster manifest (FIXTURES.md §5): one raster per
    branch covering its quad bbox at 10 m resolution."""
    rows = []
    for tid, bp, quad in branch_quads_5070():
        xmin, ymin = quad[:, 0].min(), quad[:, 1].min()
        xmax, ymax = quad[:, 0].max(), quad[:, 1].max()
        width = max(1, int((xmax - xmin) / 10.0))
        height = max(1, int((ymax - ymin) / 10.0))
        # GDAL-style affine: (a, b, c, d, e, f) = (xres, 0, xmin, 0, -yres, ymax)
        rows.append(
            (
                f"{bp}rem_zeroed_masked_{tid}.tif",
                width,
                height,
                [10.0, 0.0, float(xmin), 0.0, -10.0, float(ymax)],
                "EPSG:5070",
            )
        )
    return spark.createDataFrame(
        rows,
        "raster_path string, width int, height int, transform array<double>, crs string",
    )


def roi_geojson(kind: str) -> dict:
    """Engineered convex ROI polygons in EPSG:4326 (FIXTURES.md §6).

    kinds: contains (tiny ROI inside one tile), within (huge ROI holding
    several tiles), partial (straddles threshold), gap (over a grid
    hole), degenerate (zero-area).
    """
    ids, rings = tg.tile_ids_and_rings()
    t0 = rings[0]  # first live tile
    cx = float(t0[:, 0].mean())
    cy = float(t0[:, 1].mean())
    if kind == "contains":
        d = 0.05
        coords = [[cx - d, cy - d], [cx + d, cy - d], [cx + d, cy + d], [cx - d, cy + d]]
    elif kind == "within":
        coords = [[-110.0, 30.0], [-95.0, 30.0], [-95.0, 42.0], [-110.0, 42.0]]
    elif kind == "partial":
        # shifted square half-covering tile 0's neighborhood
        w = float(t0[:, 0].max() - t0[:, 0].min())
        coords = [
            [cx, cy - 1.0],
            [cx + w * 1.2, cy - 1.0],
            [cx + w * 1.2, cy + 1.0],
            [cx, cy + 1.0],
        ]
    elif kind == "gap":
        # centered on a dropped tile: find first gap tile id
        live = set(ids)
        gap_id = next(
            r * tg.NC + c
            for r in range(tg.NR)
            for c in range(tg.NC)
            if (r * tg.NC + c) not in live
        )
        gr, gc = gap_id // tg.NC, gap_id % tg.NC
        gx = tg.LON_MIN + (gc + 0.5) * tg.W
        gy = tg.LAT_MIN + (gr + 0.5) * tg.H
        d = 0.05
        coords = [[gx - d, gy - d], [gx + d, gy - d], [gx + d, gy + d], [gx - d, gy + d]]
    elif kind == "degenerate":
        coords = [[cx, cy], [cx, cy], [cx, cy]]
    else:
        raise ValueError(kind)
    coords.append(coords[0])
    return {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": kind},
                "geometry": {"type": "Polygon", "coordinates": [coords]},
            }
        ],
    }


# synthetic catchment-corpus extent (deg, EPSG:4326) — CONUS-ish
CATCH_LON0, CATCH_LON1 = -125.0, -65.0
CATCH_LAT0, CATCH_LAT1 = 25.0, 50.0
CATCH_HALF = 0.004  # catchment quad half-extent in degrees


def synth_catchments(spark: SparkSession, n: int, partition_res: int) -> DataFrame:
    """Deterministic hashed spread of ``n`` small catchment quads with
    the exact column contract of pipelines/build_index.build_catchments
    (WKB 5070 geometry, coords_flat, bbox struct, h3_index partition
    key, branch_path). mapInPandas generator — scales with the range.
    Used by bench.py's roi_query_600k headline (datagen, not
    engine)."""
    import pandas as pd

    from ..geo import cells as h3lite

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            lon = CATCH_LON0 + ((ids * 2654435761) % 6000).astype(np.float64) * 0.01
            lat = CATCH_LAT0 + ((ids * 97 + 13) % 2500).astype(np.float64) * 0.01
            h = CATCH_HALF
            qlon = np.stack([lon - h, lon + h, lon + h, lon - h, lon - h], axis=1)
            qlat = np.stack([lat - h, lat - h, lat + h, lat + h, lat - h], axis=1)
            x, y = albers.forward(qlon.ravel(), qlat.ravel())
            x = x.reshape(-1, 5)
            y = y.reshape(-1, 5)
            cell = h3lite.encode(lat, lon, partition_res)
            rows = []
            for i in range(len(ids)):
                ring = np.column_stack([x[i], y[i]])
                rows.append(
                    (
                        f"cat{ids[i]:08d}",
                        wkb.polygon_to_wkb([ring]),
                        ring.ravel().tolist(),
                        {
                            "xmin": float(x[i].min()),
                            "ymin": float(y[i].min()),
                            "xmax": float(x[i].max()),
                            "ymax": float(y[i].max()),
                        },
                        int(cell[i]),
                        f"s3://fix/branches/{ids[i]}/",
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "catchment_id", "geometry", "coords_flat",
                    "bbox", "h3_index", "branch_path",
                ],
            )

    schema = (
        "catchment_id string, geometry binary, coords_flat array<double>, "
        "bbox struct<xmin:double,ymin:double,xmax:double,ymax:double>, "
        "h3_index long, branch_path string"
    )
    return spark.range(n).mapInPandas(gen, schema=schema)
