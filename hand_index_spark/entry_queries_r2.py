"""Driver-contract registry, batch 3 (round 2): oracles for the
operators that round 1 verified only in pytest (VERDICT.md "Next round"
items 1-2): geometric union aggregate + the build_catchments pipeline
core (A1, F3', F7 forward+inverse, F8, F10), the WKB codec round-trip
(F4-F6), the exact overlap refinement (F11, F13-F16), GeoJSON-ROI PIP
filtering (S3/P5), icelite snapshots/lineage/atomic publish (D1-D6),
Structured Streaming batch parity (§2.10), and salted-repartition
invariance (§2.11).

Cross-engine float rules used here (see also tables/tilegrid.py):
- trig-free arithmetic (tile corners, rect clipping with power-of-two
  extents) is compared EXACTLY — both engines produce bit-identical
  doubles;
- trig-bearing outputs (Albers x/y) are compared through a coarse
  discretization (floor to whole meters / cell encoding) because
  numpy's array-mode sin/cos/log differ from DuckDB's libm by 1-2 ulp;
  the discretization grid is >= 1e9x the ulp slack, so flips are
  vanishingly improbable.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, BooleanType, DoubleType

from .geo import albers
from .geo import cells as h3lite
from .geo import polygon as P
from .geo import wkb
from .tables import tilegrid as tg
from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# F4-F6: WKB codec round-trip (reference ST_AsWKB/shapely.wkb.loads,
# load.py:163 / query_geojson.py:129-131). The tile corners are
# closed-form hash arithmetic in degrees (zero trig), so the decoded
# coordinates must match the oracle's tiles_sql() BIT-FOR-BIT — a float64
# that survives encode->WKB bytes->decode unchanged.

_RT_SCHEMA = (
    "tile_id long, n_rings long, n_pts long, "
    "x_sw double, y_sw double, x_se double, y_se double, "
    "x_ne double, y_ne double, x_nw double, y_nw double"
)


def _q_wkb_roundtrip(spark, sf_dir):
    ids, rings = tg.tile_ids_and_rings()
    rows = [(int(t), bytearray(wkb.polygon_to_wkb([r]))) for t, r in zip(ids, rings)]
    df = spark.createDataFrame(rows, "tile_id long, geometry binary")

    def run(batches):
        for pdf in batches:
            out = []
            for tid, buf in zip(pdf["tile_id"], pdf["geometry"]):
                gtype, payload = wkb.parse_wkb(bytes(buf))
                assert gtype == wkb.WKB_POLYGON
                ring = payload[0]  # closed on write: 5 points
                out.append(
                    (
                        int(tid),
                        len(payload),
                        len(ring),
                        ring[0, 0], ring[0, 1], ring[1, 0], ring[1, 1],
                        ring[2, 0], ring[2, 1], ring[3, 0], ring[3, 1],
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "tile_id", "n_rings", "n_pts",
                    "x_sw", "y_sw", "x_se", "y_se", "x_ne", "y_ne", "x_nw", "y_nw",
                ],
            )

    return df.mapInPandas(run, schema=_RT_SCHEMA)


register(
    GEO,
    "wkb_roundtrip",
    _q_wkb_roundtrip,
    f"""
    WITH tiles AS ({tg.tiles_sql()})
    SELECT tile_id, CAST(1 AS BIGINT) AS n_rings, CAST(5 AS BIGINT) AS n_pts,
           x_sw, y_sw, x_se, y_se, x_ne, y_ne, x_nw, y_nw
    FROM tiles
    """,
)


# --------------------------------------------------------------------------
# F7: Albers-5070 forward transform per page, floor-to-meter discretized
# (raw doubles would expose numpy-vs-libm trig ulps; one meter of grid
# vs nanometers of slack).


@pandas_udf(DoubleType())
def _albers_fwd_x(lon: pd.Series, lat: pd.Series) -> pd.Series:
    x, _ = albers.forward(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    return pd.Series(x)


@pandas_udf(DoubleType())
def _albers_fwd_y(lon: pd.Series, lat: pd.Series) -> pd.Series:
    _, y = albers.forward(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    return pd.Series(y)


def _q_albers_forward(spark, sf_dir):
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    return pts.select(
        "url",
        F.floor(_albers_fwd_x(F.col("lon"), F.col("lat"))).cast("long").alias("x_m"),
        F.floor(_albers_fwd_y(F.col("lon"), F.col("lat"))).cast("long").alias("y_m"),
    )


def _albers_forward_sql() -> str:
    from .oracles import pts_cte

    return f"""
    WITH pts AS ({pts_cte()})
    SELECT url, CAST(floor(ax) AS BIGINT) AS x_m, CAST(floor(ay) AS BIGINT) AS y_m
    FROM (SELECT url, {albers.forward_sql("lon", "lat")} FROM pts)
    """


register(GEO, "albers_forward", _q_albers_forward, _albers_forward_sql())


# --------------------------------------------------------------------------
# A1 + the build pipeline core: per-branch union-agg -> centroid ->
# Albers inverse -> multi-res cells -> deterministic ids (load.py:146-168
# restated). Oracle rebuilds every step in SQL from the closed-form tile
# grid: forward-project the quad corners, bbox via least/greatest
# (floored to meters), shoelace centroid, 8-iteration Albers inverse,
# h3lite cell encode (cell grids are ~1e9x wider than the trig slack).


def _q_union_catchments(spark, sf_dir):
    from .pipelines.build_index import build_catchments
    from .tables.datagen import tiles_raw

    cat = build_catchments(tiles_raw(spark))
    return cat.select(
        "branch_path",
        "catchment_id",
        "geom_count",
        F.floor(F.col("bbox.xmin")).cast("long").alias("xmin_m"),
        F.floor(F.col("bbox.ymin")).cast("long").alias("ymin_m"),
        F.floor(F.col("bbox.xmax")).cast("long").alias("xmax_m"),
        F.floor(F.col("bbox.ymax")).cast("long").alias("ymax_m"),
        "h3_index",
        "h3_r5",
        "h3_r7",
        "h3_r9",
    )


def _union_catchments_sql() -> str:
    from .pipelines.build_index import CATCHMENT_PARTITION_RES

    corners = " UNION ALL ".join(
        f"SELECT tile_id, {ci} AS ci, {xc} AS lon, {yc} AS lat FROM tiles"
        for ci, (xc, yc) in enumerate(
            [("x_sw", "y_sw"), ("x_se", "y_se"), ("x_ne", "y_ne"), ("x_nw", "y_nw")]
        )
    )
    pick = ", ".join(
        f"max(CASE ci WHEN {i} THEN ax END) AS x{i},"
        f" max(CASE ci WHEN {i} THEN ay END) AS y{i}"
        for i in range(4)
    )
    cross = [f"(x{i} * y{(i + 1) % 4} - x{(i + 1) % 4} * y{i})" for i in range(4)]
    cent_x = " + ".join(f"(x{i} + x{(i + 1) % 4}) * {cross[i]}" for i in range(4))
    cent_y = " + ".join(f"(y{i} + y{(i + 1) % 4}) * {cross[i]}" for i in range(4))
    inv = albers.inverse_sql_query(
        "SELECT tile_id, cx AS ax, cy AS ay FROM cent", keys=("tile_id",)
    )
    cells = ", ".join(
        f"{h3lite.encode_sql('lat', 'lon', r)} AS h3_r{r}" for r in (5, 7, 9)
    )
    return f"""
    WITH tiles AS ({tg.tiles_sql()}),
    corners AS ({corners}),
    proj AS (
        SELECT tile_id, ci, ax, ay
        FROM (SELECT tile_id, ci, {albers.forward_sql("lon", "lat")} FROM corners)
    ),
    quad AS (SELECT tile_id, {pick} FROM proj GROUP BY tile_id),
    cent AS (
        SELECT tile_id,
               least(x0, x1, x2, x3) AS bxmin, least(y0, y1, y2, y3) AS bymin,
               greatest(x0, x1, x2, x3) AS bxmax, greatest(y0, y1, y2, y3) AS bymax,
               ({cent_x}) / (6.0 * (({" + ".join(cross)}) / 2.0)) AS cx,
               ({cent_y}) / (6.0 * (({" + ".join(cross)}) / 2.0)) AS cy
        FROM quad
    ),
    lonlat AS ({inv})
    SELECT concat('s3://fix/huc',
                  lpad(CAST(c.tile_id // {tg.NC} AS VARCHAR), 2, '0'),
                  '/branches/b', CAST(c.tile_id AS VARCHAR), '/') AS branch_path,
           sha256(concat('s3://fix/huc',
                  lpad(CAST(c.tile_id // {tg.NC} AS VARCHAR), 2, '0'),
                  '/branches/b', CAST(c.tile_id AS VARCHAR), '/')) AS catchment_id,
           CAST(2 + (c.tile_id * 2654435761) % 3 AS BIGINT) AS geom_count,
           CAST(floor(c.bxmin) AS BIGINT) AS xmin_m,
           CAST(floor(c.bymin) AS BIGINT) AS ymin_m,
           CAST(floor(c.bxmax) AS BIGINT) AS xmax_m,
           CAST(floor(c.bymax) AS BIGINT) AS ymax_m,
           {h3lite.encode_sql("lat", "lon", CATCHMENT_PARTITION_RES)} AS h3_index,
           {cells}
    FROM cent c JOIN lonlat l ON c.tile_id = l.tile_id
    """


register(GEO, "union_catchments", _q_union_catchments, _union_catchments_sql())


# --------------------------------------------------------------------------
# F11/F13-F16: exact overlap refinement over axis-aligned rectangles with
# power-of-two extents. Every Sutherland-Hodgman intersection point then
# lands on exact integer coordinates ((c-x0)/2^k and the back-multiply
# are both exact), all shoelace products stay < 2^53, so intersects/
# area/inter_area/overlap_pct/contains/within are compared as RAW
# doubles — zero float risk, full-strength oracle for the refine kernel.

_ROI_RECT = (8192.0, 4096.0, 9216.0, 4608.0)  # x0, y0, x1, y1


@pandas_udf(BinaryType())
def _rect_wkb(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
    out = []
    for a, b, c, d in zip(x0, y0, x1, y1):
        ring = np.array([[a, b], [c, b], [c, d], [a, d]], dtype=np.float64)
        out.append(wkb.polygon_to_wkb([ring]))
    return pd.Series(out)


def _q_overlap_refine(spark, sf_dir):
    from .operators.overlap import refine_overlap

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0)
    x0 = (F.col("p_partkey") * 64).cast("double")
    y0 = (F.col("p_partkey") * 32).cast("double")
    x1 = x0 + F.pow(F.lit(2.0), (F.col("p_size") % 6 + 4).cast("double")) * F.lit(8.0)
    y1 = y0 + F.pow(F.lit(2.0), (F.col("p_size") % 5 + 3).cast("double")) * F.lit(8.0)
    f = p.select(
        F.concat(
            F.lit("s3://fix/r"), F.col("p_partkey").cast("string"), F.lit(".tif")
        ).alias("raster_path"),
        _rect_wkb(x0, y0, x1, y1).alias("geometry"),
    )
    rx0, ry0, rx1, ry1 = _ROI_RECT
    roi = np.array([[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1]])
    out = refine_overlap(f, spark, roi)
    return out.select(
        "raster_path", "intersects", "area", "inter_area", "overlap_pct",
        "contains_query", "within_query",
    )


def _overlap_refine_sql() -> str:
    rx0, ry0, rx1, ry1 = _ROI_RECT
    roi_area = (rx1 - rx0) * (ry1 - ry0)
    return f"""
    WITH f AS (
        SELECT concat('s3://fix/r', CAST(p_partkey AS VARCHAR), '.tif') AS raster_path,
               CAST(p_partkey * 64 AS DOUBLE) AS x0,
               CAST(p_partkey * 32 AS DOUBLE) AS y0,
               CAST(p_partkey * 64 AS DOUBLE)
                   + power(2.0, CAST(p_size % 6 + 4 AS DOUBLE)) * 8.0 AS x1,
               CAST(p_partkey * 32 AS DOUBLE)
                   + power(2.0, CAST(p_size % 5 + 3 AS DOUBLE)) * 8.0 AS y1
        FROM part WHERE p_partkey % 2 = 0
    ),
    o AS (
        SELECT raster_path, x0, y0, x1, y1,
               (x1 - x0) * (y1 - y0) AS area,
               greatest(0.0, least(x1, {rx1!r}) - greatest(x0, {rx0!r}))
                   * greatest(0.0, least(y1, {ry1!r}) - greatest(y0, {ry0!r})) AS ia
        FROM f
    )
    SELECT raster_path,
           (x0 <= {rx1!r} AND {rx0!r} <= x1 AND y0 <= {ry1!r} AND {ry0!r} <= y1)
               AS intersects,
           area,
           ia AS inter_area,
           CASE WHEN area > 0 THEN ia / greatest(area, 1e-300) * 100.0
                ELSE 0.0 END AS overlap_pct,
           ia >= {roi_area!r} * (1.0 - 1e-9) AS contains_query,
           ia >= area * (1.0 - 1e-9) AS within_query
    FROM o
    """


register(GEO, "overlap_refine", _q_overlap_refine, _overlap_refine_sql())


# --------------------------------------------------------------------------
# S3 + P5: GeoJSON ROI parse -> convex PIP filter over pages. The ROI
# rectangle's corners are exact literals, and the half-plane expressions
# are identical on both sides (the tile_assign pattern) — exact compare.


@pandas_udf(BooleanType())
def _pip_roi(lon: pd.Series, lat: pd.Series) -> pd.Series:
    from .sources.geojson import load_roi
    from .tables.datagen import roi_geojson

    ring = load_roi(roi_geojson("within"))[0]
    mask = P.points_in_convex(
        lon.to_numpy(np.float64), lat.to_numpy(np.float64), ring
    )
    return pd.Series(mask)


def _q_roi_pip_filter(spark, sf_dir):
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    return pts.filter(_pip_roi(F.col("lon"), F.col("lat"))).select("url", "lat", "lon")


def _roi_pip_sql() -> str:
    from .oracles import pts_cte
    from .sources.geojson import load_roi
    from .tables.datagen import roi_geojson

    ring = load_roi(roi_geojson("within"))[0]
    r = np.vstack([ring, ring[:1]]) if not np.array_equal(ring[0], ring[-1]) else ring
    conds = [
        f"({r[i + 1, 0]!r} - {r[i, 0]!r}) * (lat - {r[i, 1]!r})"
        f" - ({r[i + 1, 1]!r} - {r[i, 1]!r}) * (lon - {r[i, 0]!r}) >= 0.0"
        for i in range(len(r) - 1)
    ]
    return f"""
    WITH pts AS ({pts_cte()})
    SELECT url, lat, lon FROM pts WHERE {" AND ".join(conds)}
    """


register(GEO, "roi_pip_filter", _q_roi_pip_filter, _roi_pip_sql())


# --------------------------------------------------------------------------
# D1-D6: icelite lineage + resume + atomic publish, driven end-to-end
# inside the query (writes to a throwaway temp dir) and verified against
# SQL recomputations of the same aggregates.


def _q_lineage_counts(spark, sf_dir):
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_lineage_")
    pts = E.with_cells(
        E.with_geotag(web_pages_from_documents(spark, sf_dir)),
        resolutions=(E.PARTITION_RES,),
    ).select("url", "doc_id", "cell_id", "text")
    t = IceliteTable(root, "pages")
    t.write(pts, stage="ingest", fingerprint="q", lineage_key="cell_id")
    assert t.stage_done("ingest", "q")  # resume check: committed
    lin = t.lineage(spark)
    return (
        lin.groupBy("stage")
        .agg(
            F.sum("row_count").alias("n_rows"),
            F.min("cell_min").alias("cell_lo"),
            F.max("cell_max").alias("cell_hi"),
        )
        .withColumn("n_snapshots", F.lit(len(t.snapshots())).cast("long"))
    )


def _lineage_counts_sql() -> str:
    from .operators.encode import PARTITION_RES
    from .oracles import pts_cte

    cell = h3lite.encode_sql("lat", "lon", PARTITION_RES)
    return f"""
    WITH pts AS ({pts_cte()})
    SELECT 'ingest' AS stage, count(*) AS n_rows,
           min({cell}) AS cell_lo, max({cell}) AS cell_hi,
           CAST(1 AS BIGINT) AS n_snapshots
    FROM pts
    """


register(TEXT, "lineage_counts", _q_lineage_counts, _lineage_counts_sql())


def _q_atomic_publish(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_atomic_")
    d = _t(spark, sf_dir, "documents")
    t = IceliteTable(root, "docs")
    t.write(d.select("doc_id"), stage="v1", fingerprint="a")
    t.write(
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id"),
        stage="v2",
        fingerprint="b",
    )
    cur = t.read(spark)  # resolves the CURRENT snapshot manifest only
    return cur.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_id"),
    ).withColumn("n_snapshots", F.lit(len(t.snapshots())).cast("long"))


register(
    TEXT,
    "atomic_publish",
    _q_atomic_publish,
    """
    SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(2 AS BIGINT) AS n_snapshots
    FROM documents WHERE doc_id % 2 = 0
    """,
)


# --------------------------------------------------------------------------
# §2.10: Structured Streaming batch parity with a full oracle — the
# events stream drained with availableNow into a memory sink must equal
# the batch aggregate (events_windowed's SQL shape).


def _q_stream_windowed(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file-stream source requires a directory; stage a symlink
    src_dir = _fresh_dir("stream_src_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg = (
        stream.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    name = f"stream_windowed_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    TEXT,
    "stream_windowed",
    _q_stream_windowed,
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# S6/S8/S9: hive-partitioned sink + result reload round-trip — write the
# assignments partitioned by tile_id, read the directory back (partition
# column restored by discovery), aggregate. Oracle recomputes the same
# histogram straight from the assignment arithmetic.


def _q_partitioned_roundtrip(spark, sf_dir):
    from .pipelines.assign_tiles import assignments

    out = _fresh_dir("sink_rt_") + "/asg"
    assignments(spark, sf_dir).write.mode("overwrite").partitionBy(
        "tile_id"
    ).parquet(out)
    back = spark.read.parquet(out)  # S9: partition col via discovery
    return back.groupBy(F.col("tile_id").cast("long").alias("tile_id")).agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum((F.col("method") == "pip").cast("long")).alias("n_pip"),
    )


def _partitioned_roundtrip_sql() -> str:
    from .oracles import assign_cte

    return f"""
    {assign_cte()}
    SELECT tile_id, count(*) AS n_pages,
           CAST(sum(CASE WHEN method = 'pip' THEN 1 ELSE 0 END) AS BIGINT) AS n_pip
    FROM asg GROUP BY tile_id
    """


register(GEO, "partitioned_roundtrip", _q_partitioned_roundtrip, _partitioned_roundtrip_sql())


# --------------------------------------------------------------------------
# Near-dup CLUSTERING: LSH candidates -> exact Jaccard -> connected
# components (iterative min-label propagation — the distributed graph
# step that ends every corpus-dedup pipeline). Fully oracled: DuckDB
# computes the same components via a recursive-CTE transitive closure.


def _q_dedup_clusters(spark, sf_dir):
    from .operators.dedup import dedup_clusters

    return dedup_clusters(_t(spark, sf_dir, "documents"), threshold=0.2)


def _dedup_clusters_sql() -> str:
    from .entry_queries_ext import JACCARD_PAIRS_SQL

    # edges exist only among exact-dedup representatives; every doc then
    # inherits its sha256 representative's cluster label (rm join), so
    # byte-identical duplicates land in the rep's cluster — mirrors
    # operators/dedup.py dedup_clusters (ADVICE r2 medium)
    return f"""
    WITH RECURSIVE p AS ({JACCARD_PAIRS_SQL}),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM p
        UNION
        SELECT id_b AS a, id_a AS b FROM p
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND r.a != e.b
    ),
    rm AS (
        SELECT d.doc_id, r.rep_id
        FROM documents d
        JOIN (SELECT sha256(text) AS sha, min(doc_id) AS rep_id
              FROM documents GROUP BY sha256(text)) r
          ON sha256(d.text) = r.sha
    ),
    lbl AS (
        SELECT n.rep_id,
               least(n.rep_id, coalesce(min(r.b), n.rep_id)) AS cluster_id
        FROM (SELECT DISTINCT rep_id FROM rm) n LEFT JOIN reach r ON r.a = n.rep_id
        GROUP BY n.rep_id
    )
    SELECT m.doc_id, l.cluster_id,
           CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size
    FROM rm m JOIN lbl l ON l.rep_id = m.rep_id
    """


register(TEXT, "dedup_clusters", _q_dedup_clusters, _dedup_clusters_sql())


def _q_dedup_keep(spark, sf_dir):
    """The dedup WRITEBACK: keep one canonical doc per cluster (the
    min-id representative) — the row set a training pipeline persists."""
    from .operators.dedup import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    reps = (
        dedup_clusters(d, threshold=0.2)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    return d.join(reps, "doc_id", "left_semi").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
    )


def _dedup_keep_sql() -> str:
    return f"""
    WITH clusters AS ({_dedup_clusters_sql()})
    SELECT d.doc_id, sha256(d.text) AS text_sha
    FROM documents d
    WHERE d.doc_id IN (SELECT doc_id FROM clusters WHERE doc_id = cluster_id)
    """


register(TEXT, "dedup_keep", _q_dedup_keep, _dedup_keep_sql())


# --------------------------------------------------------------------------
# Analytics-surface breadth: exact interpolated quantiles, ntile
# bucketing, and URL host/path parsing (regexp) — standard operators a
# switching user expects alongside the SURVEY set.


def _q_quantiles(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    TEXT,
    "quantiles",
    _q_quantiles,
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)


def _q_ntile_buckets(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("bucket", F.ntile(4).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


register(
    TEXT,
    "ntile_buckets",
    _q_ntile_buckets,
    """
    SELECT bucket, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
    FROM (
        SELECT c_acctbal,
               CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INTEGER)
                   AS bucket
        FROM customer
    ) GROUP BY bucket
    """,
)


def _q_url_parse(spark, sf_dir):
    from .pipelines.assign_tiles import web_pages_from_documents

    pages = web_pages_from_documents(spark, sf_dir)
    return pages.select(
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1).alias("path"),
        F.regexp_extract("url", r"^(https?)://", 1).alias("scheme"),
    )


def _url_parse_sql() -> str:
    from .oracles import URL_SQL

    return f"""
    WITH pages AS (SELECT {URL_SQL} AS url FROM documents)
    SELECT url,
           regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https?://[^/]+(/.*)$', 1) AS path,
           regexp_extract(url, '^(https?)://', 1) AS scheme
    FROM pages
    """


register(TEXT, "url_parse", _q_url_parse, _url_parse_sql())


# --------------------------------------------------------------------------
# Set operations (INTERSECT / EXCEPT — absent from the reference, part
# of the standard relational surface) and string edit distance.


def _q_intersect_keys(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .select(F.col("c_custkey").alias("k"))
    )
    return o.intersect(c)


register(
    TEXT,
    "intersect_keys",
    _q_intersect_keys,
    """
    SELECT o_custkey AS k FROM orders
    INTERSECT
    SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0.0
    """,
)


def _q_except_keys(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.subtract(o)  # set EXCEPT (dedups), matching SQL EXCEPT


register(
    TEXT,
    "except_keys",
    _q_except_keys,
    """
    SELECT c_custkey AS k FROM customer
    EXCEPT
    SELECT o_custkey AS k FROM orders
    """,
)


def _q_edit_distance(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    probe = "the quick brown"
    return d.select(
        "doc_id",
        F.levenshtein(F.substring("text", 1, 16), F.lit(probe)).cast("long").alias(
            "dist"
        ),
    )


register(
    TEXT,
    "edit_distance",
    _q_edit_distance,
    """
    SELECT doc_id,
           CAST(levenshtein(substr(text, 1, 16), 'the quick brown') AS BIGINT) AS dist
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# P4: the reference's path-pattern row filter (keep '/branches/', drop
# '_pixels_', load.py:80) over an oracle-reproducible synthetic manifest.


def _q_path_filter(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    seg = F.when(F.col("l_linenumber") % 3 == 0, F.lit("/branches/")).otherwise(
        F.lit("/other/")
    )
    stem = F.when(F.col("l_partkey") % 5 == 0, F.lit("gw_pixels_cat")).otherwise(
        F.lit("gw_catchments")
    )
    files = li.select(
        F.concat(
            F.lit("s3://fix/huc"), F.col("l_orderkey").cast("string"), seg,
            F.lit("b"), F.col("l_suppkey").cast("string"), F.lit("/"),
            stem, F.lit(".gpkg"),
        ).alias("file")
    )
    return files.filter(
        F.col("file").contains("/branches/") & ~F.col("file").contains("_pixels_")
    )


register(
    TEXT,
    "path_filter",
    _q_path_filter,
    """
    WITH files AS (
        SELECT concat('s3://fix/huc', CAST(l_orderkey AS VARCHAR),
                      CASE WHEN l_linenumber % 3 = 0 THEN '/branches/' ELSE '/other/' END,
                      'b', CAST(l_suppkey AS VARCHAR), '/',
                      CASE WHEN l_partkey % 5 = 0 THEN 'gw_pixels_cat'
                           ELSE 'gw_catchments' END,
                      '.gpkg') AS file
        FROM lineitem
    )
    SELECT file FROM files
    WHERE contains(file, '/branches/') AND NOT contains(file, '_pixels_')
    """,
)


# --------------------------------------------------------------------------
# BPE-ish regex token counting (round-brief text-analysis item): letter
# runs / digit runs / single non-space symbols. Both engines extract
# with the same pattern; counts compare exactly.

_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _q_token_count_bpe(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
    )


register(
    TEXT,
    "token_count_bpe",
    _q_token_count_bpe,
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
               AS n_unique
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# Multimodal resize + frame-sample plumbing (round-brief items), fully
# oracled: the deterministic fakes are byte arithmetic over the UTF-8
# html payload, recomputed in SQL.

_HTML_EXPR = "concat('<html><body>', text, '</body></html>')"
_HTML_LEN = f"length({_HTML_EXPR})"


def _q_multimodal_resize(spark, sf_dir):
    from .operators.multimodal import attach_html_binary, resize_image

    d = attach_html_binary(_t(spark, sf_dir, "documents"))
    return resize_image(d, factor=2, fake=True).select(
        "doc_id", "out_w", "out_h",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


def _resize_oracle_sql() -> str:
    seed = int.from_bytes(b"<html><b", "little")
    w, h = (16 + seed % 64) // 2, (16 + (seed >> 8) % 64) // 2
    return f"""
    SELECT doc_id, {w} AS out_w, {h} AS out_h,
           round(CAST(list_sum(list_transform(range(1, {_HTML_LEN} + 1, 2),
                     i -> ascii(substr({_HTML_EXPR}, i, 1)))) AS DOUBLE)
                 / len(range(1, {_HTML_LEN} + 1, 2)), 4) AS mean_intensity
    FROM documents
    """


register(TEXT, "multimodal_resize", _q_multimodal_resize, _resize_oracle_sql())


def _q_multimodal_frames(spark, sf_dir):
    from .operators.multimodal import attach_html_binary, sample_frames

    d = attach_html_binary(_t(spark, sf_dir, "documents"))
    return sample_frames(d, n_frames=4, fake=True)


register(
    TEXT,
    "multimodal_frames",
    _q_multimodal_frames,
    f"""
    SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
           CAST(f * greatest({_HTML_LEN} // 4, 1) AS BIGINT) AS frame_off,
           CAST(CASE WHEN f * greatest({_HTML_LEN} // 4, 1) < {_HTML_LEN}
                THEN ascii(substr({_HTML_EXPR},
                           CAST(f * greatest({_HTML_LEN} // 4, 1) AS INTEGER) + 1, 1))
                ELSE -1 END AS INTEGER) AS frame_byte
    FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f)
    """,
)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (round-brief dedup item): banded LSH
# candidates (every row probes) -> exact cosine -> threshold. Mirrors
# the asymmetric multi-probe candidate relation exactly in SQL.


def _q_cosine_dup_pairs(spark, sf_dir):
    from .operators.ann import candidates, exact_cosine, with_buckets

    emb = _t(spark, sf_dir, "embeddings")
    base = with_buckets(emb)
    cand = candidates(base, F.lit(True)).filter(F.col("qid") < F.col("vec_id"))
    sims = exact_cosine(base, cand, F.lit(True))
    return sims.filter(F.col("cos") >= 0.3).select(
        F.col("qid").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        F.round("cos", 6).alias("sim"),
    )


def _cosine_dup_sql() -> str:
    from .operators.ann import bucket_cols_sql, candidates_sql

    return f"""
    WITH e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), e AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm,
               {", ".join(bucket_cols_sql())}
        FROM e0
    ), cand AS ({candidates_sql("")})
    SELECT cand.qid AS id_a, cand.vec_id AS id_b,
           round(list_sum(list_transform(range(1, len(q.e) + 1),
                 i -> q.e[i] * c.e[i])) / (q.norm * c.norm), 6) AS sim
    FROM cand
    JOIN e q ON q.vec_id = cand.qid
    JOIN e c ON c.vec_id = cand.vec_id
    WHERE cand.qid < cand.vec_id
      AND list_sum(list_transform(range(1, len(q.e) + 1),
              i -> q.e[i] * c.e[i])) / (q.norm * c.norm) >= 0.3
    """


register(TEXT, "cosine_dup_pairs", _q_cosine_dup_pairs, _cosine_dup_sql())


# --------------------------------------------------------------------------
# Custom STATEFUL streaming operator (applyInPandasWithState): per-user
# sessionization whose state crosses real micro-batch boundaries — the
# events are split at their time midpoint into two files and drained
# with maxFilesPerTrigger=1, so the second batch resumes from stored
# state. Final counters must equal the batch lag-window oracle.


def _q_stream_sessionize(spark, sf_dir):
    from .streaming.sessionize import sessionize_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = lo + (hi - lo) / 2
    src = _fresh_dir("stream_sess_")
    ev.filter(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(f"{src}/p1")
    ev.filter(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(f"{src}/p2")
    os.utime(f"{src}/p2")  # ensure p2 lists as the later file
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    sess = sessionize_stream(stream, gap_s=1800.0)
    name = f"stream_sessionize_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update-mode memory sink keeps one row per (user, micro-batch);
    # counters are monotone, so the max is the final state
    return spark.table(name).groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"),
    )


def _sessionize_oracle() -> str:
    # the SAME SQL verifies the batch sessionizer and this stateful
    # streaming twin — stream-equals-batch by construction
    from .entry_queries_ext import SESSIONIZE_ORACLE_SQL

    return SESSIONIZE_ORACLE_SQL


register(TEXT, "stream_sessionize", _q_stream_sessionize, _sessionize_oracle())


# --------------------------------------------------------------------------
# §2.11: salted repartition is assignment-invariant — the full salting
# path (hot-cell sketch + salted explicit shuffle) feeds the histogram,
# which must equal the unsalted oracle exactly.


# --------------------------------------------------------------------------
# IVF-style ANN (the brief's "IVF variant as the scale path"): REAL
# k-means coarse quantizer (deterministic init + 2 quantized Lloyd
# rounds, VERDICT r2 item 7) + n_probe probing + exact re-rank; full
# oracle generated by ann.ivf_oracle_sql (one CTE chain per round).

_IVF_K, _IVF_PROBE, _IVF_CENTS, _IVF_ROUNDS = 3, 2, 16, 2


def _q_ann_ivf_topk(spark, sf_dir):
    from .operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, F.col("vec_id") < 5, k=_IVF_K,
        n_centroids=_IVF_CENTS, n_probe=_IVF_PROBE, rounds=_IVF_ROUNDS,
    )


from .operators.ann import ivf_oracle_sql as _ivf_oracle_sql  # noqa: E402

register(
    TEXT,
    "ann_ivf_topk",
    _q_ann_ivf_topk,
    _ivf_oracle_sql(
        "vec_id < 5", k=_IVF_K, n_centroids=_IVF_CENTS,
        n_probe=_IVF_PROBE, rounds=_IVF_ROUNDS, dim=64,
    ),
)


# --------------------------------------------------------------------------
# frame-spec rolling window + ROLLUP grouping (operator-breadth rows the
# reference never needed; standard analytics surface a switching user
# expects). The rolling avg rounds to 4dp: Spark computes ROWS-frame
# averages retractably (incremental add/remove) while DuckDB uses
# segment trees — different summation orders, equal well inside 4dp.


def _q_rolling_avg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 4).alias("roll_avg"),
    )


register(
    TEXT,
    "rolling_avg",
    _q_rolling_avg,
    """
    SELECT event_id, user_id,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS roll_avg
    FROM events
    """,
)


def _q_rollup_counts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


register(
    TEXT,
    "rollup_counts",
    _q_rollup_counts,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)


def _q_salted_histogram(spark, sf_dir):
    from .operators.skew import detect_hot_cells, salted_repartition
    from .pipelines.assign_tiles import assignments

    asg = assignments(spark, sf_dir)
    hot = detect_hot_cells(asg, "cell_id", quantile=0.95)
    salted = salted_repartition(
        asg, 16, cell_col="cell_id", salt_key="url", salt_buckets=4,
        hot_cells=hot or None,
    )
    return salted.groupBy("tile_id", "method").agg(
        F.count(F.lit(1)).alias("n_pages")
    )


def _salted_histogram_sql() -> str:
    from .oracles import assign_cte

    return f"""
    {assign_cte()}
    SELECT tile_id, method, count(*) AS n_pages
    FROM asg GROUP BY tile_id, method
    """


register(GEO, "salted_histogram", _q_salted_histogram, _salted_histogram_sql())


# --------------------------------------------------------------------------
# §2.10 late data: watermark DROP semantics as an oracled driver query
# (VERDICT r2 item 9 — promoted from tests/test_skew_streaming.py). The
# 5 globally-oldest events are staged as a SECOND micro-batch; after
# batch 0 the watermark stands at max(ts) - 1h, so their hour windows
# are long finalized and the late arrivals must be dropped. Append mode
# emits exactly the finalized windows (end <= final watermark), which
# the batch oracle reproduces arithmetically from the on-time rows.

_N_LATE = 5


def _q_stream_late_drop(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    late = ev.orderBy("ts", "event_id").limit(_N_LATE)
    ontime = ev.join(late.select("event_id"), "event_id", "left_anti")
    # batch 1 is a small on-time "grace" batch: Spark applies the
    # advanced watermark to input filtering one batch AFTER it is
    # computed, so the late file must be the THIRD batch (same staging
    # as tests/test_skew_streaming.py::test_watermark_drops_late_data)
    fresh = ontime.orderBy(F.col("ts").desc(), "event_id").limit(3)
    mid = ontime.join(fresh.select("event_id"), "event_id", "left_anti")
    src = _fresh_dir("stream_late_")
    mid.coalesce(1).write.parquet(f"{src}/p1")
    fresh.coalesce(1).write.parquet(f"{src}/p2")
    late.coalesce(1).write.parquet(f"{src}/p3")
    # the file source orders batches by modification time: p1 < p2 < p3
    now = time.time()
    for i, p in enumerate(("p1", "p2", "p3")):
        ts = now - 300 + i * 60
        for root, _dirs, files in os.walk(f"{src}/{p}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (ts, ts))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    # watermarks need TIMESTAMP (not NTZ); session tz is pinned UTC so
    # the cast preserves wall-clock time and the date_format strings
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    name = f"stream_late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # append emits only FINALIZED windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("wstart"),
        "n_events",
        "sum_value",
    )


register(
    TEXT,
    "stream_late_drop",
    _q_stream_late_drop,
    f"""
    WITH late AS (
        SELECT event_id FROM events ORDER BY ts, event_id LIMIT {_N_LATE}
    ), ontime AS (
        SELECT * FROM events
        WHERE event_id NOT IN (SELECT event_id FROM late)
    ), mx AS (SELECT max(ts) AS m FROM events),
    win AS (
        SELECT date_trunc('hour', ts) AS ws,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM ontime GROUP BY 1
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS wstart, n_events, sum_value
    FROM win, mx
    WHERE ws + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR
    """,
)


# --------------------------------------------------------------------------
# Grouping breadth beyond ROLLUP: full CUBE over (status, priority) and
# a fixed-column PIVOT (per-user event-type counts). Standard analytics
# surface a switching user expects alongside rollup_counts.


def _q_cube_counts(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


register(
    TEXT,
    "cube_counts",
    _q_cube_counts,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _q_pivot_user_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a (user, type) never occurred; a count
    # surface reads better as 0 (and both sides agree on it)
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )


_pivot_cols = ",\n           ".join(
    f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
    for t in _EVENT_TYPES
)
register(
    TEXT,
    "pivot_user_events",
    _q_pivot_user_events,
    f"""
    SELECT user_id,
           {_pivot_cols}
    FROM events GROUP BY user_id
    """,
)


# --------------------------------------------------------------------------
# §2.10 + D-ops: streaming foreachBatch -> icelite with exactly-once
# appends. The documents-derived pages drain in two micro-batches into
# an icelite table (one snapshot per batch), then the WHOLE stream is
# replayed with a fresh checkpoint — every batch is re-offered and
# skipped by the batch-id fingerprint guard. The oracle is the plain
# batch aggregate: counts survive the replay unchanged.


def _q_stream_icelite_ingest(spark, sf_dir):
    from .pipelines.assign_tiles import web_pages_from_documents
    from .streaming.ingest import write_assignments_icelite
    from .operators import encode as E
    from .tables.icelite import IceliteTable

    pages = web_pages_from_documents(spark, sf_dir).select("url", "doc_id")
    src = _fresh_dir("stream_ice_src_")
    pages.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/f1")
    pages.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/f2")
    schema = spark.read.parquet(f"{src}/f1").schema
    root = _fresh_dir("stream_ice_tbl_")
    table = IceliteTable(root, "stream_asg")

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        df = E.with_cells(E.with_geotag(stream), resolutions=(E.PARTITION_RES,))
        q = write_assignments_icelite(df, table, _fresh_dir(f"stream_ice_{ckpt}_"))
        q.awaitTermination()

    drain("ck1")
    drain("ck2")  # full replay: all batches re-offered, all skipped
    out = table.read(spark)
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("cell_id").alias("n_cells"),
    ).withColumn("n_snapshots", F.lit(len(table.snapshots())).cast("long"))


def _stream_icelite_sql() -> str:
    from .operators.encode import PARTITION_RES
    from .oracles import pts_cte

    cell = h3lite.encode_sql("lat", "lon", PARTITION_RES)
    return f"""
    WITH pts AS ({pts_cte()})
    SELECT count(*) AS n_rows,
           count(DISTINCT {cell}) AS n_cells,
           CAST(2 AS BIGINT) AS n_snapshots
    FROM pts
    """


register(TEXT, "stream_icelite_ingest", _q_stream_icelite_ingest, _stream_icelite_sql())


# --------------------------------------------------------------------------
# REAL multimodal decode (round-3: functions/codecs.py implements PNG —
# zlib + chunk framing + all five scanline filters — WAV/RIFF PCM16,
# and a concatenated-PNG frame container from their public specs; the
# round-2 "no codec in this environment" stubs remain only for formats
# that truly need external codecs). Each query SYNTHESIZES payloads
# from a closed-form pixel/sample rule inside a pandas UDF, runs the
# real decoder, and the DuckDB oracle recomputes the decoded statistics
# from the same arithmetic rule — a full end-to-end verification that
# the bytes really round-trip through zlib/CRC/unfiltering.

_PNG_RULE = "pixel(y, x) = (x + 2*y + doc_id) % 256, w = 8 + doc_id % 8, h = 8 + (doc_id * 3) % 8"


def _png_payloads(df, with_seq: bool = False, n_frames: int = 3):
    """(doc_id, payload): deterministic gray PNGs (or PNG sequences)."""
    import pandas as _pd

    from .functions import codecs as C

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if with_seq:
                    frames = []
                    for f in range(n_frames):
                        w = 8 + (did + f) % 8
                        h = 8 + ((did + f) * 3) % 8
                        x = np.arange(w)[None, :]
                        y = np.arange(h)[:, None]
                        frames.append(((x + 2 * y + did + 97 * f) % 256).astype(np.uint8))
                    rows.append((did, C.png_seq_encode(frames)))
                else:
                    w = 8 + did % 8
                    h = 8 + (did * 3) % 8
                    x = np.arange(w)[None, :]
                    y = np.arange(h)[:, None]
                    img = ((x + 2 * y + did) % 256).astype(np.uint8)
                    rows.append((did, C.png_encode(img)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    return df.select("doc_id").mapInPandas(
        gen, schema="doc_id long, payload binary"
    )


def _q_png_decode_stats(spark, sf_dir):
    from .operators.multimodal import decode_image

    d = _t(spark, sf_dir, "documents")
    out = decode_image(_png_payloads(d), binary_col="payload", fake=False)
    return out.select("doc_id", "width", "height", "mean_intensity")


register(
    TEXT,
    "png_decode_stats",
    _q_png_decode_stats,
    """
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 8 AS w,
               8 + (doc_id * 3) % 8 AS h
        FROM documents
    ), px AS (
        SELECT d.doc_id, d.w, d.h,
               (t1.x + 2 * t2.y + d.doc_id) % 256 AS v
        FROM dims d, range(0, 16) t1(x), range(0, 16) t2(y)
        WHERE t1.x < d.w AND t2.y < d.h
    )
    SELECT doc_id,
           CAST(max(w) AS INTEGER) AS width,
           CAST(max(h) AS INTEGER) AS height,
           CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_intensity
    FROM px GROUP BY doc_id
    """,
)


def _q_png_resize_stats(spark, sf_dir):
    from .operators.multimodal import resize_image

    d = _t(spark, sf_dir, "documents")
    return resize_image(_png_payloads(d), binary_col="payload", factor=2, fake=False)


register(
    TEXT,
    "png_resize_stats",
    _q_png_resize_stats,
    """
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 8 AS w,
               8 + (doc_id * 3) % 8 AS h
        FROM documents
    ), px AS (
        -- nearest-neighbor source index: src = (out_idx * in) // out
        SELECT d.doc_id, d.w // 2 AS ow, d.h // 2 AS oh,
               ((t1.x * d.w) // (d.w // 2)
                + 2 * ((t2.y * d.h) // (d.h // 2))
                + d.doc_id) % 256 AS v
        FROM dims d, range(0, 8) t1(x), range(0, 8) t2(y)
        WHERE t1.x < d.w // 2 AND t2.y < d.h // 2
    )
    SELECT doc_id,
           CAST(max(ow) AS INTEGER) AS out_w,
           CAST(max(oh) AS INTEGER) AS out_h,
           CAST(sum(v) AS DOUBLE) / (max(ow) * max(oh)) AS mean_intensity
    FROM px GROUP BY doc_id
    """,
)


def _q_png_frames_stats(spark, sf_dir):
    from .operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    return sample_frames(
        _png_payloads(d, with_seq=True, n_frames=3),
        binary_col="payload",
        n_frames=3,
        fake=False,
    )


register(
    TEXT,
    "png_frames_stats",
    _q_png_frames_stats,
    """
    WITH dims AS (
        SELECT d.doc_id, f.f AS frame_idx,
               8 + (d.doc_id + f.f) % 8 AS w,
               8 + ((d.doc_id + f.f) * 3) % 8 AS h
        FROM documents d, range(0, 3) f(f)
    ), px AS (
        SELECT doc_id, frame_idx, w, h,
               (t1.x + 2 * t2.y + doc_id + 97 * frame_idx) % 256 AS v
        FROM dims, range(0, 16) t1(x), range(0, 16) t2(y)
        WHERE t1.x < w AND t2.y < h
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(max(w) AS INTEGER) AS width,
           CAST(max(h) AS INTEGER) AS height,
           CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_intensity
    FROM px GROUP BY doc_id, frame_idx
    """,
)


_WAV_N, _WAV_RATE = 256, 16000


def _q_wav_decode_stats(spark, sf_dir):
    import pandas as _pd

    from .functions import codecs as C

    d = _t(spark, sf_dir, "documents")

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                t = np.arange(_WAV_N, dtype=np.int64)
                samples = ((did * 31 + t * 17) % 65536 - 32768).astype(np.int16)
                rows.append((did, C.wav_encode(samples, _WAV_RATE, 1)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")

    def dec(batches):
        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["payload"]):
                s, rate, _ch = C.wav_decode(bytes(blob))
                rows.append(
                    (
                        int(did),
                        int(len(s)),
                        int(rate),
                        float(int(s.sum(dtype=np.int64))) / len(s),
                    )
                )
            yield _pd.DataFrame(
                rows, columns=["doc_id", "n_samples", "rate", "mean_amp"]
            )

    return payloads.mapInPandas(
        dec, schema="doc_id long, n_samples long, rate long, mean_amp double"
    )


register(
    TEXT,
    "wav_decode_stats",
    _q_wav_decode_stats,
    f"""
    SELECT d.doc_id,
           CAST({_WAV_N} AS BIGINT) AS n_samples,
           CAST({_WAV_RATE} AS BIGINT) AS rate,
           CAST(sum((d.doc_id * 31 + t.t * 17) % 65536 - 32768) AS DOUBLE)
             / {_WAV_N} AS mean_amp
    FROM documents d, range(0, {_WAV_N}) t(t)
    GROUP BY d.doc_id
    """,
)


# --------------------------------------------------------------------------
# REAL baseline-JPEG decode: payloads are genuine JFIF streams emitted
# by the from-scratch encoder (canonical Huffman tables + quant table
# EMBEDDED in DHT/DQT — JPEG is self-describing, so unlike spec-H3 no
# unverifiable external constants exist) and decoded by the full marker
# /entropy/IDCT pipeline. The image is piecewise-constant per 8x8 block
# (DC-only spectra) with EVEN pixel values, so with q00 = 16 the DC
# quantization is exact (DCq = (v-128)/2, an integer — no half-integer
# rounding boundary for float noise to flip) and every block
# reconstructs to exactly v: the oracle simply recomputes the pixel
# rule. DC DPCM, Huffman category coding and byte stuffing are all
# exercised for real (block values differ block to block).


def _q_jpeg_decode_stats(spark, sf_dir):
    import pandas as _pd

    from .functions import codecs as C
    from .operators.multimodal import decode_image

    d = _t(spark, sf_dir, "documents")

    def gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nbx = 1 + did % 3
                nby = 1 + (did // 3) % 3
                bx = np.arange(nbx)[None, :]
                by = np.arange(nby)[:, None]
                vals = (2 * ((bx + 3 * by + did) % 128)).astype(np.uint8)
                img = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
                rows.append((did, C.jpeg_encode(img)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")
    out = decode_image(payloads, binary_col="payload", fake=False)
    return out.select("doc_id", "width", "height", "mean_intensity")


register(
    TEXT,
    "jpeg_decode_stats",
    _q_jpeg_decode_stats,
    """
    WITH dims AS (
        SELECT doc_id,
               1 + doc_id % 3 AS nbx,
               1 + (doc_id // 3) % 3 AS nby
        FROM documents
    ), blk AS (
        SELECT d.doc_id, d.nbx, d.nby,
               2 * ((t1.bx + 3 * t2.by + d.doc_id) % 128) AS rec
        FROM dims d, range(0, 3) t1(bx), range(0, 3) t2(by)
        WHERE t1.bx < d.nbx AND t2.by < d.nby
    )
    SELECT doc_id,
           CAST(max(nbx) * 8 AS INTEGER) AS width,
           CAST(max(nby) * 8 AS INTEGER) AS height,
           CAST(sum(rec) * 64 AS DOUBLE) / (max(nbx) * 8 * max(nby) * 8)
             AS mean_intensity
    FROM blk GROUP BY doc_id
    """,
)


# --------------------------------------------------------------------------
# Date/time function surface (SURVEY §2.7 noted the reference has none;
# the rebuild's warc_ts column makes these table stakes): truncation,
# component extraction, day-of-week, date arithmetic — grouped rollup
# with every value oracled.


def _q_datetime_functions(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            F.dayofweek("ts").alias("dow"),  # 1 = Sunday
            F.hour("ts").alias("hh"),
            F.datediff(F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")).alias(
                "days_since_start"
            ),
            F.date_format(F.col("ts") + F.expr("INTERVAL 36 HOURS"), "yyyy-MM-dd HH").alias(
                "ts_plus_36h"
            ),
            "value",
        )
        .groupBy("week", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("hh").cast("long").alias("first_hour"),
            F.max("days_since_start").cast("long").alias("max_day"),
            F.max("ts_plus_36h").alias("latest_shifted"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


register(
    TEXT,
    "datetime_functions",
    _q_datetime_functions,
    """
    WITH e AS (
        SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
               dayofweek(ts) + 1 AS dow,  -- DuckDB: 0=Sunday; Spark: 1=Sunday
               hour(ts) AS hh,
               datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                 AS days_since_start,
               strftime(ts + INTERVAL 36 HOUR, '%Y-%m-%d %H') AS ts_plus_36h,
               value
        FROM events
    )
    SELECT week, CAST(dow AS INTEGER) AS dow,
           count(*) AS n,
           CAST(min(hh) AS BIGINT) AS first_hour,
           CAST(max(days_since_start) AS BIGINT) AS max_day,
           max(ts_plus_36h) AS latest_shifted,
           round(sum(value), 4) AS sum_value
    FROM e GROUP BY week, dow
    """,
)


# --------------------------------------------------------------------------
# JSON function surface: the events table's ``props`` column is a JSON
# string; extract typed values (get_json_object / json path), derive a
# schema'd struct (from_json), and aggregate — all value-oracled
# against DuckDB's JSON functions.


def _q_json_extract(spark, sf_dir):
    from pyspark.sql.types import StructType as _St

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    parsed = ev.select(
        "event_type",
        k.alias("k"),
        F.from_json("props", "k long").getField("k").alias("k2"),
    )
    return (
        parsed.filter(F.col("k") == F.col("k2"))  # both parse paths agree
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.count_distinct("k").alias("n_distinct_k"),
        )
    )


register(
    TEXT,
    "json_extract",
    _q_json_extract,
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS max_k,
           count(DISTINCT CAST(props ->> 'k' AS BIGINT)) AS n_distinct_k
    FROM events GROUP BY event_type
    """,
)
