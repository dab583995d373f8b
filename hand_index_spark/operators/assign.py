"""Tile assignment: broadcast packed-index PIP + kNN-to-nearest-tile.

The engine's semantic core — the Spark-native restatement of the
reference's coarse-then-exact spatial join (query_geojson.py:65-72
``ST_Intersects`` join + :158-248 exact refinement), turned from
polygon-vs-ROI into point-vs-tile at web scale (BASELINE.json:6):

1. the tile polygon dimension is packed into flat NumPy arrays
   (geo.strtree.PackedPolygonIndex) and **broadcast** once;
2. points stream through a *scalar* Arrow-vectorized pandas UDF that
   reads ONLY (lat, lon) and returns a (tile_id, method, dist2) struct —
   every other column (html/text at web scale!) stays JVM-side, never
   crossing the Python boundary;
3. candidate tiles come from O(1) grid-bucket probes; refinement is a
   vectorized half-plane (convex) or ray-cast (general) PIP — no
   per-row Python anywhere;
4. points inside no tile fall back to **kNN**: for the regular tile
   grid, exact nearest-centroid over the 7x7 cell neighborhood (O(1)
   per point — the shape that scales to millions of tiles); generic
   dimensions use a BLAS-shortlisted top-K re-ranked with the exact
   oracle expression. Both paths produce the bit-exact oracle distance
   and its ``ORDER BY dist2, tile_id`` tie-break (verified against full
   brute force in tests/test_spark_ops.py).

Output columns: ``tile_id`` (long, never null), ``method`` ("pip"|"knn"),
``dist2`` (squared centroid distance in deg² for knn rows, -1.0 for pip
rows — sentinel instead of NULL so the DuckDB oracle compares exactly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..geo.strtree import PackedPolygonIndex
from ..tables import tilegrid as tg

_KNN_CHUNK = 8192  # points per distance block (cache/memory bound)
# Cache-blocking for the Arrow batch kernels (r6): a full 262144-row
# batch streams ~MB-sized temporaries through every vector op, evicting
# L2 between passes; 32k-point blocks keep the working set resident.
# Measured +32% single-thread on assign_batch and +36% on the fused
# assign+s2 path, bit-identical output (chunking changes no per-row
# arithmetic). Smaller blocks start paying per-call overhead (8k: -9%).
_BATCH_CHUNK = 32768
_KNN_TOPK = 8
_GRID_RING = 3  # 7x7 neighborhood; nearest live centroid provably inside
                # for this grid's gap density (<=2 dead tiles per row)


def build_tile_index(grid_res: int | None = None) -> PackedPolygonIndex:
    """Packed index over the deterministic tile grid (driver-side),
    annotated with the regular-grid lookup + packed corner arrays."""
    ids, rings = tg.tile_ids_and_rings()
    idx = PackedPolygonIndex(ids, rings, grid_res=grid_res)
    lookup = np.full((tg.NR, tg.NC), -1, dtype=np.int32)
    for pos, tid in enumerate(ids):
        lookup[tid // tg.NC, tid % tg.NC] = pos
    idx.grid_lookup = lookup  # regular-grid annotation (engine-specific)
    # packed (T, 4, 2) corner array for the single-candidate fast path
    idx.quad_corners = np.stack([np.asarray(r, dtype=np.float64) for r in rings])
    # per-edge corner components + edge vectors as contiguous (T,)
    # arrays (r6): the half-plane test needs (x1, y1, x2-x1, y2-y1) per
    # edge; precomputing the differences from the same float64 corner
    # values keeps the test bit-identical while replacing the (N,4,2)
    # strided gather + per-point subtractions with 4 contiguous gathers
    # per edge.
    q = idx.quad_corners
    idx.edge_x1 = [np.ascontiguousarray(q[:, k, 0]) for k in range(4)]
    idx.edge_y1 = [np.ascontiguousarray(q[:, k, 1]) for k in range(4)]
    idx.edge_dx = [
        np.ascontiguousarray(q[:, (k + 1) % 4, 0] - q[:, k, 0]) for k in range(4)
    ]
    idx.edge_dy = [
        np.ascontiguousarray(q[:, (k + 1) % 4, 1] - q[:, k, 1]) for k in range(4)
    ]
    idx.knn_shortlist = _build_knn_shortlist(lookup, idx.vmean)
    return idx


def _build_knn_shortlist(lookup: np.ndarray, vmean: np.ndarray) -> np.ndarray:
    """Per-cell kNN candidate shortlist (r6, measured 7.4x on the kNN
    stage): for every grid cell, the subset of its 7x7-ring live tiles
    that can be the nearest centroid for SOME point inside the cell's
    rectangle. A ring tile t is dropped only when its closest possible
    distance to the cell box strictly exceeds (with a 1e-9 relative
    safety margin, >> fp rounding of the bounds) the smallest worst-case
    distance of any other candidate — so every achievable argmin AND
    every achievable tie survives, keeping the scan bit-identical to the
    full 49-candidate pass (fuzz-pinned in tests/test_spark_ops.py).
    Rows are ascending tile positions, -1 padded (max 14, mean ~7 on
    this grid vs 49 scanned before). Valid only for points inside their
    clipped cell's rectangle — callers route out-of-extent points to the
    unpruned ring scan."""
    nr, nc = lookup.shape
    cx, cy = vmean[:, 0], vmean[:, 1]
    shortlists: list[list[int]] = []
    for r in range(nr):
        for c in range(nc):
            x0, x1 = tg.LON_MIN + c * tg.W, tg.LON_MIN + (c + 1) * tg.W
            y0, y1 = tg.LAT_MIN + r * tg.H, tg.LAT_MIN + (r + 1) * tg.H
            cands = sorted(
                {
                    int(lookup[min(max(r + dr, 0), nr - 1),
                               min(max(c + dc, 0), nc - 1)])
                    for dr in range(-_GRID_RING, _GRID_RING + 1)
                    for dc in range(-_GRID_RING, _GRID_RING + 1)
                    if lookup[min(max(r + dr, 0), nr - 1),
                              min(max(c + dc, 0), nc - 1)] >= 0
                }
            )
            if not cands:
                shortlists.append([])
                continue
            dmin2, dmax2 = [], []
            for p in cands:
                dx_min = max(0.0, x0 - cx[p], cx[p] - x1)
                dy_min = max(0.0, y0 - cy[p], cy[p] - y1)
                dx_max = max(cx[p] - x0, x1 - cx[p])
                dy_max = max(cy[p] - y0, y1 - cy[p])
                dmin2.append(dx_min * dx_min + dy_min * dy_min)
                dmax2.append(dx_max * dx_max + dy_max * dy_max)
            best_dmax = min(dmax2)
            shortlists.append(
                [p for p, d in zip(cands, dmin2) if d <= best_dmax * (1 + 1e-9)]
            )
    kmax = max((len(s) for s in shortlists), default=1)
    out = np.full((nr * nc, max(kmax, 1)), -1, dtype=np.int32)
    for i, s in enumerate(shortlists):
        out[i, : len(s)] = s
    return out


# ------------------------------------------------------------------ kNN


def _knn_grid(
    index, lat: np.ndarray, lon: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Exact nearest centroid via the 7x7 grid neighborhood.

    Candidates are generated in ascending tile_id order, so np.argmin's
    first-minimum == the oracle's ``ORDER BY dist2, tile_id``. Rows whose
    whole neighborhood is dead (impossible for in-extent points, guarded
    anyway) fall back to the generic path.
    """
    lookup = index.grid_lookup
    cx, cy = index.vmean[:, 0], index.vmean[:, 1]
    rc = np.clip(((lat - tg.LAT_MIN) / tg.H).astype(np.int64), 0, tg.NR - 1)
    cc = np.clip(((lon - tg.LON_MIN) / tg.W).astype(np.int64), 0, tg.NC - 1)
    sl = getattr(index, "knn_shortlist", None)
    if sl is not None:
        # the shortlist's domination proof needs the point inside its
        # clipped cell's rectangle; out-of-extent points take the
        # unpruned ring scan below (bit-equal either way)
        in_ext = (
            (lat >= tg.LAT_MIN) & (lat <= tg.LAT_MAX)
            & (lon >= tg.LON_MIN) & (lon <= tg.LON_MAX)
        )
        if in_ext.all():
            pos = sl[rc * tg.NC + cc]  # (N, Kmax) ascending tile order
            alive = pos >= 0
            safe = np.where(alive, pos, 0)
            dx = lon[:, None] - cx[safe]
            dy = lat[:, None] - cy[safe]
            dist = dx * dx + dy * dy  # exact oracle expression
            dist[~alive] = np.inf
            j = np.argmin(dist, axis=1)
            rows = np.arange(len(lat))
            best = pos[rows, j].astype(np.int64)
            d2 = dist[rows, j]
            bad = best < 0
            if bad.any():  # shortlist row empty — generic fallback
                p, d = _knn_topk(lat[bad], lon[bad], cx, cy)
                best[bad] = p
                d2[bad] = d
            return best, d2
    off = np.arange(-_GRID_RING, _GRID_RING + 1, dtype=np.int64)
    # (N, 7) row/col candidates, clipped (duplicates are harmless)
    rr = np.clip(rc[:, None] + off[None, :], 0, tg.NR - 1)
    ccand = np.clip(cc[:, None] + off[None, :], 0, tg.NC - 1)
    # (N, 49) positions in row-major (ascending tile_id) order
    pos = lookup[rr[:, :, None], ccand[:, None, :]].reshape(len(lat), -1)
    alive = pos >= 0
    safe = np.where(alive, pos, 0)
    dx = lon[:, None] - cx[safe]
    dy = lat[:, None] - cy[safe]
    dist = dx * dx + dy * dy  # exact oracle expression
    dist[~alive] = np.inf
    j = np.argmin(dist, axis=1)
    rows = np.arange(len(lat))
    best = pos[rows, j].astype(np.int64)
    d2 = dist[rows, j]
    bad = best < 0
    if bad.any():  # neighborhood fully dead — generic fallback
        p, d = _knn_topk(lat[bad], lon[bad], cx, cy)
        best[bad] = p
        d2[bad] = d
    return best, d2


def _knn_topk(
    lat: np.ndarray, lon: np.ndarray, cx: np.ndarray, cy: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Generic dimension: BLAS shortlist (algebraic -2 p·c + |c|²), then
    exact re-rank of the tile_id-sorted top-K with the oracle expression."""
    t = len(cx)
    k = min(_KNN_TOPK, t)
    c2 = cx * cx + cy * cy  # shortlist scoring only, never output
    C = np.column_stack([cx, cy])
    pos = np.empty(len(lat), dtype=np.int64)
    d2 = np.empty(len(lat), dtype=np.float64)
    for s in range(0, len(lat), _KNN_CHUNK):
        e = min(s + _KNN_CHUNK, len(lat))
        P = np.column_stack([lon[s:e], lat[s:e]])
        score = P @ (C.T * -2.0)
        score += c2[None, :]
        if k < t:
            cand = np.argpartition(score, k - 1, axis=1)[:, :k]
        else:
            cand = np.broadcast_to(np.arange(t), (e - s, t))
        cand = np.sort(cand, axis=1)  # ascending tile order -> tie-break
        dx = lon[s:e, None] - cx[cand]
        dy = lat[s:e, None] - cy[cand]
        dist = dx * dx + dy * dy  # exact oracle expression
        j = np.argmin(dist, axis=1)
        rows = np.arange(e - s)
        pos[s:e] = cand[rows, j]
        d2[s:e] = dist[rows, j]
    return pos, d2


# ----------------------------------------------------------------- core


def _assign_grid_pip(index, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Single-candidate exact PIP for the regular inward-jittered grid.

    Tiles are subsets of their grid rects and rects are disjoint, so a
    point can only be inside the tile of its own cell — one lookup + one
    half-plane quad test per point, ~10x less memory traffic than the
    generic candidate machinery (verified equal in
    tests/test_spark_ops.py::test_grid_fast_path_matches_generic).
    Returns poly positions (-1 = no hit).
    """
    rc = np.clip(((lat - tg.LAT_MIN) / tg.H).astype(np.int64), 0, tg.NR - 1)
    cc = np.clip(((lon - tg.LON_MIN) / tg.W).astype(np.int64), 0, tg.NC - 1)
    pos = index.grid_lookup[rc, cc].astype(np.int64)
    safe = np.where(pos >= 0, pos, 0)
    inside = pos >= 0
    ex1, ey1 = getattr(index, "edge_x1", None), getattr(index, "edge_y1", None)
    if ex1 is not None:
        # precomputed per-tile edge vectors (build_tile_index): the
        # differences were taken from the identical float64 corners, so
        # the half-plane sign is bit-identical to the corner form below
        edx, edy = index.edge_dx, index.edge_dy
        for k in range(4):
            inside &= (
                edx[k][safe] * (lat - ey1[k][safe])
                - edy[k][safe] * (lon - ex1[k][safe])
                >= 0.0
            )
        return np.where(inside, pos, np.int64(-1))
    q = index.quad_corners[safe]  # (N, 4, 2)
    for k in range(4):
        x1, y1 = q[:, k, 0], q[:, k, 1]
        x2, y2 = q[:, (k + 1) % 4, 0], q[:, (k + 1) % 4, 1]
        # exact oracle expression (tables/tilegrid determinism contract)
        inside &= (x2 - x1) * (lat - y1) - (y2 - y1) * (lon - x1) >= 0.0
    return np.where(inside, pos, np.int64(-1))


def assign_batch(
    index: PackedPolygonIndex,
    lat: np.ndarray,
    lon: np.ndarray,
    pip: str = "convex",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pure-NumPy core: (tile_id, method_code 0=pip/1=knn, dist2)."""
    ids_arr = np.asarray(index.ids, dtype=np.int64)
    if pip == "convex" and getattr(index, "grid_lookup", None) is not None:
        assigned = _assign_grid_pip(index, lat, lon)
    else:
        assigned, _ = index.assign_points(lat, lon, pip=pip)
    hit = assigned >= 0
    tile_id = np.where(hit, ids_arr[np.clip(assigned, 0, None)], np.int64(-1))
    mcode = (~hit).astype(np.int8)
    dist2 = np.full(len(lat), -1.0, dtype=np.float64)
    miss = ~hit
    if miss.any():
        if getattr(index, "grid_lookup", None) is not None:
            pos, d2 = _knn_grid(index, lat[miss], lon[miss])
        else:
            pos, d2 = _knn_topk(
                lat[miss], lon[miss], index.vmean[:, 0], index.vmean[:, 1]
            )
        tile_id[miss] = ids_arr[pos]
        dist2[miss] = d2
    return tile_id, mcode, dist2


_ASSIGN_STRUCT = StructType(
    [
        StructField("tile_id", LongType(), False),
        StructField("mcode", ByteType(), False),
        StructField("dist2", DoubleType(), False),
    ]
)
_ASSIGN_S2_STRUCT = StructType(
    _ASSIGN_STRUCT.fields + [StructField("s2_cell", LongType(), False)]
)


def index_nbytes(index: PackedPolygonIndex) -> int:
    """Broadcast payload estimate: total bytes of the index's ndarrays
    (the Python object overhead is negligible beside them)."""
    n = 0
    for v in vars(index).values():
        if isinstance(v, np.ndarray):
            n += v.nbytes
    return n


# Above this, one broadcast copy per executor stops being the right
# plan. Measured on the fixture grid: 338 bytes/tile (97,296 B for 288
# quad tiles — corners + centroids + bbox + grid buckets); real
# catchment polygons carry 10-100x more vertices, so at 10^6-10^7 tiles
# the payload is 0.1-1 GB+, re-sent to every executor: switch to the
# cell-key equi-join (assign_tiles_joined). 64 MB mirrors the
# conventional autoBroadcastJoinThreshold head-room on multi-GB
# executors.
BROADCAST_LIMIT_BYTES = 64 << 20


def assign_tiles(
    df: DataFrame,
    spark: SparkSession,
    index: PackedPolygonIndex | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    pip: str = "convex",
    with_s2: bool = False,
    broadcast_limit_bytes: int = BROADCAST_LIMIT_BYTES,
    key_col: str | None = None,
) -> DataFrame:
    """Append (tile_id, method, dist2 [, s2_cell]) via broadcast + one
    scalar struct UDF.

    Only (lat, lon) cross the Arrow boundary; all other columns —
    arbitrarily wide at web scale — stay in the JVM. ``with_s2=True``
    fuses the S2 encoder into the same UDF: one ArrowEvalPython stage
    instead of two (two stages double the Python worker count per core,
    which oversubscribes the host and measurably *reduces* throughput at
    high core counts — see BENCH/BASELINE.md).

    AUTO-SWITCH (VERDICT r3 item 5): when the packed index exceeds
    ``broadcast_limit_bytes`` the operator delegates to
    :func:`assign_tiles_joined` — a cell-key equi-join against a
    partitioned tile dimension with NO broadcast anywhere — because a
    0.1-1 GB+ dimension re-sent to every executor is the wrong plan at
    10^6+ tiles. ``key_col`` names a unique row key (e.g. ``url``) the
    join path can reassemble rows by; without one it synthesizes (and
    materializes) a monotonic id.
    """
    if index is None:
        index = build_tile_index()
    if index_nbytes(index) > broadcast_limit_bytes:
        return assign_tiles_joined(
            df, spark, index, lat_col=lat_col, lon_col=lon_col,
            with_s2=with_s2, key_col=key_col,
        )
    bcast = spark.sparkContext.broadcast(index)

    if with_s2:
        from ..geo import s2lite
        from .encode import S2_LEVEL

        @pandas_udf(_ASSIGN_S2_STRUCT)
        def _assign(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
            la = lat.to_numpy(dtype=np.float64)
            lo = lon.to_numpy(dtype=np.float64)
            n = len(la)
            tile_id = np.empty(n, np.int64)
            mcode = np.empty(n, np.int8)
            dist2 = np.empty(n, np.float64)
            s2 = np.empty(n, np.int64)
            for a in range(0, n, _BATCH_CHUNK):  # cache blocking (above)
                b = min(a + _BATCH_CHUNK, n)
                tile_id[a:b], mcode[a:b], dist2[a:b] = assign_batch(
                    bcast.value, la[a:b], lo[a:b], pip=pip
                )
                s2[a:b] = s2lite.encode(la[a:b], lo[a:b], S2_LEVEL)
            return pd.DataFrame(
                {"tile_id": tile_id, "mcode": mcode, "dist2": dist2, "s2_cell": s2}
            )
    else:

        @pandas_udf(_ASSIGN_STRUCT)
        def _assign(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
            la = lat.to_numpy(dtype=np.float64)
            lo = lon.to_numpy(dtype=np.float64)
            n = len(la)
            tile_id = np.empty(n, np.int64)
            mcode = np.empty(n, np.int8)
            dist2 = np.empty(n, np.float64)
            for a in range(0, n, _BATCH_CHUNK):  # cache blocking (above)
                b = min(a + _BATCH_CHUNK, n)
                tile_id[a:b], mcode[a:b], dist2[a:b] = assign_batch(
                    bcast.value, la[a:b], lo[a:b], pip=pip
                )
            return pd.DataFrame({"tile_id": tile_id, "mcode": mcode, "dist2": dist2})

    out = (
        df.withColumn("__a", _assign(F.col(lat_col), F.col(lon_col)))
        .withColumn("tile_id", F.col("__a.tile_id"))
        .withColumn(
            "method",
            F.when(F.col("__a.mcode") == 0, F.lit("pip")).otherwise(F.lit("knn")),
        )
        .withColumn("dist2", F.col("__a.dist2"))
    )
    if with_s2:
        out = out.withColumn("s2_cell", F.col("__a.s2_cell"))
    return out.drop("__a")


# ----------------------------------------------- large-dimension path


def tile_dim_df(spark: SparkSession, index: PackedPolygonIndex) -> DataFrame:
    """The tile dimension as a DataFrame: one row per live tile with its
    grid cell key, quad corners and kNN centroid. Built driver-side here
    because the fixture grid is small; a production deployment reads
    this from a partitioned table (it IS the `tiles` side of the
    reference's spatial join, query_geojson.py:65-72) — the join path
    below only needs the columns, not where they came from."""
    if getattr(index, "grid_lookup", None) is None or getattr(
        index, "quad_corners", None
    ) is None:
        raise ValueError(
            "tile_dim_df requires the regular-grid annotations "
            "(build_tile_index); generic polygon dims join via their "
            "own covering-cell table"
        )
    ids = np.asarray(index.ids, dtype=np.int64)
    q = index.quad_corners  # (T, 4, 2) in ring order (sw, se, ne, nw)
    cols = {"cell_key": ids, "tile_id": ids}
    for k in range(4):
        cols[f"qx{k}"] = q[:, k, 0]
        cols[f"qy{k}"] = q[:, k, 1]
    cols["cx"] = index.vmean[:, 0]
    cols["cy"] = index.vmean[:, 1]
    return spark.createDataFrame(pd.DataFrame(cols))


def _cell_rc_cols(lat, lon):
    """Clipped grid (row, col) — the Catalyst twin of the kernel's
    ``np.clip(((lat - LAT_MIN) / H).astype(int64), 0, NR-1)`` (cast
    truncates toward zero in both engines)."""
    r0 = F.least(
        F.greatest(((lat - F.lit(tg.LAT_MIN)) / F.lit(tg.H)).cast("long"), F.lit(0)),
        F.lit(tg.NR - 1),
    )
    c0 = F.least(
        F.greatest(((lon - F.lit(tg.LON_MIN)) / F.lit(tg.W)).cast("long"), F.lit(0)),
        F.lit(tg.NC - 1),
    )
    return r0, c0


def assign_tiles_joined(
    df: DataFrame,
    spark: SparkSession,
    index: PackedPolygonIndex | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    with_s2: bool = False,
    key_col: str | None = None,
    dim: DataFrame | None = None,
) -> DataFrame:
    """Tile assignment WITHOUT broadcasting the dimension: cell-key
    equi-joins against a partitioned tile dimension (VERDICT r3 item 5
    — the documented fallback for dimensions past the broadcast
    ceiling).

    Plan shape (audited in tests/test_assign_joined.py):

    1. each point computes its grid cell key — pure Catalyst;
    2. PIP: points equi-join the dimension on that key
       (``shuffle_hash`` hint: both sides hash-partition on cell_key;
       no BroadcastExchange regardless of fixture-size stats, because
       the whole point is a dimension too big to broadcast). Tiles are
       disjoint subsets of their cells, so the join is at most 1:1 and
       the 4 half-plane tests decide containment — the same literal
       double arithmetic as the NumPy kernel, so results are
       bit-identical;
    3. kNN: only the PIP misses explode to their 7x7 neighbor cell
       keys (the same ring expansion the kernel probes), equi-join the
       dimension's (cell_key, centroid) projection, and take
       ``min(struct(dist2, tile_id))`` per row key — exactly the
       oracle's ORDER BY dist2, tile_id tie-break. Misses are a small
       fraction of web-scale traffic (dead cells only), so the 49x
       fan-out applies to few rows, distributed as an equi-join.

    At 100x tiles nothing here grows per-executor state: both joins
    shuffle on cell_key, the dimension shards across the cluster, and
    skew on hot cells is AQE-splittable. ``key_col`` should name an
    existing unique key (``url`` for web pages); otherwise a monotonic
    id is synthesized and frozen with localCheckpoint (the ids must not
    be recomputed differently on the two join branches).
    """
    if index is None:
        index = build_tile_index()
    if dim is None:
        dim = tile_dim_df(spark, index)
    lat, lon = F.col(lat_col), F.col(lon_col)
    r0, c0 = _cell_rc_cols(lat, lon)
    pts = df.withColumn("__ck", (r0 * F.lit(tg.NC) + c0).cast("long"))
    if with_s2:
        from .encode import with_s2 as _with_s2

        pts = _with_s2(pts, lat_col, lon_col)
    if key_col is None:
        pts = pts.withColumn("__rid", F.monotonically_increasing_id())
        pts = pts.localCheckpoint(eager=True)
        key = "__rid"
    else:
        key = key_col

    p = pts.alias("p")
    d = dim.alias("d")
    j = p.join(
        d.hint("shuffle_hash"), F.col("p.__ck") == F.col("d.cell_key"), "left"
    )
    inside = F.col("d.tile_id").isNotNull()
    for k in range(4):
        k2 = (k + 1) % 4
        x1, y1 = F.col(f"d.qx{k}"), F.col(f"d.qy{k}")
        x2, y2 = F.col(f"d.qx{k2}"), F.col(f"d.qy{k2}")
        # exact oracle expression (same op order as the NumPy kernel)
        inside = inside & (
            (x2 - x1) * (F.col(f"p.{lat_col}") - y1)
            - (y2 - y1) * (F.col(f"p.{lon_col}") - x1)
            >= F.lit(0.0)
        )
    pip_cols = [F.col(f"p.{c}") for c in pts.columns]
    marked = j.select(
        *pip_cols, F.when(inside, F.col("d.tile_id")).alias("__pip_tile")
    )
    hits = (
        marked.filter(F.col("__pip_tile").isNotNull())
        .withColumn("tile_id", F.col("__pip_tile"))
        .withColumn("method", F.lit("pip"))
        .withColumn("dist2", F.lit(-1.0))
        .drop("__pip_tile")
    )
    misses = marked.filter(F.col("__pip_tile").isNull()).drop("__pip_tile")

    ring = F.sequence(F.lit(-_GRID_RING), F.lit(_GRID_RING))
    m = (
        misses.withColumn("__dr", F.explode(ring))
        .withColumn("__dc", F.explode(ring))
        .withColumn(
            "__nck",
            (
                F.least(
                    F.greatest(
                        (F.col("__ck") / F.lit(tg.NC)).cast("long") + F.col("__dr"),
                        F.lit(0),
                    ),
                    F.lit(tg.NR - 1),
                )
                * F.lit(tg.NC)
                + F.least(
                    F.greatest(
                        F.col("__ck") % F.lit(tg.NC) + F.col("__dc"), F.lit(0)
                    ),
                    F.lit(tg.NC - 1),
                )
            ).cast("long"),
        )
    )
    cent = dim.select("cell_key", "tile_id", "cx", "cy").alias("c")
    mj = m.alias("m").join(
        cent.hint("shuffle_hash"), F.col("m.__nck") == F.col("c.cell_key")
    )
    dx = F.col(f"m.{lon_col}") - F.col("c.cx")
    dy = F.col(f"m.{lat_col}") - F.col("c.cy")
    best = (
        mj.groupBy(F.col(f"m.{key}").alias("__k"))
        .agg(
            F.min(
                F.struct(
                    (dx * dx + dy * dy).alias("dist2"),
                    F.col("c.tile_id").alias("tile_id"),
                )
            ).alias("__b")
        )
    )
    knn = (
        misses.join(best, misses[key] == best["__k"], "left")
        .withColumn("tile_id", F.col("__b.tile_id"))
        .withColumn("method", F.lit("knn"))
        .withColumn("dist2", F.col("__b.dist2"))
        .drop("__k", "__b")
    )
    out = hits.unionByName(knn)
    drop = ["__ck"] + (["__rid"] if key_col is None else [])
    return out.drop(*drop)
