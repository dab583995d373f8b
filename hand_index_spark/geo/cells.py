"""h3lite — hierarchical multi-resolution spatial cell ids (res 0-15).

The reference keys and hive-partitions its index on an H3 cell id
computed from each catchment centroid (load.py:164-168, 279-283); the
north rule extends this to multi-resolution H3 (res 5-9) + S2 columns on
every record. True spec-exact H3 needs the icosahedral gnomonic
projection plus large published base-cell lookup tables which cannot be
validated offline (no h3 library, no network). Per SURVEY.md §7 this
module therefore ships a *deterministic hierarchical cell index with an
H3-style bit layout* — same API, same role in the engine (spatial
partition key, parent-by-truncation hierarchy, ring neighborhoods,
bbox covering), clearly flagged as layout-compatible-not-spec-exact.
S2 cells (geo/s2lite.py) follow the real public S2 construction.

Cell id layout (int64, always positive):

    bit 59         : mode marker (1)
    bits 52-55     : resolution (0-15)
    bits 26-51     : row  = floor((lat +  90) * 2^res)
    bits  0-25     : col  = floor((lon + 180) * 2^res)

Resolution r cells are (1/2^r)° squares: r5 ≈ 3.5 km, r9 ≈ 217 m at the
equator — comparable footprints to H3 res 5-9 hexagons. Parent =
bit-truncation of row/col (the property the engine relies on).

The cell encoder has TWO implementations kept in lock-step (asserted
by tests/test_spark_ops.py, tests/test_geo_kernels.py and the
cells_encode/cell_parent driver oracles):
  1. NumPy kernel (:func:`encode`, for pandas UDFs and driver-side
     indexes),
  2. one SQL text (:func:`encode_sql`) that both engines parse: DuckDB
     runs it as the correctness oracle, and Catalyst runs the same
     string through :func:`encode_col` (JVM-side, whole-stage codegen —
     the hot path at 10^12 rows). Spark types it ``bigint``, and it
     agrees with the kernel on the edges too: poles, antimeridian,
     -0.0, NaN (row/col 0, as Spark's floor-to-long gives) and exact
     cell boundaries.
The pandas-UDF form (operators.encode.with_cells_pandas) wraps the NumPy
kernel and stays as a test reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MODE_BIT = np.int64(1) << np.int64(59)
RES_SHIFT = 52
ROW_SHIFT = 26
ROW_MASK = (np.int64(1) << np.int64(26)) - np.int64(1)


# ---------------------------------------------------------------- numpy


def encode(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lat/lon degrees -> h3lite cell id at ``res``."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    scale = float(1 << res)
    nrow = int(180 * (1 << res))
    ncol = int(360 * (1 << res))
    # fmax/fmin rather than clip: a NaN coordinate lands in row/col 0,
    # as Spark's floor-to-long does in :func:`encode_sql`
    row = np.fmin(np.fmax(np.floor((lat + 90.0) * scale), 0), nrow - 1).astype(np.int64)
    col = np.fmin(np.fmax(np.floor((lon + 180.0) * scale), 0), ncol - 1).astype(np.int64)
    return MODE_BIT | (np.int64(res) << np.int64(RES_SHIFT)) | (row << np.int64(ROW_SHIFT)) | col


def decompose(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell -> (res, row, col)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(RES_SHIFT)) & np.int64(0xF)
    row = (cell >> np.int64(ROW_SHIFT)) & ROW_MASK
    col = cell & ROW_MASK
    return res, row, col


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen to ``parent_res`` by bit truncation (hierarchy invariant)."""
    res, row, col = decompose(cell)
    shift = (res - np.int64(parent_res)).astype(np.int64)
    if np.any(shift < 0):
        raise ValueError("parent_res must be <= cell res")
    return (
        MODE_BIT
        | (np.int64(parent_res) << np.int64(RES_SHIFT))
        | ((row >> shift) << np.int64(ROW_SHIFT))
        | (col >> shift)
    )


def cell_bounds(cell: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of one cell."""
    res, row, col = decompose(np.asarray([cell]))
    cs = 1.0 / (1 << int(res[0]))
    lat0 = -90.0 + float(row[0]) * cs
    lon0 = -180.0 + float(col[0]) * cs
    return (lon0, lat0, lon0 + cs, lat0 + cs)


def cover_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cells at ``res`` intersecting a lon/lat bbox — the "polyfill"
    used to push partition-pruning predicates into the parquet scan
    (fixes the reference's never-pruned layout, SURVEY.md §4.1)."""
    scale = float(1 << res)
    nrow = int(180 * (1 << res))
    ncol = int(360 * (1 << res))
    r0 = int(np.clip(np.floor((lat_min + 90.0) * scale), 0, nrow - 1))
    r1 = int(np.clip(np.floor((lat_max + 90.0) * scale), 0, nrow - 1))
    c0 = int(np.clip(np.floor((lon_min + 180.0) * scale), 0, ncol - 1))
    c1 = int(np.clip(np.floor((lon_max + 180.0) * scale), 0, ncol - 1))
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rr, cc = np.meshgrid(rows, cols, indexing="ij")
    return (
        MODE_BIT
        | (np.int64(res) << np.int64(RES_SHIFT))
        | (rr.ravel() << np.int64(ROW_SHIFT))
        | cc.ravel()
    )


def ring(cell: int, k: int = 1) -> np.ndarray:
    """Cells within Chebyshev distance k (incl. center) — kNN candidate
    expansion (SURVEY.md §2 J8)."""
    res, row, col = decompose(np.asarray([cell]))
    res_i, row_i, col_i = int(res[0]), int(row[0]), int(col[0])
    nrow = int(180 * (1 << res_i))
    ncol = int(360 * (1 << res_i))
    rows = np.arange(max(0, row_i - k), min(nrow - 1, row_i + k) + 1, dtype=np.int64)
    cols = np.arange(col_i - k, col_i + k + 1, dtype=np.int64) % ncol  # wrap antimeridian
    rr, cc = np.meshgrid(rows, cols, indexing="ij")
    return (
        MODE_BIT
        | (np.int64(res_i) << np.int64(RES_SHIFT))
        | (rr.ravel() << np.int64(ROW_SHIFT))
        | cc.ravel()
    )


# -------------------------------------------------------- catalyst column


def encode_col(lat: str | Column, lon: str | Column, res: int) -> Column:
    """h3lite encoder as a Catalyst expression: the :func:`encode_sql`
    text itself, parsed once, so oracle and engine run one string. Stays
    inside whole-stage codegen, no Python in the loop; bit-identical to
    :func:`encode`. ``lat``/``lon`` are column names (a plain
    ``F.col(name)`` is accepted and read back as its name)."""
    return F.expr(encode_sql(_col_sql(lat), _col_sql(lon), res))


def _col_sql(c: str | Column) -> str:
    return c if isinstance(c, str) else c._jc.toString()


def parent_col(cell: Column, parent_res: int, child_res: int) -> Column:
    shift = child_res - parent_res
    row = F.shiftright(cell, ROW_SHIFT).bitwiseAND(F.lit(int(ROW_MASK)).cast("long"))
    col = cell.bitwiseAND(F.lit(int(ROW_MASK)).cast("long"))
    return (
        F.lit(int(MODE_BIT))
        .cast("long")
        .bitwiseOR(F.lit(parent_res << RES_SHIFT).cast("long"))
        .bitwiseOR(F.shiftleft(F.shiftright(row, shift), ROW_SHIFT))
        .bitwiseOR(F.shiftright(col, shift))
    )


# -------------------------------------------------------------- sql text


def encode_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """DuckDB SQL producing the identical cell id (the oracle side)."""
    return pack_sql(res, row_sql(lat_expr, res), col_sql(lon_expr, res))


def row_sql(lat_expr: str, res: int) -> str:
    """Clipped cell row of a latitude expression at ``res``."""
    return (
        f"LEAST(GREATEST(CAST(floor(({lat_expr} + 90.0) * {float(1 << res)!r})"
        f" AS BIGINT), 0), {180 * (1 << res) - 1})"
    )


def col_sql(lon_expr: str, res: int) -> str:
    """Clipped cell column of a longitude expression at ``res``."""
    return (
        f"LEAST(GREATEST(CAST(floor(({lon_expr} + 180.0) * {float(1 << res)!r})"
        f" AS BIGINT), 0), {360 * (1 << res) - 1})"
    )


def pack_sql(res: int, row: str, col: str) -> str:
    """Cell id at ``res`` from row and column expressions (the bit
    layout in the module docstring)."""
    return (
        f"(CAST({int(MODE_BIT)} AS BIGINT) | CAST({res << RES_SHIFT} AS BIGINT)"
        f" | (({row}) << {ROW_SHIFT}) | ({col}))"
    )


def res_sql(cell_expr: str) -> str:
    """Resolution field of a cell id expression."""
    return f"(({cell_expr} >> {RES_SHIFT}) & 15)"
