"""Cell-encoding operators: geotag derivation + multi-res H3-style + S2.

The reference computes one H3 cell per catchment centroid inside DuckDB
(load.py:164-168: ``h3_latlng_to_cell(ST_Y(centroid), ST_X(centroid),
res)``). The north rule scales this to every web-page record at res 5-9
plus an S2 cell (BASELINE.json:6).

Two execution strategies, verified equal by tests/test_spark_ops.py:

- :func:`with_cells` — pure Catalyst expressions parsed from the oracle
  SQL text (geo.cells.encode_col), added in one projection: stays inside
  whole-stage codegen, zero Python; the default hot path for 10^12 rows.
- :func:`with_cells_pandas` — vectorized pandas UDF over Arrow batches
  (the mandated "vectorized pandas/Arrow UDF" form, BASELINE.json:15);
  same NumPy kernel, used where the surrounding stage is already in
  Python (e.g. fused with S2, which has no closed-form SQL).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..geo import cells as h3lite
from ..geo import s2lite
from ..tables import tilegrid as tg
from .assign import _BATCH_CHUNK

DEFAULT_RESOLUTIONS = (5, 6, 7, 8, 9)
PARTITION_RES = 7  # the engine's h3_index analogue (load.py:314 knob)
S2_LEVEL = 16


def geotag_cols(doc_id: Column) -> tuple[Column, Column]:
    """lat/lon as a pure function of doc_id — identical arithmetic to
    tilegrid.doc_lat_expr_sql / doc_lon_expr_sql (the oracle side)."""
    lat = F.lit(24.0) + (doc_id * F.lit(tg.LAT_MUL) % F.lit(tg.LAT_RANGE)) / F.lit(100000.0)
    lon = F.lit(-125.0) + (doc_id * F.lit(tg.LON_MUL) % F.lit(tg.LON_RANGE)) / F.lit(100000.0)
    return lat, lon


def with_geotag(df: DataFrame, doc_id_col: str = "doc_id") -> DataFrame:
    lat, lon = geotag_cols(F.col(doc_id_col).cast("long"))
    return df.withColumns({"lat": lat, "lon": lon})


def with_cells(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
) -> DataFrame:
    """Multi-resolution cell columns h3_r{res} + the partition key
    ``cell_id`` (res PARTITION_RES), all JVM-side in one projection."""
    cols = {f"h3_r{res}": h3lite.encode_col(lat_col, lon_col, res) for res in resolutions}
    # the expression itself, not a reference to h3_r{PARTITION_RES}: one
    # withColumns cannot read its own outputs, and the optimizer
    # substitutes such a reference into cell_id anyway
    cols["cell_id"] = h3lite.encode_col(lat_col, lon_col, PARTITION_RES)
    return df.withColumns(cols)


@pandas_udf(LongType())
def s2_cell_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    out = np.empty(len(la), np.int64)
    # cache blocking (operators/assign._BATCH_CHUNK rationale): keep
    # the fold's temporaries L2-resident instead of streaming the whole
    # Arrow batch through every vector pass; bit-identical per row
    for a in range(0, len(la), _BATCH_CHUNK):
        b = min(a + _BATCH_CHUNK, len(la))
        out[a:b] = s2lite.encode(la[a:b], lo[a:b], S2_LEVEL)
    return pd.Series(out)


def with_s2(df: DataFrame, lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    return df.withColumn("s2_cell", s2_cell_udf(F.col(lat_col), F.col(lon_col)))


def _h3lite_pandas_factory(res: int):
    @pandas_udf(LongType())
    def _enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = h3lite.encode(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64), res
        )
        return pd.Series(out)

    return _enc


def with_cells_pandas(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    resolutions: tuple[int, ...] = DEFAULT_RESOLUTIONS,
) -> DataFrame:
    """pandas-UDF twin of :func:`with_cells` (same NumPy kernel)."""
    for res in resolutions:
        df = df.withColumn(
            f"h3_r{res}", _h3lite_pandas_factory(res)(F.col(lat_col), F.col(lon_col))
        )
    if PARTITION_RES in resolutions:
        return df.withColumn("cell_id", F.col(f"h3_r{PARTITION_RES}"))
    # mirror with_cells: derive the partition key directly when the
    # requested resolutions exclude PARTITION_RES
    return df.withColumn(
        "cell_id",
        _h3lite_pandas_factory(PARTITION_RES)(F.col(lat_col), F.col(lon_col)),
    )
