"""Pure-Catalyst assignment twin must equal the Arrow-UDF flagship
bit-for-bit (PIP/kNN) and cell-for-cell (S2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hand_index_spark.operators import assign as A
from hand_index_spark.operators import encode as E
from tests.assign_catalyst import (
    assign_tiles_catalyst,
    with_s2_catalyst,
)


def _pts(spark, n=20000):
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    return E.with_geotag(df)


def test_catalyst_assignment_equals_udf(spark):
    pts = _pts(spark)
    cols = ["doc_id", "tile_id", "method", "dist2"]
    udf_out = (
        A.assign_tiles(pts, spark, pip="convex")
        .select(cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    cat_out = (
        assign_tiles_catalyst(pts)
        .select(cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert udf_out.equals(cat_out)  # bit-exact incl. dist2 doubles


def test_catalyst_s2_equals_pandas_udf(spark):
    pts = _pts(spark, 5000)
    udf_s2 = (
        E.with_s2(pts).select("doc_id", "s2_cell").toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    cat_s2 = (
        with_s2_catalyst(pts).select("doc_id", "s2_cell").toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert udf_s2.equals(cat_s2)


def test_catalyst_plan_has_no_python(spark):
    import io
    from contextlib import redirect_stdout

    df = assign_tiles_catalyst(_pts(spark, 10), with_s2=True)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
