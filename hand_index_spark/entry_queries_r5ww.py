"""Round-5ww registry batch — two new operator families:

- ``copresence_pairs``: spatiotemporal co-presence — how many user
  pairs shared the same spatial cell in the same hour window (the
  contact-graph / meeting-detection primitive). Computed WITHOUT any
  pair join: per (cell, hour) the distinct-user count n gives
  n·(n−1)/2 pairs exactly — the count-based shortcut that keeps the
  op linear when a naive self-join would explode quadratically at
  dense cells.
- ``quantile_transform``: rank-based feature scaling — each event
  value mapped to its exact percentile ppm within its type,
  (rank−1)·1e6 div (n−1) with tie-broken strict ranks (the standard
  sklearn-style QuantileTransformer, integer-exact). One rank
  window, no joins.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
co-presence or feature-scaling surface — these extend the trajectory
and LLM-pipeline axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_CP_CELL = 500  # milli-degree cell


# --------------------------------------------------------------------------
# copresence_pairs.


def _q_copresence_pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cells = e.select(
        "user_id",
        F.expr(f"(40000 + (event_id * 991) % 3000) div {_CP_CELL}")
        .alias("cy"),
        F.expr(f"((event_id * 1637) % 4000 - 2000) div {_CP_CELL}")
        .alias("cx"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
        .alias("hour"),
    ).distinct()
    g = cells.groupBy("cy", "cx", "hour").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return g.where(F.col("n_users") >= 2).select(
        "cy",
        "cx",
        "hour",
        "n_users",
        F.expr("(n_users * (n_users - 1)) div 2").alias("n_pairs"),
    )


_CP_SQL = f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             (40000 + (event_id * 991) % 3000) // {_CP_CELL} AS cy,
             ((event_id * 1637) % 4000 - 2000) // {_CP_CELL} AS cx,
             epoch_us(ts) // 3600000000 AS hour
      FROM events
    ),
    g AS (
      SELECT cy, cx, hour,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM cells GROUP BY cy, cx, hour
    )
    SELECT CAST(cy AS BIGINT) AS cy, CAST(cx AS BIGINT) AS cx,
           CAST(hour AS BIGINT) AS hour, n_users,
           (n_users * (n_users - 1)) // 2 AS n_pairs
    FROM g WHERE n_users >= 2
    """

register(GEO, "copresence_pairs", _q_copresence_pairs, _CP_SQL)


# --------------------------------------------------------------------------
# quantile_transform. Groups with n == 1 map to 0 (guarded div).


def _q_quantile_transform(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    wk = Window.partitionBy("event_type").orderBy("yc", "event_id")
    wn = Window.partitionBy("event_type")
    r = y.select(
        "event_id",
        "event_type",
        "yc",
        F.row_number().over(wk).cast("long").alias("rank"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    return r.where(F.col("n") > 1).select(
        "event_id",
        "event_type",
        "yc",
        "rank",
        F.expr("((rank - 1) * 1000000) div (n - 1)").alias("pct_ppm"),
    )


_QT_SQL = """
    WITH y AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    r AS (
      SELECT event_id, event_type, yc,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY yc, event_id) AS BIGINT) AS rank,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM y
    )
    SELECT event_id, event_type, yc, rank,
           ((rank - 1) * 1000000) // (n - 1) AS pct_ppm
    FROM r WHERE n > 1
    """

register(TEXT, "quantile_transform", _q_quantile_transform, _QT_SQL)
