"""Round-5yy registry batch — two new operator families:

- ``ohlc_candles``: market-style candle aggregation — per (event
  type, day): open / high / low / close of the value stream plus
  size-weighted VWAP, all exact integers (open/close via min_by/
  max_by on the collision-proof (ts, event_id) order key packed into
  ONE BIGINT — day-local microseconds × 2²¹ + event_id, magnitudes
  audited — because neither engine's min_by takes a tuple key; VWAP
  by integer cross-division in milli).
- ``top_movers``: day-over-day change ranking — which event types
  moved most vs yesterday (the ops dashboard's "what changed?"
  list): daily totals, lag deltas, |Δ| ranking per day with a
  deterministic tie-break, top-2 per day. Pure integers.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
candle or movers surface — these extend the time-series axis the
brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# ohlc_candles. Order key: DAY-LOCAL microsecond offset * 2^21 +
# event_id — grouping is per day, so day-local order is equivalent,
# and the packed key stays <= 8.64e10 * 2^21 ~ 1.8e17 << 2^63 with
# room for event_id < 2^21 at every SF the driver runs. (Absolute
# micros * 2^20 overflows BIGINT — caught by ANSI mode.)


def _q_ohlc_candles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) % 86400000000)"
            " * 2097152 + event_id"
        ).alias("ord"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
        (1 + F.col("event_id") % 5).cast("long").alias("size"),
    )
    return base.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("min_by(vc, ord)").alias("open_c"),
        F.max("vc").alias("high_c"),
        F.min("vc").alias("low_c"),
        F.expr("max_by(vc, ord)").alias("close_c"),
        # double cast: oracle's sum(BIGINT) is HUGEINT -> float64 in
        # pandas (VERDICT r5 item 1b bug class); exact milli value
        F.expr("(1000 * sum(vc * size)) div sum(size)")
        .cast("double").alias("vwap_milli"),
    )


_OHLC_SQL = f"""
    WITH base AS (
      SELECT event_type,
             epoch_us(ts) // {_DAY_US} AS day,
             (epoch_us(ts) % 86400000000) * 2097152 + event_id AS ord,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             CAST(1 + event_id % 5 AS BIGINT) AS size
      FROM events
    )
    SELECT event_type, CAST(day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min_by(vc, ord) AS BIGINT) AS open_c,
           CAST(max(vc) AS BIGINT) AS high_c,
           CAST(min(vc) AS BIGINT) AS low_c,
           CAST(max_by(vc, ord) AS BIGINT) AS close_c,
           CAST(1000 * sum(vc * size) AS BIGINT) // sum(size)
             AS vwap_milli
    FROM base GROUP BY event_type, day
    """

register(TEXT, "ohlc_candles", _q_ohlc_candles, _OHLC_SQL)


# --------------------------------------------------------------------------
# top_movers.

_MOVERS_K = 2


def _q_top_movers(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("vc").alias("s"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "s",
        F.lag("s").over(w).alias("prev_s"),
        F.lag("day").over(w).alias("prev_day"),
    ).where(
        F.col("prev_s").isNotNull() & (F.col("prev_day") == F.col("day") - 1)
    )
    deltas = lagged.select(
        "event_type",
        "day",
        (F.col("s") - F.col("prev_s")).alias("delta_c"),
    )
    wr = Window.partitionBy("day").orderBy(
        F.abs(F.col("delta_c")).desc(), F.col("event_type")
    )
    return (
        deltas.withColumn("rk", F.row_number().over(wr).cast("long"))
        .where(F.col("rk") <= _MOVERS_K)
    )


_MOVERS_SQL = f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, s,
             lag(s) OVER w AS prev_s,
             lag(day) OVER w AS prev_day
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    deltas AS (
      SELECT event_type, CAST(day AS BIGINT) AS day,
             CAST(s - prev_s AS BIGINT) AS delta_c
      FROM lagged
      WHERE prev_s IS NOT NULL AND prev_day = day - 1
    )
    SELECT event_type, day, delta_c,
           CAST(row_number() OVER (PARTITION BY day
                  ORDER BY abs(delta_c) DESC, event_type) AS BIGINT) AS rk
    FROM deltas
    QUALIFY rk <= {_MOVERS_K}
    """

register(TEXT, "top_movers", _q_top_movers, _MOVERS_SQL)
