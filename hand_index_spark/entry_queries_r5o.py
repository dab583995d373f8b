"""Round-5o registry batch — two new operator families:

- ``event_bigram_mining``: sequential pattern mining (PrefixSpan depth
  2) — consecutive event-type pairs per user, reported with total
  occurrences and USER SUPPORT (distinct users exhibiting the
  pattern), the market-basket/clickstream primitive. One keyed lead
  window + one hash aggregate; all-integer.
- ``value_histogram``: exact equi-width histogram of the event value
  per event type — bin counts plus per-bin exact integer sums (cents)
  so downstream can reconstruct means without re-scanning. Bins are
  closed-form integer arithmetic (``floor(cents / width)``), one hash
  aggregate — the profiling stage every ingest pipeline runs.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
sequence-mining or profiling surface — these extend the analytics
axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# event_bigram_mining

_MINE_MIN_SUPPORT = 10  # distinct users


def _q_event_bigram_mining(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("user_id", F.col("event_type").alias("a"),
                F.col("nxt").alias("b"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("user_id").alias("user_support"),
        )
        .filter(F.col("user_support") >= _MINE_MIN_SUPPORT)
    )


_MINE_SQL = f"""
    WITH pairs AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    )
    SELECT a, b, CAST(count(*) AS BIGINT) AS occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS user_support
    FROM pairs WHERE b IS NOT NULL
    GROUP BY a, b HAVING count(DISTINCT user_id) >= {_MINE_MIN_SUPPORT}
    """

register(TEXT, "event_bigram_mining", _q_event_bigram_mining, _MINE_SQL)


# --------------------------------------------------------------------------
# value_histogram. cents = floor(value*100 + 0.5) (the exact-cents
# idiom); width 2000 cents ($20 bins).

_HIST_W = 2000


def _q_value_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return (
        e.withColumn("bin", F.expr(f"cents div {_HIST_W}"))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


_HIST_SQL = f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, cents // {_HIST_W} AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM e GROUP BY event_type, cents // {_HIST_W}
    """

register(TEXT, "value_histogram", _q_value_histogram, _HIST_SQL)
