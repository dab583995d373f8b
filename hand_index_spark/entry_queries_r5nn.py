"""Round-5nn registry batch — two new operator families:

- ``max_concurrency``: sweep-line maximum concurrency — the peak
  number of simultaneously-open sessions per event type (capacity
  planning: how many live connections must the serving tier hold?).
  Each event opens a 30-minute session; the +1/−1 endpoint sweep is
  an ordered integer cumsum with the canonical end-before-start
  tie-break at equal timestamps (a closing session does not overlap
  a session opening at the same microsecond), and the peak carries a
  deterministic earliest-time witness.
- ``sprt_crossing``: sequential test boundary crossing — for each
  user's ordered event outcomes (a deterministic Bernoulli from the
  event hash), walk the scaled-integer log-likelihood ratio (+2 per
  success, −3 per failure — the exact-integer SPRT surrogate) and
  report the FIRST index crossing either barrier (±24) and the
  decision, or 'continue' if the walk never crosses. Window cumsum +
  min-rank selection, pure integers — the sequential A/B stopping
  rule next to the fixed-horizon `ab_test_ztest`.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
sweep-line or sequential-testing surface — these extend the capacity
and experimentation axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_SESSION_US = 30 * 60 * 1_000_000  # 30-minute sessions


# --------------------------------------------------------------------------
# max_concurrency. Endpoints: (t, +1) at open, (t + 30min, -1) at
# close; sort by (t, delta) so closes (-1) precede opens (+1) at the
# same instant; running sum; peak + earliest witness time.


def _q_max_concurrency(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t0"),
        "event_id",
    )
    ends = base.select(
        "event_type",
        (F.col("t0") + _SESSION_US).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    starts = base.select(
        "event_type",
        F.col("t0").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    sweep = starts.unionByName(ends)
    w = Window.partitionBy("event_type").orderBy(
        "t", "delta", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = sweep.select(
        "event_type",
        "t",
        F.sum("delta").over(w).alias("open_now"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("open_now").desc(), F.col("t")
    )
    return (
        run.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("open_now").alias("peak_concurrency"),
            F.col("t").alias("peak_at_us"),
        )
    )


_CONC_SQL = f"""
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS t0, event_id FROM events
    ),
    sweep AS (
      SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta, event_id
      FROM base
      UNION ALL
      SELECT event_type, t0 + {_SESSION_US} AS t,
             CAST(-1 AS BIGINT) AS delta, event_id
      FROM base
    ),
    run AS (
      SELECT event_type, t,
             CAST(sum(delta) OVER (PARTITION BY event_type
                    ORDER BY t, delta, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS open_now
      FROM sweep
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY open_now DESC, t) AS rk
      FROM run
    )
    SELECT event_type, open_now AS peak_concurrency, t AS peak_at_us
    FROM ranked WHERE rk = 1
    """

register(TEXT, "max_concurrency", _q_max_concurrency, _CONC_SQL)


# --------------------------------------------------------------------------
# sprt_crossing. Outcome: success iff (event_id * 2654435761) % 100
# < 55 (a 55% true rate); LLR step +2 on success, -3 on failure;
# barriers at +/-24.

_SPRT_UP = 24
_SPRT_DOWN = -24


def _q_sprt_crossing(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    walk = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "CASE WHEN (event_id * 2654435761) % 100 < 55"
            " THEN CAST(2 AS BIGINT) ELSE CAST(-3 AS BIGINT) END"
        ).alias("step"),
    ).select(
        "user_id",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("step").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("llr"),
    )
    crossed = walk.where(
        (F.col("llr") >= _SPRT_UP) | (F.col("llr") <= _SPRT_DOWN)
    )
    wf = Window.partitionBy("user_id").orderBy("i")
    first = (
        crossed.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("i").alias("stop_at"),
            F.col("llr").alias("stop_llr"),
            F.when(F.col("llr") >= _SPRT_UP, F.lit("accept"))
            .otherwise(F.lit("reject"))
            .alias("decision"),
        )
    )
    totals = walk.groupBy("user_id").agg(
        F.max("i").alias("n_events"), F.max("llr").alias("_dummy")
    ).select("user_id", "n_events")
    return totals.join(F.broadcast(first), "user_id", "left").select(
        "user_id",
        "n_events",
        F.coalesce(F.col("stop_at"), F.lit(0)).alias("stop_at"),
        F.coalesce(F.col("stop_llr"), F.lit(0)).alias("stop_llr"),
        F.coalesce(F.col("decision"), F.lit("continue")).alias("decision"),
    )


_SPRT_SQL = f"""
    WITH walk AS (
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(sum(CASE WHEN (event_id * 2654435761) % 100 < 55
                           THEN 2 ELSE -3 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS llr
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    crossed AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY i) AS rk
      FROM walk WHERE llr >= {_SPRT_UP} OR llr <= {_SPRT_DOWN}
    ),
    first AS (
      SELECT user_id, i AS stop_at, llr AS stop_llr,
             CASE WHEN llr >= {_SPRT_UP} THEN 'accept'
                  ELSE 'reject' END AS decision
      FROM crossed WHERE rk = 1
    ),
    totals AS (
      SELECT user_id, CAST(max(i) AS BIGINT) AS n_events
      FROM walk GROUP BY user_id
    )
    SELECT t.user_id, t.n_events,
           CAST(coalesce(f.stop_at, 0) AS BIGINT) AS stop_at,
           CAST(coalesce(f.stop_llr, 0) AS BIGINT) AS stop_llr,
           coalesce(f.decision, 'continue') AS decision
    FROM totals t LEFT JOIN first f ON t.user_id = f.user_id
    """

register(TEXT, "sprt_crossing", _q_sprt_crossing, _SPRT_SQL)
