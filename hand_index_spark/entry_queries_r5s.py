"""Round-5s registry batch — two new operator families:

- ``quantile_sketch``: mergeable fixed-bin quantile estimation — the
  third sketch next to CMS and HLL: per event type, estimate
  p50/p90/p99 from $20-wide bin counts (the mergeable summary a
  10^12-row pipeline keeps per partition) AND report the exact
  nearest-rank quantile next to it, so the result row carries its own
  measured error, which is bounded by one bin width by construction
  (pytest-pinned). All integer arithmetic: nearest-rank targets via
  ``(pct*n + 99) div 100``, estimates as bin upper bounds — no float
  interpolation anywhere, so both engines agree bit-for-bit.
- ``time_to_convert``: survival/time-to-event analytics — per user,
  the delta between first signup and first purchase; the report
  carries converted counts, the exact median delta (median of BIGINT
  microseconds interpolates halves — the mad_outliers exactness
  argument) and the nearest-rank p90 delta.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
sketch or survival surface — these extend the analytics axis the
brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# quantile_sketch

_QS_W = 2000  # bin width in cents
_QS_PCTS = (50, 90, 99)


def _q_quantile_sketch(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    n = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # exact nearest-rank: rank values once, join each pct's target rank
    wr = Window.partitionBy("event_type").orderBy("cents")
    ranked = e.withColumn("r", F.row_number().over(wr))
    pcts = F.array(*[F.lit(p) for p in _QS_PCTS])
    targets = (
        n.select(F.col("event_type").alias("et"), "n",
                 F.explode(pcts).alias("pct"))
        .withColumn("target", F.expr("(pct * n + 99) div 100"))
    )
    exact = (
        ranked.join(
            targets,
            (ranked.event_type == targets.et) & (ranked.r == targets.target),
        )
        .select(
            F.col("et").alias("event_type"), "pct", "n",
            F.col("cents").alias("exact_cents"),
        )
    )
    # sketch: bin counts -> running cum over the tiny bin frame
    bins = (
        e.withColumn("bin", F.expr(f"cents div {_QS_W}"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.withColumn("cum", F.sum("c").over(wb))
    est = (
        cum.join(targets, cum.event_type == targets.et)
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("et", "pct")
        .agg(((F.min("bin") + 1) * _QS_W).alias("est_cents"))
        .select(F.col("et").alias("event_type"), "pct", "est_cents")
    )
    return exact.join(est, ["event_type", "pct"]).select(
        "event_type",
        F.col("pct").cast("long").alias("pct"),
        "n",
        "exact_cents",
        "est_cents",
        (F.col("est_cents") - F.col("exact_cents")).alias("err_cents"),
    )


_QS_SQL = f"""
    WITH e AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM e GROUP BY event_type
    ), targets AS (
      SELECT event_type, n, pct, (pct * n + 99) // 100 AS target
      FROM n, unnest([{", ".join(str(p) for p in _QS_PCTS)}]) AS u(pct)
    ), ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents) AS r
      FROM e
    ), exact AS (
      SELECT t.event_type, t.pct, t.n, rk.cents AS exact_cents
      FROM targets t JOIN ranked rk
        ON rk.event_type = t.event_type AND rk.r = t.target
    ), bins AS (
      SELECT event_type, cents // {_QS_W} AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, cents // {_QS_W}
    ), cum AS (
      SELECT event_type, bin,
             sum(c) OVER (PARTITION BY event_type ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
      FROM bins
    ), est AS (
      SELECT c.event_type, t.pct,
             (min(c.bin) + 1) * {_QS_W} AS est_cents
      FROM cum c JOIN targets t USING (event_type)
      WHERE c.cum >= t.target
      GROUP BY c.event_type, t.pct
    )
    SELECT x.event_type, CAST(x.pct AS BIGINT) AS pct, x.n,
           x.exact_cents, CAST(est.est_cents AS BIGINT) AS est_cents,
           CAST(est.est_cents - x.exact_cents AS BIGINT) AS err_cents
    FROM exact x JOIN est USING (event_type, pct)
    """

register(TEXT, "quantile_sketch", _q_quantile_sketch, _QS_SQL)


# --------------------------------------------------------------------------
# time_to_convert

def _q_time_to_convert(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us")))
        .alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us")))
        .alias("p_us"),
    )
    both = firsts.filter(
        F.col("s_us").isNotNull() & F.col("p_us").isNotNull()
    )
    conv = both.filter(F.col("p_us") >= F.col("s_us")).withColumn(
        "delta_us", F.col("p_us") - F.col("s_us")
    )
    # tiny frame: one row per converted user
    ranked = conv.withColumn(
        "r", F.row_number().over(Window.orderBy("delta_us"))
    ).withColumn("nc", F.count(F.lit(1)).over(Window.partitionBy()))
    # median stays DOUBLE (halves of integers are exact; a BIGINT cast
    # would truncate on Spark but round on DuckDB)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delta_us, 0.5D)").alias("median_delta_us"),
        F.max(
            F.when(
                F.col("r") == F.expr("(9 * nc + 9) div 10"),
                F.col("delta_us"),
            )
        ).alias("p90_delta_us"),
    )


_TTC_SQL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN us END) AS s_us,
             min(CASE WHEN event_type = 'purchase' THEN us END) AS p_us
      FROM e GROUP BY user_id
    ), conv AS (
      SELECT user_id, p_us - s_us AS delta_us
      FROM firsts
      WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
    ), ranked AS (
      SELECT delta_us,
             row_number() OVER (ORDER BY delta_us) AS r,
             count(*) OVER () AS nc
      FROM conv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(quantile_cont(delta_us, 0.5) AS DOUBLE) AS median_delta_us,
           max(CASE WHEN r = (9 * nc + 9) // 10 THEN delta_us END)
             AS p90_delta_us
    FROM ranked
    """

register(TEXT, "time_to_convert", _q_time_to_convert, _TTC_SQL)
