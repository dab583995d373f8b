"""Round-5uu registry batch — two new operator families:

- ``control_chart``: statistical process control (X̄ chart) — each
  day's mean value per event type judged against the overall mean ±
  3σ/√n limits (the manufacturing-grade anomaly gate, stricter than
  ad-hoc thresholds because limits scale with daily sample size).
  All moments are exact BIGINT sums; the limit comparison runs in
  ONE shared double tree (IEEE sqrt), emitting above/below flags.
- ``winsorized_mean``: robust location — values clipped at the exact
  nearest-rank p05/p95 per event type, then the mean of the CLIPPED
  integers in exact milli (clip bounds are integer quantile VALUES,
  so the winsorized sum stays a BIGINT — no float protocol at all).
  The estimator that survives the heavy tails `mad_outliers` flags.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
process-control or robust-statistics surface — these extend the
quality-monitoring axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# control_chart. Overall stats from the SAME exact sums; sigma is the
# population std of the type's values. flag = (daily mean - overall
# mean) outside +/- 3 sigma / sqrt(n_day), compared in the shared
# double tree without materializing the division (cross-multiplied
# where integral, sqrt only once).


def _q_control_chart(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    daily = y.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_day"),
        F.sum("yc").alias("s_day"),
    )
    overall = y.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("yc").alias("s_all"),
        F.expr("sum(yc * yc)").alias("ss_all"),
    )
    j = daily.join(F.broadcast(overall), "event_type")
    # deviation check: |s_day/n_day - s_all/n_all| > 3*sigma/sqrt(n_day)
    # <=> |s_day*n_all - s_all*n_day| / (n_day*n_all) > 3*sigma/sqrt(n_day)
    dd = "CAST(abs(s_day * n_all - s_all * n_day) AS DOUBLE)"
    sigma = (
        "sqrt(CAST(n_all * ss_all - s_all * s_all AS DOUBLE))"
        " / CAST(n_all AS DOUBLE)"
    )
    lhs = f"({dd} / (CAST(n_day AS DOUBLE) * CAST(n_all AS DOUBLE)))"
    rhs = f"(3.0 * {sigma} / sqrt(CAST(n_day AS DOUBLE)))"
    return j.select(
        "event_type",
        "day",
        "n_day",
        F.expr("(1000 * s_day) div n_day").alias("day_mean_milli"),
        F.expr(f"{lhs} > {rhs}").alias("out_of_control"),
        F.expr(
            f"CASE WHEN {lhs} > {rhs} THEN"
            " CASE WHEN s_day * n_all > s_all * n_day THEN 'high'"
            " ELSE 'low' END ELSE 'in' END"
        ).alias("signal"),
    )


_SPC_SQL = f"""
    WITH y AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    daily AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n_day,
             CAST(sum(yc) AS BIGINT) AS s_day
      FROM y GROUP BY event_type, day
    ),
    overall AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(yc) AS BIGINT) AS s_all,
             CAST(sum(yc * yc) AS BIGINT) AS ss_all
      FROM y GROUP BY event_type
    )
    SELECT d.event_type, CAST(d.day AS BIGINT) AS day, d.n_day,
           CAST(1000 * d.s_day AS BIGINT) // d.n_day AS day_mean_milli,
           (CAST(abs(d.s_day * o.n_all - o.s_all * d.n_day) AS DOUBLE)
            / (CAST(d.n_day AS DOUBLE) * CAST(o.n_all AS DOUBLE)))
           > (3.0 * (sqrt(CAST(o.n_all * o.ss_all - o.s_all * o.s_all
                          AS DOUBLE)) / CAST(o.n_all AS DOUBLE))
              / sqrt(CAST(d.n_day AS DOUBLE))) AS out_of_control,
           CASE WHEN
             (CAST(abs(d.s_day * o.n_all - o.s_all * d.n_day) AS DOUBLE)
              / (CAST(d.n_day AS DOUBLE) * CAST(o.n_all AS DOUBLE)))
             > (3.0 * (sqrt(CAST(o.n_all * o.ss_all - o.s_all * o.s_all
                            AS DOUBLE)) / CAST(o.n_all AS DOUBLE))
                / sqrt(CAST(d.n_day AS DOUBLE)))
           THEN CASE WHEN d.s_day * o.n_all > o.s_all * d.n_day
                     THEN 'high' ELSE 'low' END
           ELSE 'in' END AS signal
    FROM daily d JOIN overall o ON d.event_type = o.event_type
    """

register(TEXT, "control_chart", _q_control_chart, _SPC_SQL)


# --------------------------------------------------------------------------
# winsorized_mean. Clip bounds: exact nearest-rank p05/p95 (positions
# max(1, ceil(q*n)) via (q*n + 999) div 1000 with q in milli).


def _q_winsorized_mean(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    wk = Window.partitionBy("event_type").orderBy("yc")
    wn = Window.partitionBy("event_type")
    ranked = y.select(
        "event_type",
        "yc",
        F.row_number().over(wk).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    bounds = ranked.where(
        (F.col("rn") == F.expr("greatest(1, (50 * n + 999) div 1000)"))
        | (F.col("rn") == F.expr("greatest(1, (950 * n + 999) div 1000)"))
    ).groupBy("event_type").agg(
        F.min("yc").alias("lo"),
        F.max("yc").alias("hi"),
    )
    clipped = y.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.expr("least(greatest(yc, lo), hi)").alias("w"),
        "lo",
        "hi",
    )
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo").alias("p05"),
        F.max("hi").alias("p95"),
        F.expr("(1000 * sum(w)) div count(1)").alias("wmean_milli"),
    )


_WINSOR_SQL = """
    WITH y AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    ranked AS (
      SELECT event_type, yc,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY yc)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM y
    ),
    bounds AS (
      SELECT event_type,
             CAST(min(yc) AS BIGINT) AS lo,
             CAST(max(yc) AS BIGINT) AS hi
      FROM ranked
      WHERE rn = greatest(1, (50 * n + 999) // 1000)
         OR rn = greatest(1, (950 * n + 999) // 1000)
      GROUP BY event_type
    ),
    clipped AS (
      SELECT y.event_type, least(greatest(y.yc, b.lo), b.hi) AS w,
             b.lo, b.hi
      FROM y JOIN bounds b ON y.event_type = b.event_type
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(lo) AS BIGINT) AS p05,
           CAST(max(hi) AS BIGINT) AS p95,
           CAST(1000 * sum(w) AS BIGINT) // count(*) AS wmean_milli
    FROM clipped GROUP BY event_type
    """

register(TEXT, "winsorized_mean", _q_winsorized_mean, _WINSOR_SQL)
