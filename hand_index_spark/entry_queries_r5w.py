"""Round-5w registry batch — two new operator families:

- ``kendall_tau``: rank-agreement evaluation — Kendall's tau between
  two per-language document orderings (character length vs whitespace
  token count), the metric an eval stack uses to compare two ranking
  functions. Tie-free by construction (both ranks are tie-broken by
  doc_id into strict total orders, so tau-a applies and C + D =
  n(n−1)/2 exactly); concordant/discordant pairs come from a
  lang-keyed self-join over a 20-doc-per-language frame — bounded
  20×20 per group, never the corpus. The final tau runs in one
  shared double tree floored at micro precision (never an integer
  division of a possibly-negative numerator, whose `div` truncates on
  Spark but `//` floors on DuckDB).
- ``holt_forecast``: Holt double exponential smoothing (level +
  trend, alpha = 1/2, beta = 1/4 — exact binary fractions) over the
  daily value-cents sum per event type, as an explicit
  left-associative fold over the identically-ordered series on BOTH
  engines: Catalyst's aggregate() HOF with a struct accumulator on
  the Spark side, a recursive CTE advancing one day per step on the
  DuckDB side — the same IEEE operation order, so the doubles
  hash-match bit-for-bit (the ewma fold protocol, extended to a
  2-component state). 7-day-ahead forecast = level + 7·trend.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
ranking-eval or forecasting surface — these extend the analytics axis
the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000
_TAU_K = 20  # docs per language entering the pairwise comparison


# --------------------------------------------------------------------------
# kendall_tau.


def _q_kendall_tau(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    wk = Window.partitionBy("lang").orderBy("doc_id")
    base = (
        d.select(
            "lang",
            "doc_id",
            F.length("text").cast("long").alias("a_key"),
            F.size(F.split("text", " ")).cast("long").alias("b_key"),
        )
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _TAU_K)
        .drop("rn")
    )
    wa = Window.partitionBy("lang").orderBy("a_key", "doc_id")
    wb = Window.partitionBy("lang").orderBy("b_key", "doc_id")
    ranked = base.select(
        "lang",
        "doc_id",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb"),
    )
    l = ranked.alias("l")
    r = ranked.alias("r")
    pairs = l.join(
        r,
        (F.col("l.lang") == F.col("r.lang"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    ).select(
        F.col("l.lang").alias("lang"),
        (
            (F.col("l.ra") - F.col("r.ra")) * (F.col("l.rb") - F.col("r.rb"))
            > 0
        ).alias("conc"),
    )
    agg = pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("conc").cast("long")).alias("concordant"),
        F.sum((~F.col("conc")).cast("long")).alias("discordant"),
    )
    tau = (
        "CAST(floor(1000000.0 * (CAST(concordant - discordant AS DOUBLE)"
        " / CAST(n_pairs AS DOUBLE))) AS BIGINT)"
    )
    return agg.select(
        "lang", "n_pairs", "concordant", "discordant",
        F.expr(tau).alias("tau_micro"),
    )


_TAU_SQL = f"""
    WITH base AS (
      SELECT lang, doc_id,
             CAST(length(text) AS BIGINT) AS a_key,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS b_key,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    top AS (SELECT lang, doc_id, a_key, b_key FROM base WHERE rn <= {_TAU_K}),
    ranked AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER
                  (PARTITION BY lang ORDER BY a_key, doc_id) AS BIGINT) AS ra,
             CAST(row_number() OVER
                  (PARTITION BY lang ORDER BY b_key, doc_id) AS BIGINT) AS rb
      FROM top
    ),
    pairs AS (
      SELECT l.lang,
             ((l.ra - r.ra) * (l.rb - r.rb) > 0) AS conc
      FROM ranked l JOIN ranked r
        ON l.lang = r.lang AND l.doc_id < r.doc_id
    ),
    agg AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN conc THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(sum(CASE WHEN conc THEN 0 ELSE 1 END) AS BIGINT)
               AS discordant
      FROM pairs GROUP BY lang
    )
    SELECT lang, n_pairs, concordant, discordant,
           CAST(floor(1000000.0 * (CAST(concordant - discordant AS DOUBLE)
                / CAST(n_pairs AS DOUBLE))) AS BIGINT) AS tau_micro
    FROM agg
    """

register(TEXT, "kendall_tau", _q_kendall_tau, _TAU_SQL)


# --------------------------------------------------------------------------
# holt_forecast. Per event_type: daily value-cents sums (exact BIGINT,
# cast to double — all < 2^53, exact) ordered by day; fold
#   l' = (y + l + t) / 2            (alpha = 1/2)
#   t' = (l' - l) / 4 + 3 * t / 4   (beta  = 1/4)
# from (l0 = first y, t0 = 0). Spark folds elements 2..n with
# aggregate() and a struct accumulator; DuckDB advances the identical
# recurrence one row per recursive-CTE step. Identical left-associative
# operation order => bit-identical doubles.


def _q_holt_forecast(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("yc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("yc").alias("s"))
    )
    g = daily.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("s")))
        ).alias("arr")
    )
    folded = g.select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        F.aggregate(
            F.expr("slice(arr, 2, size(arr) - 1)"),
            F.expr(
                "named_struct('l', CAST(arr[0].s AS DOUBLE),"
                " 't', CAST(0.0 AS DOUBLE))"
            ),
            lambda acc, x: F.struct(
                ((x["s"].cast("double") + acc["l"] + acc["t"]) / F.lit(2.0))
                .alias("l"),
                (
                    (
                        (x["s"].cast("double") + acc["l"] + acc["t"])
                        / F.lit(2.0)
                        - acc["l"]
                    )
                    / F.lit(4.0)
                    + F.lit(3.0) * acc["t"] / F.lit(4.0)
                ).alias("t"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.expr("CAST(floor(1000000.0 * st.l) AS BIGINT)")
        .alias("level_micro"),
        F.expr("CAST(floor(1000000.0 * st.t) AS BIGINT)")
        .alias("trend_micro"),
        F.expr("CAST(floor(1000000.0 * (st.l + 7.0 * st.t)) AS BIGINT)")
        .alias("forecast7_micro"),
    )


_HOLT_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ),
    rec AS (
      SELECT event_type, rn, n_days,
             CAST(s AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS t
      FROM series WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.n_days,
             (CAST(s.s AS DOUBLE) + r.l + r.t) / 2,
             ((CAST(s.s AS DOUBLE) + r.l + r.t) / 2 - r.l) / 4
               + 3 * r.t / 4
      FROM rec r JOIN series s
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(1000000.0 * l) AS BIGINT) AS level_micro,
           CAST(floor(1000000.0 * t) AS BIGINT) AS trend_micro,
           CAST(floor(1000000.0 * (l + 7.0 * t)) AS BIGINT)
             AS forecast7_micro
    FROM rec WHERE rn = n_days
    """

register(TEXT, "holt_forecast", _q_holt_forecast, _HOLT_SQL)
