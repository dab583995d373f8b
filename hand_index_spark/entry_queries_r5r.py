"""Round-5r registry batch — two new operator families:

- ``basket_lift``: association-rule mining (co-occurrence form, the
  complement of ``event_bigram_mining``'s sequential form) — for each
  unordered event-type pair, the users exhibiting both, plus
  support/confidence/lift in exact ppm (lift's denominator cleared to
  keep everything integer: ``lift_ppm = 1e6 * n * n_ab / (n_a*n_b)``
  via BIGINT division). One distinct + one self-join on user (bounded:
  ≤ |event types| rows per user) + one aggregate.
- ``concentration_metrics``: market-concentration report over the
  per-source document shares — Herfindahl-Hirschman index, top-1
  share, and the exact Gini coefficient via the sorted-cumulative
  formula (a window over the handful of source rows, never the
  corpus), all in exact ppm arithmetic.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
association-mining or concentration surface — these extend the
analytics axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# basket_lift. Per-user distinct event types (≤ 5 rows/user), pair via
# a user-keyed self-join with a < b (bounded fan-out), then counts.
# lift_ppm uses integer cross-multiplied division; all counts BIGINT.


def _q_basket_lift(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    items = e.distinct()
    n_users = items.select("user_id").distinct().count()
    singles = items.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a = items.select("user_id", F.col("event_type").alias("a"))
    b = items.select("user_id", F.col("event_type").alias("b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("a"),
                        F.col("n_single").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("b"),
                        F.col("n_single").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            "a", "b", "n_both", "n_a", "n_b",
            F.expr(f"(1000000 * n_both) div {n_users}").alias("support_ppm"),
            F.expr("(1000000 * n_both) div n_a").alias("confidence_ppm"),
            F.expr(
                f"(1000000 * CAST({n_users} AS BIGINT) * n_both)"
                " div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


_BASKET_SQL = """
    WITH items AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n
              FROM items),
    singles AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_single
      FROM items GROUP BY event_type
    ), pairs AS (
      SELECT x.event_type AS a, y.event_type AS b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items x JOIN items y USING (user_id)
      WHERE x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type
    )
    SELECT p.a, p.b, p.n_both, sa.n_single AS n_a, sb.n_single AS n_b,
           CAST(1000000 * p.n_both AS BIGINT) // (SELECT n FROM nu)
             AS support_ppm,
           CAST(1000000 * p.n_both AS BIGINT) // sa.n_single
             AS confidence_ppm,
           CAST(1000000 * (SELECT n FROM nu) * p.n_both AS BIGINT)
             // (sa.n_single * sb.n_single) AS lift_ppm
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.a
    JOIN singles sb ON sb.event_type = p.b
    """

register(TEXT, "basket_lift", _q_basket_lift, _BASKET_SQL)


# --------------------------------------------------------------------------
# concentration_metrics. Shares over per-source doc counts (a handful
# of rows). HHI_ppm = 1e6 * sum(c^2) / N^2 (integer division); Gini
# via the sorted formula G = (2*sum(i*c_i) - (k+1)*N) / (k*N) with
# c_i ascending, 1-based i — cleared to ppm integer arithmetic.


def _q_concentration_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("c", "source")  # tiny frame: one row per source
    ranked = counts.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("c").alias("n_docs"),
        # double casts: DuckDB's sum(BIGINT) promotes to HUGEINT, so the
        # oracle's // quotients materialize as float64 in pandas (VERDICT
        # r5 item 1b bug class); ppm-scale values are exact in a double
        F.expr("(1000000 * sum(c * c)) div (sum(c) * sum(c))")
        .cast("double").alias("hhi_ppm"),
        F.expr("(1000000 * max(c)) div sum(c)").cast("double")
        .alias("top_share_ppm"),
        F.expr(
            "(1000000 * (2 * sum(i * c) - (count(1) + 1) * sum(c)))"
            " div (count(1) * sum(c))"
        ).cast("double").alias("gini_ppm"),
    )


_CONC_SQL = """
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source
    ), ranked AS (
      SELECT c, CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(1000000 * sum(c * c) AS BIGINT) // (sum(c) * sum(c))
             AS hhi_ppm,
           CAST(1000000 * max(c) AS BIGINT) // sum(c) AS top_share_ppm,
           CAST(1000000 * (2 * sum(i * c) - (count(*) + 1) * sum(c))
                AS BIGINT) // (count(*) * sum(c)) AS gini_ppm
    FROM ranked
    """

register(TEXT, "concentration_metrics", _q_concentration_metrics, _CONC_SQL)
