"""Round-5aaa registry batch — two new operator families:

- ``kaplan_meier``: the Kaplan-Meier survival estimator over user
  lifetimes derived from the event stream — the standard
  churn/retention curve with CENSORING handled correctly (users still
  active at the observation horizon are censored, not counted as
  deaths). Exact at-risk and death counts per distinct lifetime; the
  survival product S(t) = prod (1 - d_i/n_i) is folded left-to-right
  in ascending-lifetime order with the identical operation tree in
  both engines (one divide, one multiply per step, both IEEE-exact
  deterministic), reported as floor-micro.
- ``rfm_segments``: classic RFM customer segmentation over orders —
  recency days / order frequency / monetary cents, all exact
  integers, quintile scores via ntile(5) with a deterministic
  (metric, custkey) tie-break, and the champion/new/at-risk/lost/
  regular segment grid.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
survival or segmentation surface — these extend the retention/eval
axis a 100-TB web-corpus operator needs (cohort_retention and
time_to_convert are the existing neighbors).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000

# Users whose last event is more than this many days before the
# global observation horizon are CHURNED (death observed at their
# lifetime); anyone active within the gap is CENSORED at theirs.
_CHURN_GAP_DAYS = 8


# --------------------------------------------------------------------------
# kaplan_meier. Lifetime = last_day - first_day per user. The
# groupBy(user_id) is the only data-sized shuffle; everything after
# runs on <= (max lifetime in days) rows, so the single-partition
# ordered window and the one-group fold are aggregate-sized by
# construction (a bounded calendar range, NOT O(corpus)). The
# survival product never uses ln/exp (libm-unsafe): it is a
# left-associative double fold, bit-identical across engines.


def _q_kaplan_meier(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
    per_user = e.select("user_id", day.alias("day")).groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    hz = per_user.groupBy().agg(
        F.max("last_day").alias("horizon"),
        F.count(F.lit(1)).alias("n_users"),
    )
    du = per_user.crossJoin(F.broadcast(hz)).select(
        (F.col("last_day") - F.col("first_day")).alias("lifetime"),
        F.expr(
            f"CASE WHEN last_day <= horizon - {_CHURN_GAP_DAYS}"
            " THEN 1 ELSE 0 END"
        ).alias("observed"),
        "n_users",
    )
    g = du.groupBy("lifetime", "n_users").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("observed").alias("n_deaths"),
    )
    # at-risk = users whose lifetime >= t  (calendar-bounded rows only)
    w = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risked = g.select(
        "lifetime",
        "n_deaths",
        (
            F.col("n_users")
            - F.coalesce(F.sum("n_all").over(w), F.lit(0))
        ).alias("n_risk"),
    ).where(F.col("n_deaths") > 0)
    arr = risked.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("lifetime", "n_risk", "n_deaths"))
        ).alias("arr")
    )
    folded = arr.select(
        F.aggregate(
            "arr",
            F.expr(
                "named_struct('prod', CAST(1.0 AS DOUBLE), 'rows',"
                " CAST(array() AS"
                " array<struct<lifetime:bigint,n_risk:bigint,"
                "n_deaths:bigint,surv:double>>))"
            ),
            lambda acc, x: F.struct(
                (
                    acc["prod"]
                    * (
                        (x["n_risk"] - x["n_deaths"]).cast("double")
                        / x["n_risk"].cast("double")
                    )
                ).alias("prod"),
                F.concat(
                    acc["rows"],
                    F.array(
                        F.struct(
                            x["lifetime"].alias("lifetime"),
                            x["n_risk"].alias("n_risk"),
                            x["n_deaths"].alias("n_deaths"),
                            (
                                acc["prod"]
                                * (
                                    (x["n_risk"] - x["n_deaths"]).cast(
                                        "double"
                                    )
                                    / x["n_risk"].cast("double")
                                )
                            ).alias("surv"),
                        )
                    ),
                ).alias("rows"),
            ),
        ).alias("st")
    )
    out = folded.select(F.explode(F.col("st.rows")).alias("r"))
    return out.select(
        F.col("r.lifetime").alias("lifetime_days"),
        # double cast: the oracle's recursive-CTE n_risk arithmetic is
        # HUGEINT-promoted -> float64 in pandas (VERDICT r5 item 1b bug
        # class); counts are small, exact in a double
        F.col("r.n_risk").cast("double").alias("n_risk"),
        F.col("r.n_deaths").alias("n_deaths"),
        F.expr("CAST(floor(1000000.0 * r.surv) AS BIGINT)").alias(
            "surv_micro"
        ),
    )


_KM_SQL = f"""
    WITH RECURSIVE peru AS (
      SELECT user_id,
             min(epoch_us(ts) // {_DAY_US}) AS first_day,
             max(epoch_us(ts) // {_DAY_US}) AS last_day
      FROM events GROUP BY user_id
    ),
    hz AS (
      SELECT max(last_day) AS horizon,
             CAST(count(*) AS BIGINT) AS n_users
      FROM peru
    ),
    du AS (
      SELECT CAST(p.last_day - p.first_day AS BIGINT) AS lifetime,
             CASE WHEN p.last_day <= h.horizon - {_CHURN_GAP_DAYS}
                  THEN 1 ELSE 0 END AS observed,
             h.n_users
      FROM peru p, hz h
    ),
    g AS (
      SELECT lifetime, n_users,
             CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(observed) AS BIGINT) AS n_deaths
      FROM du GROUP BY lifetime, n_users
    ),
    risked AS (
      SELECT lifetime, n_deaths,
             n_users - COALESCE(sum(n_all) OVER (
               ORDER BY lifetime
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS n_risk
      FROM g
    ),
    d AS (
      SELECT lifetime, n_risk, n_deaths,
             row_number() OVER (ORDER BY lifetime) AS rn
      FROM risked WHERE n_deaths > 0
    ),
    rec AS (
      SELECT lifetime, n_risk, n_deaths, rn,
             1.0 * (CAST(n_risk - n_deaths AS DOUBLE)
                    / CAST(n_risk AS DOUBLE)) AS surv
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.lifetime, d.n_risk, d.n_deaths, d.rn,
             rec.surv * (CAST(d.n_risk - d.n_deaths AS DOUBLE)
                         / CAST(d.n_risk AS DOUBLE))
      FROM rec JOIN d ON d.rn = rec.rn + 1
    )
    SELECT lifetime AS lifetime_days, n_risk, n_deaths,
           CAST(floor(1000000.0 * surv) AS BIGINT) AS surv_micro
    FROM rec
    """

register(TEXT, "kaplan_meier", _q_kaplan_meier, _KM_SQL)


# --------------------------------------------------------------------------
# rfm_segments. One groupBy(custkey) over orders, then three
# customer-count-sized ntile windows (quintiles need a global rank by
# definition; at 100 TB the drop-in replacement is ntile over
# approx-quantile bucket boundaries — the exact global sort here is
# the small-dim path, like ntile_buckets). Deterministic tie-breaks
# by custkey on every window. All outputs exact integers/strings.


_SEGMENT_CASE = """
    CASE
      WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
      WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
      WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      WHEN r_score <= 2 AND f_score <= 2 THEN 'lost'
      ELSE 'regular'
    END
"""


def _q_rfm_segments(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    day = F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div {_DAY_US}")
    per = o.select(
        "o_custkey",
        day.alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("cents").alias("monetary_cents"),
    )
    hz = per.groupBy().agg(F.max("last_day").alias("horizon"))
    base = per.crossJoin(F.broadcast(hz)).select(
        F.col("o_custkey").alias("custkey"),
        (F.col("horizon") - F.col("last_day")).alias("recency_days"),
        "freq",
        "monetary_cents",
    )
    w_r = Window.orderBy(F.col("recency_days").asc(), F.col("custkey").asc())
    w_f = Window.orderBy(F.col("freq").asc(), F.col("custkey").asc())
    w_m = Window.orderBy(
        F.col("monetary_cents").asc(), F.col("custkey").asc()
    )
    scored = base.select(
        "custkey",
        "recency_days",
        "freq",
        "monetary_cents",
        (F.lit(6) - F.ntile(5).over(w_r)).cast("long").alias("r_score"),
        F.ntile(5).over(w_f).cast("long").alias("f_score"),
        F.ntile(5).over(w_m).cast("long").alias("m_score"),
    )
    return scored.select(
        "custkey",
        "recency_days",
        "freq",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.expr(_SEGMENT_CASE).alias("segment"),
    )


_RFM_SQL = f"""
    WITH per AS (
      SELECT o_custkey AS custkey,
             max(epoch_us(o_orderdate) // {_DAY_US}) AS last_day,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    hz AS (SELECT max(last_day) AS horizon FROM per),
    base AS (
      SELECT p.custkey,
             CAST(h.horizon - p.last_day AS BIGINT) AS recency_days,
             p.freq, p.monetary_cents
      FROM per p, hz h
    ),
    scored AS (
      SELECT custkey, recency_days, freq, monetary_cents,
             CAST(6 - ntile(5) OVER (ORDER BY recency_days, custkey)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY freq, custkey)
                  AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary_cents, custkey)
                  AS BIGINT) AS m_score
      FROM base
    )
    SELECT custkey, recency_days, freq, monetary_cents,
           r_score, f_score, m_score,
           {_SEGMENT_CASE} AS segment
    FROM scored
    """

register(TEXT, "rfm_segments", _q_rfm_segments, _RFM_SQL)
