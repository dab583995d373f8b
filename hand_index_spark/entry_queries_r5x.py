"""Round-5x registry batch — two new operator families:

- ``dtw_distance``: dynamic time warping between each user's daily
  activity series and the fleet-average daily series — the trajectory
  / time-series similarity kernel (which users' spending rhythm
  deviates from the fleet, warping-invariant?). The full DP runs as a
  NESTED fold — outer over the user's series carrying the DP row,
  inner building each new row left-to-right — in Catalyst's
  aggregate() HOF on the Spark side and list_reduce on the DuckDB
  side. Every cell is exact BIGINT (integer cents, integer min/abs),
  so the result is bit-identical with no float protocol needed.
  A Sakoe-Chiba band is unnecessary at these lengths (≤ 31×31), but
  the cost model notes where it would bolt on at scale.
- ``zscore_normalize``: per-event-type standardization — the feature
  -scaling preprocessing op. Mean/variance from exact BIGINT moment
  sums (population variance via n·Σy² − (Σy)² over n²), z-score in
  one shared double tree (IEEE sqrt is correctly rounded on both
  engines) floored at micro precision; the 5-row stats frame joins
  back broadcast — never a corpus shuffle join.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
sequence-similarity or feature-scaling surface — these extend the
trajectory and LLM-pipeline axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.dtw import BIG as _DTW_BIG, dtw_dp_last
from .registry import TEXT, read_table as _t, register

_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# dtw_distance. Series = daily value-cents sums. Reference series =
# per-day fleet total div number of users (exact integer division —
# identical `div`/`//` on both engines). dp[i][j] = |a_i − b_j| +
# min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1]); row 0 is [0, BIG, …],
# each later row starts BIG — the exact fold of operators/dtw.py. At
# 100 TB the per-key series stays bounded (days per window), so the
# fold is O(n·m) per key with no shuffle beyond the two aggregates; its
# Sakoe-Chiba band would cap m per step if windows ever grew unbounded.


def _q_dtw_distance(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("yc"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("yc").alias("s"))
    )
    n_users = daily.select(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    ref = (
        daily.groupBy("day").agg(F.sum("s").alias("tot"))
        .crossJoin(F.broadcast(n_users))
        .select("day", F.expr("tot div n_users").alias("avg_s"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("day"), F.col("avg_s")))
            ).alias("bref")
        )
        .select(F.expr("transform(bref, p -> p.avg_s)").alias("b"))
    )
    per_user = daily.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("s")))
        ).alias("arr")
    ).select(
        "user_id",
        F.expr("transform(arr, p -> p.s)").alias("a"),
    )
    j = per_user.crossJoin(F.broadcast(ref))  # 1-row reference attach
    return j.select(
        "user_id",
        F.size("a").cast("long").alias("n_a"),
        F.size("b").cast("long").alias("n_b"),
        dtw_dp_last("a", "b").alias("dtw_cents"),
    )


_DTW_SQL = f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM daily),
    ref AS (
      SELECT list(CAST(tot // n_users AS BIGINT) ORDER BY day) AS b
      FROM (SELECT day, sum(s) AS tot FROM daily GROUP BY day), nu
    ),
    per_user AS (
      SELECT user_id, list(s ORDER BY day) AS a
      FROM daily GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, a, b,
             list_reduce(
               list_prepend(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, len(b) + 1),
                                  j -> CAST({_DTW_BIG} AS BIGINT))),
                 list_transform(a, av -> [av])),
               (prev, xa) -> list_reduce(
                 list_prepend(CAST([{_DTW_BIG}] AS BIGINT[]),
                              list_transform(range(1, len(b) + 1),
                                             j -> [j])),
                 (newrow, xj) -> list_append(newrow,
                     abs(xa[1] - b[xj[1]])
                     + least(prev[xj[1] + 1],
                             newrow[len(newrow)],
                             prev[xj[1]]))
               )
             ) AS dp
      FROM per_user, ref
    )
    SELECT user_id,
           CAST(len(a) AS BIGINT) AS n_a,
           CAST(len(b) AS BIGINT) AS n_b,
           CAST(dp[len(b) + 1] AS BIGINT) AS dtw_cents
    FROM folded
    """

register(TEXT, "dtw_distance", _q_dtw_distance, _DTW_SQL)


# --------------------------------------------------------------------------
# zscore_normalize. Stats per event_type from exact BIGINT sums; the
# z-score divides by the population standard deviation in ONE shared
# double tree (sqrt is IEEE-correctly-rounded on both engines).
# Degenerate types (zero variance) are excluded by an integer filter.


def _q_zscore_normalize(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    stats = y.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yc").alias("sy"),
        F.expr("sum(yc * yc)").alias("syy"),
    ).where(F.expr("n * syy - sy * sy") > 0)
    z = (
        "CAST(floor(1000000.0 * ((CAST(yc AS DOUBLE)"
        " - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
        " / sqrt(CAST(n * syy - sy * sy AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))) AS BIGINT)"
    )
    return y.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "yc",
        F.expr(z).alias("z_micro"),
    )


_ZSCORE_SQL = """
    WITH y AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(yc) AS BIGINT) AS sy,
             CAST(sum(yc * yc) AS BIGINT) AS syy
      FROM y GROUP BY event_type
    )
    SELECT y.event_id, y.event_type, y.yc,
           CAST(floor(1000000.0 * ((CAST(yc AS DOUBLE)
                - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))) AS BIGINT)
             AS z_micro
    FROM y JOIN stats ON y.event_type = stats.event_type
    WHERE n * syy - sy * sy > 0
    """

register(TEXT, "zscore_normalize", _q_zscore_normalize, _ZSCORE_SQL)
