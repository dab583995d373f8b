"""Round-5v registry batch — two new operator families:

- ``longest_streak``: gaps-and-islands — the longest run of
  consecutive active days per user (the retention/engagement metric
  next to cohort_retention's calendar matrix). Day index by exact
  integer division, island key = day − row_number (the classic
  constant-within-a-run difference), two hash aggregates around one
  user-keyed window. Pure integers end to end.
- ``chisq_independence``: chi-square test of independence over the
  full lang × source contingency grid of the documents table —
  including structurally-zero cells (built from the two tiny dimension
  frames, broadcast; a per-observed-cell-only version would understate
  the statistic). The O−E difference is formed in exact BIGINT
  (O·N − r·c) and only the square/ratio runs in one shared double
  tree floored at micro precision.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
streak or independence-test surface — these extend the analytics axis
the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# longest_streak. distinct (user, day) -> island = day - row_number
# over the per-user day order (constant within a consecutive run) ->
# per-island length/start -> per-user max length with earliest-start
# tie-break, plus the total active-day count. The window partitions by
# user (never the corpus), both aggregates combine map-side.


def _q_longest_streak(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("day").alias("run_start"),
    )
    # tie-break key encodes (-run_len, run_start) into ONE BIGINT:
    # run_len <= days-in-corpus and 0 <= run_start < 1e12, so the
    # composite is monotone and min_by works identically on both
    # engines (DuckDB's min_by takes no tuple ordering key).
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.expr("min_by(run_start, run_start - run_len * 1000000000000)")
        .alias("streak_start_day"),
        F.sum("run_len").alias("active_days"),
    )


_STREAK_SQL = f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island,
             CAST(count(*) AS BIGINT) AS run_len,
             CAST(min(day) AS BIGINT) AS run_start
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(min_by(run_start, run_start - run_len * 1000000000000)
                AS BIGINT) AS streak_start_day,
           CAST(sum(run_len) AS BIGINT) AS active_days
    FROM runs GROUP BY user_id
    """

register(TEXT, "longest_streak", _q_longest_streak, _STREAK_SQL)


# --------------------------------------------------------------------------
# chisq_independence. Full lang x source grid: observed counts per
# cell, row totals r, col totals c, grand total N. Expected-count
# milli = (r*c*1000) // N exact integer; the chi contribution is
# (O*N - r*c)^2 / (N*r*c) with the difference exact BIGINT and the
# square/ratio in the shared double tree. The grid is built by
# crossing the two tiny dimension frames (broadcast 1-side), then
# LEFT-joining the observed cells — structurally-zero cells stay in.


def _chi_cell_expr() -> str:
    dd = "CAST(obs * n_total - r_total * c_total AS DOUBLE)"
    den = ("(CAST(n_total AS DOUBLE) * CAST(r_total AS DOUBLE)"
           " * CAST(c_total AS DOUBLE))")
    return f"CAST(floor(1000000.0 * ({dd} * {dd}) / {den}) AS BIGINT)"


def _q_chisq_independence(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("obs")
    )
    rows = d.groupBy("lang").agg(F.count(F.lit(1)).alias("r_total"))
    cols = d.groupBy("source").agg(F.count(F.lit(1)).alias("c_total"))
    n = d.agg(F.count(F.lit(1)).alias("n_total"))
    grid = (
        rows.crossJoin(F.broadcast(cols))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
            "r_total",
            "c_total",
            "n_total",
        )
    )
    return grid.select(
        "lang",
        "source",
        "obs",
        F.expr("(r_total * c_total * 1000) div n_total")
        .alias("expected_milli"),
        F.expr(_chi_cell_expr()).alias("chi_micro"),
    )


_CHISQ_SQL = f"""
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY lang, source
    ),
    r AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS r_total
      FROM documents GROUP BY lang
    ),
    c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS c_total
      FROM documents GROUP BY source
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
    grid AS (
      SELECT r.lang, c.source,
             CAST(coalesce(obs.obs, 0) AS BIGINT) AS obs,
             r.r_total, c.c_total, n.n_total
      FROM r CROSS JOIN c CROSS JOIN n
      LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source
    )
    SELECT lang, source, obs,
           CAST(r_total * c_total * 1000 AS BIGINT) // n_total
             AS expected_milli,
           {_chi_cell_expr()} AS chi_micro
    FROM grid
    """

register(TEXT, "chisq_independence", _q_chisq_independence, _CHISQ_SQL)
