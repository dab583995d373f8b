"""Statistics and evaluation queries: ranking metrics, survival curves,
robust and weighted estimators, rank correlations, hypothesis tests,
distances between distributions, sketches, histograms, control charts
and feature scaling.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# ``ab_test_ztest``: two-proportion z-test — the experimentation
# primitive: split users into arms (user_id parity), compare purchase
# conversion, report the pooled-variance z statistic. Counts are
# exact BIGINTs; z is ONE double expression with identical operation
# order on both engines, floored at micro precision (the
# geodesic/trig contract applied to statistics).
#
# ab_test_ztest. Arms by user parity; conversion = user made >= 1
# HIGH-VALUE purchase (value >= 200 — plain purchases are near-
# universal at this event density, which degenerates p to 1).
# z = (p1 - p0) / sqrt(p*(1-p)*(1/n0 + 1/n1)), pooled
# p = (x0+x1)/(n0+n1); NULL when pooled variance is 0 (all or none
# converted). Rendered once as a shared expression string so both
# engines evaluate the identical double tree; z floored at 1e-6.

_AB_VALUE_MIN = 200.0


def _z_expr() -> str:
    # n0,x0,n1,x1 are BIGINT columns in scope
    p0 = "(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    p1 = "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    p = "(CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
    se = (
        f"sqrt({p} * (1.0 - {p}) "
        f"* (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))"
    )
    return (
        "CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN NULL "
        f"ELSE CAST(floor(({p1} - {p0}) / {se} * 1000000.0) AS BIGINT) END"
    )


def _q_ab_test_ztest(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= _AB_VALUE_MIN),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    wide = (
        arms.filter(F.col("arm") == 0)
        .select(F.col("n").alias("n0"), F.col("x").alias("x0"))
        .crossJoin(
            F.broadcast(
                arms.filter(F.col("arm") == 1)
                .select(F.col("n").alias("n1"), F.col("x").alias("x1"))
            )
        )
    )
    return wide.select(
        "n0", "x0", "n1", "x1", F.expr(_z_expr()).alias("z_micro")
    )


_AB_SQL = f"""
    WITH users AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                       AND value >= {_AB_VALUE_MIN}
                      THEN 1 ELSE 0 END) AS converted,
             CAST(user_id % 2 AS INT) AS arm
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY arm
    )
    SELECT a0.n AS n0, a0.x AS x0, a1.n AS n1, a1.x AS x1,
           {_z_expr()} AS z_micro
    FROM (SELECT n, x FROM arms WHERE arm = 0) a0,
         (SELECT n, x FROM arms WHERE arm = 1) a1
    """

register(TEXT, "ab_test_ztest", _q_ab_test_ztest, _AB_SQL)


# --------------------------------------------------------------------------
# ``value_histogram``: exact equi-width histogram of the event value
# per event type — bin counts plus per-bin exact integer sums (cents)
# so downstream can reconstruct means without re-scanning. Bins are
# closed-form integer arithmetic (``floor(cents / width)``), one hash
# aggregate — the profiling stage every ingest pipeline runs.
#
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


# --------------------------------------------------------------------------
# ``calibration_bins``: reliability diagram — a deterministic hashed
# "score" per doc binned into deciles, compared against a
# deterministic outcome; per bin: count, mean predicted score (ppm,
# exact integer division), and observed positive rate (ppm). The
# probability-calibration audit run on every trained classifier.
#
# calibration_bins. score_micro in [0, 1e6) from the doc-id hash;
# outcome = 1 iff a SECOND independent hash lands below the score
# (so the synthetic "model" is well-calibrated by construction and
# the observed rate tracks the bin mean — asserted loosely in the
# pytest, exactly via the oracle).

_CAL_BINS = 10


def _q_calibration_bins(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    s = d.select(
        "doc_id",
        ((F.col("doc_id") * 2654435761) % 1000000).alias("score_micro"),
        ((F.col("doc_id") * 40503 + 12345) % 1000000).alias("u"),
    ).select(
        "score_micro",
        F.expr(f"score_micro div {1000000 // _CAL_BINS}").alias("bin"),
        F.when(F.col("u") < F.col("score_micro"), 1).otherwise(0)
        .alias("outcome"),
    )
    return s.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum(score_micro) div count(1)").alias("mean_score_micro"),
        F.expr("(1000000 * sum(outcome)) div count(1)")
        .alias("observed_ppm"),
    )


_CAL_SQL = f"""
    WITH s AS (
      SELECT (doc_id * 2654435761) % 1000000 AS score_micro,
             (doc_id * 40503 + 12345) % 1000000 AS u
      FROM documents
    ), b AS (
      SELECT score_micro,
             score_micro // {1000000 // _CAL_BINS} AS bin,
             CASE WHEN u < score_micro THEN 1 ELSE 0 END AS outcome
      FROM s
    )
    SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(score_micro) AS BIGINT) // count(*)
             AS mean_score_micro,
           CAST(1000000 * sum(outcome) AS BIGINT) // count(*)
             AS observed_ppm
    FROM b GROUP BY bin
    """

register(TEXT, "calibration_bins", _q_calibration_bins, _CAL_SQL)


# --------------------------------------------------------------------------
# ``column_entropy``: information-theoretic profiling — Shannon
# entropy of low-cardinality columns, the signal a layout/compression
# advisor reads next to run-length stats. The non-associative float
# sum is avoided by quantizing each term FIRST
# (``floor(1e6 * c * log2(c))`` per distinct value — exact BIGINT,
# order-free) so the report is bit-identical on any partitioning:
# ``h_micro = (floor(1e6*log2(N)) * N - S_micro) div N``.


def _q_column_entropy(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events")
    frames = []
    for col_name, df in (
        ("documents.lang", d.select(F.col("lang").alias("v"))),
        ("documents.source", d.select(F.col("source").alias("v"))),
        ("events.event_type", e.select(F.col("event_type").alias("v"))),
    ):
        cnt = df.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
        agg = cnt.agg(
            F.sum("c").alias("n"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.floor(F.lit(1000000.0) * F.col("c") * F.log2("c"))
                .cast("long")
            ).alias("s_micro"),
        )
        frames.append(
            agg.select(
                F.lit(col_name).alias("col_name"),
                "n",
                "n_distinct",
                "s_micro",
                # clamp at 0 (per-term flooring can push a zero-entropy
                # column's numerator a hair negative) and use integer
                # division — float-division casts round differently
                # across engines
                # cast to double: the oracle's BIGINT // over a
                # HUGEINT-promoted operand materializes as float64 in
                # pandas (same bug class as VERDICT r5 item 1b); the
                # quotient is ppm-scale, exact in a double
                F.expr(
                    "greatest(CAST(floor(1000000.0 * log2(n)) AS BIGINT)"
                    " * n - s_micro, CAST(0 AS BIGINT)) div n"
                ).cast("double").alias("h_micro"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def _entropy_sql() -> str:
    parts = []
    for col_name, table, col in (
        ("documents.lang", "documents", "lang"),
        ("documents.source", "documents", "source"),
        ("events.event_type", "events", "event_type"),
    ):
        parts.append(f"""
    SELECT '{col_name}' AS col_name,
           CAST(sum(c) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(CAST(floor(1000000.0 * c * log2(c)) AS BIGINT))
                AS BIGINT) AS s_micro,
           greatest(CAST(floor(1000000.0 * log2(CAST(sum(c) AS DOUBLE)))
                         AS BIGINT) * CAST(sum(c) AS BIGINT)
                    - sum(CAST(floor(1000000.0 * c * log2(c)) AS BIGINT)),
                    CAST(0 AS BIGINT))
             // CAST(sum(c) AS BIGINT) AS h_micro
    FROM (SELECT {col} AS v, CAST(count(*) AS BIGINT) AS c
          FROM {table} GROUP BY {col})""")
    return " UNION ALL ".join(parts)


register(TEXT, "column_entropy", _q_column_entropy, _entropy_sql())


# --------------------------------------------------------------------------
# ``quantile_sketch``: mergeable fixed-bin quantile estimation — the
# third sketch next to CMS and HLL: per event type, estimate
# p50/p90/p99 from $20-wide bin counts (the mergeable summary a
# 10^12-row pipeline keeps per partition) AND report the exact
# nearest-rank quantile next to it, so the result row carries its own
# measured error, which is bounded by one bin width by construction
# (pytest-pinned). All integer arithmetic: nearest-rank targets via
# ``(pct*n + 99) div 100``, estimates as bin upper bounds — no float
# interpolation anywhere, so both engines agree bit-for-bit.

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
# ``linear_trend``: per-group ordinary-least-squares regression — the
# trend detector a crawl-analytics stack runs over daily metrics
# (is this event type's value drifting?). All five moments are EXACT
# BIGINT sums (day index x cents), and slope / intercept / r^2 come
# out of ONE shared double tree floored at micro precision, so the
# floats hash-match bit-for-bit between engines.
#
# linear_trend. Per event_type OLS of value-cents (y) against the epoch
# day index (x). The moment sums n, sx, sy, sxx, syy, sxy are exact
# BIGINTs (day <= ~2e4, cents <= ~5e4, n <= ~2e5 at sf0.1 — every
# product stays far below 2^63). The derived statistics divide the
# centered BIGINT cross-moments in ONE shared double tree:
#   nxx = n*sxx - sx*sx   nyy = n*syy - sy*sy   nxy = n*sxy - sx*sy
#   slope     = nxy / nxx
#   intercept = (sy - slope * sx) / n
#   r^2       = nxy^2 / (nxx * nyy)
# floored at micro precision. Groups with a degenerate x or y spread
# (nxx = 0 or nyy = 0) are excluded by an integer HAVING — no NaN/inf
# ever enters the result. One groupBy with map-side partial aggregation;
# no window, no join, no Python.


_DAY_US = 86_400_000_000


def _trend_exprs() -> dict[str, str]:
    # shared Spark-SQL / DuckDB double trees over the BIGINT moments
    nxx = "CAST(n * sxx - sx * sx AS DOUBLE)"
    nyy = "CAST(n * syy - sy * sy AS DOUBLE)"
    nxy = "CAST(n * sxy - sx * sy AS DOUBLE)"
    slope = f"({nxy} / {nxx})"
    icept = f"((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))"
    r2 = f"(({nxy} * {nxy}) / ({nxx} * {nyy}))"
    return {
        "slope_micro": f"CAST(floor(1000000.0 * {slope}) AS BIGINT)",
        "intercept_micro": f"CAST(floor(1000000.0 * {icept}) AS BIGINT)",
        "r2_micro": f"CAST(floor(1000000.0 * {r2}) AS BIGINT)",
    }


def _q_linear_trend(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    xy = e.select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    m = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("sum(x * x)").alias("sxx"),
        F.expr("sum(y * y)").alias("syy"),
        F.expr("sum(x * y)").alias("sxy"),
    )
    ex = _trend_exprs()
    return (
        m.where(
            (F.expr("n * sxx - sx * sx") > 0)
            & (F.expr("n * syy - sy * sy") > 0)
        )
        .select(
            "event_type",
            "n",
            F.expr(ex["slope_micro"]).alias("slope_micro"),
            F.expr(ex["intercept_micro"]).alias("intercept_micro"),
            F.expr(ex["r2_micro"]).alias("r2_micro"),
        )
    )


def _trend_sql() -> str:
    ex = _trend_exprs()
    return f"""
    WITH xy AS (
      SELECT event_type,
             epoch_us(ts) // {_DAY_US} AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM xy GROUP BY event_type
    )
    SELECT event_type, n,
           {ex["slope_micro"]} AS slope_micro,
           {ex["intercept_micro"]} AS intercept_micro,
           {ex["r2_micro"]} AS r2_micro
    FROM m
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """


register(TEXT, "linear_trend", _q_linear_trend, _trend_sql())


# --------------------------------------------------------------------------
# ``benford_digits``: Benford's-law first-digit audit over order
# totals — the classic fraud / synthetic-data detector. First
# significant digit via exact integer division (never float log10),
# expected Benford shares as shared integer ppm literals, and the
# chi-square contribution per digit through a shared double tree.
#
# benford_digits. First significant digit of the order total in cents
# via EXACT integer division (a CASE ladder over powers of ten — never
# float log10, whose rounding at decade boundaries differs between
# engines). Expected Benford shares floor(1e6 * log10(1 + 1/d)) are
# Python-precomputed literals shared by both programs; the chi-square
# contribution per digit is (1e6*O - T*p)^2 / (1e6*T*p), with the
# difference formed in exact BIGINT and only the square/ratio in one
# shared double tree. 9-row result; one aggregate + a 9-row cross of
# the scalar total — no corpus join, no Python.

_BENFORD_PPM = [
    math.floor(1_000_000 * math.log10(1.0 + 1.0 / d)) for d in range(1, 10)
]


def _first_digit_case(col: str, idiv) -> str:
    # powers of ten descending; cents < 1e15 here (totalprice < 1e13)
    branches = []
    for k in range(14, 0, -1):
        p = 10**k
        branches.append(f"WHEN {col} >= {p} AND {col} < {10 * p} "
                        f"THEN {idiv(col, p)}")
    return ("CASE " + " ".join(branches)
            + f" ELSE CAST({col} AS BIGINT) END")


def _benford_ppm_case() -> str:
    branches = " ".join(
        f"WHEN digit = {d} THEN {_BENFORD_PPM[d - 1]}" for d in range(1, 10)
    )
    return f"CAST(CASE {branches} END AS BIGINT)"


def _chi_expr() -> str:
    # dd = 1e6*obs - total*ppm  (BIGINT, exact);  chi = dd^2/(1e6*T*p)
    dd = "CAST(1000000 * obs_count - total_n * benford_ppm AS DOUBLE)"
    den = "(1000000.0 * CAST(total_n AS DOUBLE) * CAST(benford_ppm AS DOUBLE))"
    return f"CAST(floor(1000000.0 * ({dd} * {dd}) / {den}) AS BIGINT)"


def _q_benford_digits(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c")
    ).where(F.col("c") > 0)
    digit = F.expr(
        _first_digit_case("c", lambda a, b: f"CAST({a} div {b} AS BIGINT)")
    )
    counts = cents.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("obs_count")
    )
    total = cents.agg(F.count(F.lit(1)).alias("total_n"))
    j = counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "obs_count",
        F.expr("(1000000 * obs_count) div total_n").alias("obs_ppm"),
        F.expr(_benford_ppm_case()).alias("benford_ppm"),
        F.col("total_n"),
    )
    return j.select(
        "digit",
        "obs_count",
        "obs_ppm",
        "benford_ppm",
        F.expr(_chi_expr()).alias("chi_micro"),
    )


def _benford_sql() -> str:
    case = _first_digit_case("c", lambda a, b: f"CAST({a} // {b} AS BIGINT)")
    return f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
      WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0
    ),
    counts AS (
      SELECT {case} AS digit, CAST(count(*) AS BIGINT) AS obs_count
      FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total_n FROM cents),
    j AS (
      SELECT digit, obs_count,
             CAST(1000000 * obs_count AS BIGINT) // total_n AS obs_ppm,
             {_benford_ppm_case()} AS benford_ppm,
             total_n
      FROM counts, tot
    )
    SELECT digit, obs_count, obs_ppm, benford_ppm,
           {_chi_expr()} AS chi_micro
    FROM j
    """


register(TEXT, "benford_digits", _q_benford_digits, _benford_sql())


# --------------------------------------------------------------------------
# ``chisq_independence``: chi-square test of independence over the
# full lang × source contingency grid of the documents table —
# including structurally-zero cells (built from the two tiny dimension
# frames, broadcast; a per-observed-cell-only version would understate
# the statistic). The O−E difference is formed in exact BIGINT
# (O·N − r·c) and only the square/ratio runs in one shared double
# tree floored at micro precision.
#
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


# --------------------------------------------------------------------------
# ``kendall_tau``: rank-agreement evaluation — Kendall's tau between
# two per-language document orderings (character length vs whitespace
# token count), the metric an eval stack uses to compare two ranking
# functions. Tie-free by construction (both ranks are tie-broken by
# doc_id into strict total orders, so tau-a applies and C + D =
# n(n−1)/2 exactly); concordant/discordant pairs come from a
# lang-keyed self-join over a 20-doc-per-language frame — bounded
# 20×20 per group, never the corpus. The final tau runs in one
# shared double tree floored at micro precision (never an integer
# division of a possibly-negative numerator, whose `div` truncates on
# Spark but `//` floors on DuckDB).
#
# kendall_tau.

_TAU_K = 20  # docs per language entering the pairwise comparison


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
# ``zscore_normalize``: per-event-type standardization — the feature
# -scaling preprocessing op. Mean/variance from exact BIGINT moment
# sums (population variance via n·Σy² − (Σy)² over n²), z-score in
# one shared double tree (IEEE sqrt is correctly rounded on both
# engines) floored at micro precision; the 5-row stats frame joins
# back broadcast — never a corpus shuffle join.
#
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


# --------------------------------------------------------------------------
# ``psi_drift``: population stability index between the 'view'
# (reference) and 'purchase' (current) value distributions — the
# standard production drift metric. Bin edges are the reference's
# exact nearest-rank deciles (integer cut points); bin assignment is
# an integer cutpoint count; counts are Laplace-smoothed (+1 per
# bin) so no zero-count bin can produce ln(0); the per-bin PSI
# component rounds at 6 dp (the repo's ln() protocol — Math.log and
# libm log agree only to ~1 ulp, and rounding absorbs it).
#
# psi_drift. Reference = 'view' value-cents, current = 'purchase'.
# Cut points: nearest-rank deciles of the reference (positions
# (k*n) div 10 clamped to >= 1, k = 1..9; ties collapse naturally
# because binning counts cutpoints <= y). Laplace +1 smoothing per
# bin; component = (p - q) * ln(p / q) rounded at 6 dp.


def _q_psi_drift(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    ref = y.where(F.col("event_type") == "view").select("yc")
    cur = y.where(F.col("event_type") == "purchase").select("yc")

    wr = Window.orderBy("yc")
    n_ref = ref.count()
    cutpos = [max(1, (k * n_ref) // 10) for k in range(1, 10)]
    cuts = (
        ref.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn").isin(cutpos))
        .groupBy()
        .agg(F.sort_array(F.collect_list("yc")).alias("cuts"))
    )
    binned = (
        ref.withColumn("side", F.lit("ref"))
        .unionByName(cur.withColumn("side", F.lit("cur")))
        .crossJoin(F.broadcast(cuts))
        .select(
            "side",
            F.expr(
                "size(filter(cuts, c -> c <= yc))"
            ).cast("long").alias("bin"),
        )
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.expr("CASE WHEN side = 'ref' THEN 1 ELSE 0 END"))
        .alias("ref_n"),
        F.sum(F.expr("CASE WHEN side = 'cur' THEN 1 ELSE 0 END"))
        .alias("cur_n"),
    )
    tot = counts.groupBy().agg(
        F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
    )
    comp = (
        "round((((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))"
        " - ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE)))"
        " * ln(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))"
        " / ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE))), 6)"
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_n",
        "cur_n",
        F.expr(comp).alias("psi_component"),
    )


_PSI_SQL = """
    WITH y AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    ref AS (SELECT yc FROM y WHERE event_type = 'view'),
    cur AS (SELECT yc FROM y WHERE event_type = 'purchase'),
    nref AS (SELECT count(*) AS n FROM ref),
    ranked AS (
      SELECT yc, row_number() OVER (ORDER BY yc) AS rn FROM ref
    ),
    cuts AS (
      SELECT list(yc ORDER BY yc) AS cuts FROM ranked, nref
      WHERE rn IN (greatest(1, (1 * n) // 10), greatest(1, (2 * n) // 10),
                   greatest(1, (3 * n) // 10), greatest(1, (4 * n) // 10),
                   greatest(1, (5 * n) // 10), greatest(1, (6 * n) // 10),
                   greatest(1, (7 * n) // 10), greatest(1, (8 * n) // 10),
                   greatest(1, (9 * n) // 10))
    ),
    binned AS (
      SELECT side, CAST(len(list_filter(cuts, c -> c <= yc)) AS BIGINT)
               AS bin
      FROM (SELECT yc, 'ref' AS side FROM ref
            UNION ALL SELECT yc, 'cur' AS side FROM cur), cuts
    ),
    counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_n,
             CAST(sum(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
               AS cur_n
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT sum(ref_n) AS ref_tot, sum(cur_n) AS cur_tot FROM counts
    )
    SELECT bin, ref_n, cur_n,
           round((((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))
                - ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE)))
               * ln(((ref_n + 1) / CAST(ref_tot + 10 AS DOUBLE))
                  / ((cur_n + 1) / CAST(cur_tot + 10 AS DOUBLE))), 6)
             AS psi_component
    FROM counts, tot
    """

register(TEXT, "psi_drift", _q_psi_drift, _PSI_SQL)


# --------------------------------------------------------------------------
# ``rrf_fusion``: reciprocal-rank fusion of two per-language document
# rankings (char-length and whitespace-token orderings) — the
# standard way a search stack combines BM25/dense/heuristic rankers.
# Contributions are EXACT integers floor(1e9 / (60 + rank)) summed
# per document (never a float sum, whose order would matter), with a
# deterministic top-10 per language by (fused score desc, doc_id).
#
# rrf_fusion.

_RRF_TOP = 50

_RRF_OUT = 10


def _q_rrf_fusion(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.length("text").cast("long").alias("chars"),
        F.size(F.split("text", " ")).cast("long").alias("toks"),
    )
    wa = Window.partitionBy("lang").orderBy(
        F.col("chars").desc(), F.col("doc_id")
    )
    wb = Window.partitionBy("lang").orderBy(
        F.col("toks").desc(), F.col("doc_id")
    )
    ranked = d.select(
        "lang",
        "doc_id",
        F.row_number().over(wa).cast("long").alias("rank_a"),
        F.row_number().over(wb).cast("long").alias("rank_b"),
    )
    top = ranked.where(
        (F.col("rank_a") <= _RRF_TOP) | (F.col("rank_b") <= _RRF_TOP)
    )
    contrib = (
        f"CASE WHEN rank_a <= {_RRF_TOP}"
        f" THEN CAST(1000000000 div (60 + rank_a) AS BIGINT) ELSE 0 END"
        f" + CASE WHEN rank_b <= {_RRF_TOP}"
        f" THEN CAST(1000000000 div (60 + rank_b) AS BIGINT) ELSE 0 END"
    )
    fused = top.select(
        "lang",
        "doc_id",
        "rank_a",
        "rank_b",
        F.expr(contrib).alias("rrf_nano"),
    )
    wf = Window.partitionBy("lang").orderBy(
        F.col("rrf_nano").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .where(F.col("fused_rank") <= _RRF_OUT)
    )


_RRF_SQL = f"""
    WITH d AS (
      SELECT lang, doc_id,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY chars DESC, doc_id) AS BIGINT) AS rank_a,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY toks DESC, doc_id) AS BIGINT) AS rank_b
      FROM d
    ),
    fused AS (
      SELECT lang, doc_id, rank_a, rank_b,
             CAST(CASE WHEN rank_a <= {_RRF_TOP}
                       THEN 1000000000 // (60 + rank_a) ELSE 0 END
                + CASE WHEN rank_b <= {_RRF_TOP}
                       THEN 1000000000 // (60 + rank_b) ELSE 0 END
                  AS BIGINT) AS rrf_nano
      FROM ranked
      WHERE rank_a <= {_RRF_TOP} OR rank_b <= {_RRF_TOP}
    )
    SELECT lang, doc_id, rank_a, rank_b, rrf_nano,
           CAST(row_number() OVER (PARTITION BY lang
                  ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_OUT}
    """

register(TEXT, "rrf_fusion", _q_rrf_fusion, _RRF_SQL)


# --------------------------------------------------------------------------
# ``roc_auc``: exact ROC AUC per language via the Mann-Whitney
# rank-sum with PROPER midrank tie handling, kept integral by
# doubling: 2·midrank = 2·(count below) + (tied count) + 1, so
# AUC = (Σ2mr⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is a ratio of exact BIGINTs
# floored at ppm. Scores/outcomes reuse the calibration_bins
# synthetic well-calibrated model (score and an independent uniform
# hash), so AUC lands near the analytic value for a calibrated
# scorer (pytest-pinned loosely; exactly vs the oracle).
#
# roc_auc. Midranks doubled to stay integral; per-score-group window
# cumsum runs inside each language partition only.


def _q_roc_auc(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    s = d.select(
        "lang",
        ((F.col("doc_id") * 2654435761) % 1000000).alias("score"),
        F.when(
            (F.col("doc_id") * 40503 + 12345) % 1000000
            < (F.col("doc_id") * 2654435761) % 1000000,
            1,
        )
        .otherwise(0)
        .alias("outcome"),
    )
    g = s.groupBy("lang", "score").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("outcome").alias("pos"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mr = g.select(
        "lang",
        "c",
        "pos",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("below"),
    )
    agg = mr.groupBy("lang").agg(
        F.sum("pos").alias("n_pos"),
        F.expr("sum(c - pos)").alias("n_neg"),
        F.expr("sum(pos * (2 * below + c + 1))").alias("sum2mr_pos"),
    )
    return agg.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "lang",
        "n_pos",
        "n_neg",
        F.expr(
            "(1000000 * (sum2mr_pos - n_pos * (n_pos + 1)))"
            " div (2 * n_pos * n_neg)"
        ).alias("auc_ppm"),
    )


_AUC_SQL = """
    WITH s AS (
      SELECT lang,
             (doc_id * 2654435761) % 1000000 AS score,
             CASE WHEN (doc_id * 40503 + 12345) % 1000000
                       < (doc_id * 2654435761) % 1000000
                  THEN 1 ELSE 0 END AS outcome
      FROM documents
    ),
    g AS (
      SELECT lang, score,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(outcome) AS BIGINT) AS pos
      FROM s GROUP BY lang, score
    ),
    mr AS (
      SELECT lang, c, pos,
             CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM g
    ),
    agg AS (
      SELECT lang,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(c - pos) AS BIGINT) AS n_neg,
             CAST(sum(pos * (2 * below + c + 1)) AS BIGINT) AS sum2mr_pos
      FROM mr GROUP BY lang
    )
    SELECT lang, n_pos, n_neg,
           CAST(1000000 * (sum2mr_pos - n_pos * (n_pos + 1)) AS BIGINT)
             // (2 * n_pos * n_neg) AS auc_ppm
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    """

register(TEXT, "roc_auc", _q_roc_auc, _AUC_SQL)


# --------------------------------------------------------------------------
# ``theil_sen_slope``: the robust trend estimator — median of all
# pairwise slopes of the per-type daily series (insensitive to
# outliers that break OLS `linear_trend`). The pairwise frame is a
# type-keyed self-join over ≤ 31 day rows (bounded ~465 pairs per
# type); each slope is ONE double division (identical IEEE result on
# both engines), the median is nearest-rank with a deterministic
# (slope, day_i, day_j) tie-break, floored at micro precision.
#
# theil_sen_slope.


def _q_theil_sen_slope(spark, sf_dir):
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
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") < F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.day").alias("di"),
        F.col("b.day").alias("dj"),
        (
            (F.col("b.s") - F.col("a.s")).cast("double")
            / (F.col("b.day") - F.col("a.day")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("n_pairs"),
    )
    med = ranked.where(F.col("rn") == F.expr("(n_pairs + 1) div 2"))
    return med.select(
        "event_type",
        "n_pairs",
        F.expr("CAST(floor(1000000.0 * slope) AS BIGINT)")
        .alias("slope_micro"),
    )


_THEIL_SQL = f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type, a.day AS di, b.day AS dj,
             CAST(b.s - a.s AS DOUBLE) / CAST(b.day - a.day AS DOUBLE)
               AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    ),
    ranked AS (
      SELECT event_type, slope,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY slope, di, dj) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_pairs
      FROM pairs
    )
    SELECT event_type, n_pairs,
           CAST(floor(1000000.0 * slope) AS BIGINT) AS slope_micro
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """

register(TEXT, "theil_sen_slope", _q_theil_sen_slope, _THEIL_SQL)


# --------------------------------------------------------------------------
# ``ndcg_at_k``: NDCG@10 per language — the graded-relevance ranking
# metric that completes the eval suite (confusion/IoU/AUC/
# calibration are classification-side; NDCG grades rankers). Graded
# relevance 0–3 from the deterministic hash, ranking by score with a
# doc_id tie-break (strict order), DCG = Σ (2^rel − 1)/log2(pos+1).
# The gain numerators are exact integers; the log2 division runs in
# one shared double tree and the final NDCG rounds at 6 dp (the repo
# ln() protocol — log2 = ln/ln(2) differs by ≤ ulps between
# engines).
#
# ndcg_at_k. score from the calibration hash; rel = doc_id * 48271 %
# 4 (graded 0..3). DCG over the score ranking's top-10; IDCG over the
# relevance ranking's top-10. gain = 2^rel - 1 in {0,1,3,7} exact.

_NDCG_K = 10


def _q_ndcg_at_k(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    s = d.select(
        "lang",
        "doc_id",
        ((F.col("doc_id") * 2654435761) % 1000000).alias("score"),
        ((F.col("doc_id") * 48271) % 4).cast("long").alias("rel"),
    )
    wr = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    wi = Window.partitionBy("lang").orderBy(
        F.col("rel").desc(), F.col("doc_id")
    )
    ranked = s.select(
        "lang",
        "rel",
        F.row_number().over(wr).cast("long").alias("pos"),
        F.row_number().over(wi).cast("long").alias("ipos"),
    )
    gain = "CAST(pow(2, rel) - 1 AS DOUBLE)"
    dcg_term = (
        f"CASE WHEN pos <= {_NDCG_K}"
        f" THEN {gain} * ln(2.0) / ln(CAST(pos + 1 AS DOUBLE))"
        f" ELSE 0.0 END"
    )
    idcg_term = (
        f"CASE WHEN ipos <= {_NDCG_K}"
        f" THEN {gain} * ln(2.0) / ln(CAST(ipos + 1 AS DOUBLE))"
        f" ELSE 0.0 END"
    )
    # sum the per-position terms in a DETERMINISTIC order (by pos /
    # ipos) via sort_array + aggregate so the float sum is
    # order-identical on both engines
    agg = ranked.groupBy("lang").agg(
        F.expr(
            f"aggregate(array_sort(collect_list("
            f"struct(pos, CAST({dcg_term} AS DOUBLE) AS term))),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("dcg"),
        F.expr(
            f"aggregate(array_sort(collect_list("
            f"struct(ipos, CAST({idcg_term} AS DOUBLE) AS term))),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("idcg"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.expr("round(dcg, 6)").alias("dcg_r"),
        F.expr("round(idcg, 6)").alias("idcg_r"),
        F.expr("round(dcg / idcg, 6)").alias("ndcg"),
    )


_NDCG_SQL = f"""
    WITH s AS (
      SELECT lang, doc_id,
             (doc_id * 2654435761) % 1000000 AS score,
             CAST((doc_id * 48271) % 4 AS BIGINT) AS rel
      FROM documents
    ),
    ranked AS (
      SELECT lang, rel,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY score DESC, doc_id) AS BIGINT) AS pos,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY rel DESC, doc_id) AS BIGINT) AS ipos
      FROM s
    ),
    terms AS (
      SELECT lang, pos, ipos,
             CASE WHEN pos <= {_NDCG_K}
                  THEN CAST(pow(2, rel) - 1 AS DOUBLE)
                       * ln(2.0) / ln(CAST(pos + 1 AS DOUBLE))
                  ELSE 0.0 END AS dterm,
             CASE WHEN ipos <= {_NDCG_K}
                  THEN CAST(pow(2, rel) - 1 AS DOUBLE)
                       * ln(2.0) / ln(CAST(ipos + 1 AS DOUBLE))
                  ELSE 0.0 END AS iterm
      FROM ranked
    ),
    agg AS (
      SELECT lang,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list(dterm ORDER BY pos)),
                         (acc, x) -> acc + x) AS dcg,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list(iterm ORDER BY ipos)),
                         (acc, x) -> acc + x) AS idcg,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM terms GROUP BY lang
    )
    SELECT lang, n_docs,
           round(dcg, 6) AS dcg_r,
           round(idcg, 6) AS idcg_r,
           round(dcg / idcg, 6) AS ndcg
    FROM agg
    """

register(TEXT, "ndcg_at_k", _q_ndcg_at_k, _NDCG_SQL)


# --------------------------------------------------------------------------
# ``weighted_median``: exact lower weighted median per language
# (deterministic integer weights): the smallest value whose running
# weight reaches half the total — computed with one ordered cumsum
# window and an integer 2·cum ≥ total threshold. The robust central
# tendency for weighted corpora (dedup-cluster sizes, sampling
# weights), exact in pure integers.
#
# weighted_median. Weight = (doc_id % 7) + 1; value = n_chars; lower
# weighted median per lang via one ordered cumsum window.


def _q_weighted_median(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.col("n_chars").alias("y"),
        ((F.col("doc_id") % 7) + 1).cast("long").alias("w"),
    )
    wl = Window.partitionBy("lang")
    wc = (
        Window.partitionBy("lang")
        .orderBy("y", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "lang",
        "doc_id",
        "y",
        "w",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wl).alias("tot"),
    )
    hit = c.where(2 * F.col("cum") >= F.col("tot"))
    wr = Window.partitionBy("lang").orderBy("y", "doc_id")
    return (
        hit.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "lang",
            F.col("tot").alias("total_weight"),
            F.col("y").alias("wmedian"),
            F.col("doc_id").alias("median_doc_id"),
        )
    )


_WMED_SQL = """
    WITH d AS (
      SELECT lang, doc_id, n_chars AS y,
             CAST((doc_id % 7) + 1 AS BIGINT) AS w
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, y, w,
             CAST(sum(w) OVER (PARTITION BY lang ORDER BY y, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
      FROM d
    ),
    hit AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY y, doc_id)
               AS rn
      FROM c WHERE 2 * cum >= tot
    )
    SELECT lang, tot AS total_weight, y AS wmedian,
           doc_id AS median_doc_id
    FROM hit WHERE rn = 1
    """

register(TEXT, "weighted_median", _q_weighted_median, _WMED_SQL)


# --------------------------------------------------------------------------
# ``spearman_rho``: Spearman rank correlation per language between
# document char-length and token-count — the monotone-association
# twin of Kendall's tau, but O(n) per group instead of pairwise:
# both variables rank tie-broken by doc_id into strict total orders
# (so the classic closed form ρ = 1 − 6Σd²/(n(n²−1)) is exact), Σd²
# is an exact BIGINT, and only the final ratio runs in the shared
# double tree (a possibly-negative integer division would truncate
# on Spark but floor on DuckDB — avoided, the `div`/`//` rule).
#
# spearman_rho.


def _q_spearman_rho(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.length("text").cast("long").alias("a_key"),
        F.size(F.split("text", " ")).cast("long").alias("b_key"),
    )
    wa = Window.partitionBy("lang").orderBy("a_key", "doc_id")
    wb = Window.partitionBy("lang").orderBy("b_key", "doc_id")
    ranked = d.select(
        "lang",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb"),
    )
    agg = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("sum((ra - rb) * (ra - rb))").alias("sum_d2"),
    )
    rho = (
        "CAST(floor(1000000.0 * (1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " - 1.0)))) AS BIGINT)"
    )
    return agg.where(F.col("n") > 1).select(
        "lang", "n", "sum_d2", F.expr(rho).alias("rho_micro")
    )


_SPEARMAN_SQL = """
    WITH d AS (
      SELECT lang, doc_id,
             CAST(length(text) AS BIGINT) AS a_key,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS b_key
      FROM documents
    ),
    ranked AS (
      SELECT lang,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY a_key, doc_id) AS BIGINT) AS ra,
             CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY b_key, doc_id) AS BIGINT) AS rb
      FROM d
    ),
    agg AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2
      FROM ranked GROUP BY lang
    )
    SELECT lang, n, sum_d2,
           CAST(floor(1000000.0 * (1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - 1.0)))) AS BIGINT) AS rho_micro
    FROM agg WHERE n > 1
    """

register(TEXT, "spearman_rho", _q_spearman_rho, _SPEARMAN_SQL)


# --------------------------------------------------------------------------
# ``fdr_bh``: Benjamini–Hochberg FDR selection over a battery of
# hypothesis tests (deterministic synthetic p-values in exact ppm) —
# the multiple-testing gate every metrics stack needs: sort
# p ascending, find the largest k with p_(k)·m ≤ k·α·m_scale, reject
# exactly the first k. All comparisons integer cross-multiplied; the
# step-up cutoff is computed with one rank window + one max
# aggregate, no iteration.
#
# fdr_bh. m = one test per (lang, source) cell; synthetic p_ppm =
# (hash of the cell's doc-count) spread over [1, 1e6]. alpha = 0.05.
# BH: k* = max { k : p_(k) * m <= k * 50000 }, reject ranks 1..k*.

_FDR_ALPHA_PPM = 50_000  # 0.05 in ppm


def _q_fdr_bh(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # engine-shared arithmetic "hash": n_docs plus ascii/length mixes
    # of the cell labels (DuckDB has no xxhash64; ascii()/length()
    # agree byte-for-byte on this ASCII fixture)
    tests = cells.select(
        "lang",
        "source",
        "n_docs",
        F.expr(
            "CAST((n_docs * 2654435761 + ascii(lang) * 131"
            " + ascii(source) * 17 + length(lang) * 7"
            " + length(source)) % 1000000 + 1 AS BIGINT)"
        ).alias("p_ppm"),
    )
    wk = Window.orderBy("p_ppm", "lang", "source")
    m = Window.partitionBy()
    ranked = tests.select(
        "lang",
        "source",
        "n_docs",
        "p_ppm",
        F.row_number().over(wk).cast("long").alias("k"),
        F.count(F.lit(1)).over(m).cast("long").alias("m_tests"),
    )
    flagged = ranked.withColumn(
        "passes_line",
        F.col("p_ppm") * F.col("m_tests")
        <= F.col("k") * F.lit(_FDR_ALPHA_PPM),
    )
    kstar = flagged.withColumn(
        "k_star",
        F.max(F.when(F.col("passes_line"), F.col("k")).otherwise(0)).over(m),
    )
    return kstar.select(
        "lang",
        "source",
        "p_ppm",
        "k",
        "m_tests",
        (F.col("k") <= F.col("k_star")).alias("rejected"),
    )


_FDR_SQL = f"""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang, source
    ),
    tests AS (
      SELECT lang, source, n_docs,
             CAST((n_docs * 2654435761 + ascii(lang) * 131
                   + ascii(source) * 17 + length(lang) * 7
                   + length(source)) % 1000000 + 1 AS BIGINT) AS p_ppm
      FROM cells
    ),
    ranked AS (
      SELECT lang, source, n_docs, p_ppm,
             CAST(row_number() OVER (ORDER BY p_ppm, lang, source)
                  AS BIGINT) AS k,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM tests
    ),
    flagged AS (
      SELECT *, p_ppm * m_tests <= k * {_FDR_ALPHA_PPM} AS passes_line
      FROM ranked
    ),
    cut AS (
      SELECT *, max(CASE WHEN passes_line THEN k ELSE 0 END) OVER ()
               AS k_star
      FROM flagged
    )
    SELECT lang, source, p_ppm, k, m_tests, k <= k_star AS rejected
    FROM cut
    """

register(TEXT, "fdr_bh", _q_fdr_bh, _FDR_SQL)


# --------------------------------------------------------------------------
# ``emd_1d``: 1-D Earth Mover's (Wasserstein-1) distance between the
# view and purchase value distributions over a shared fixed binning
# — the transport-based drift metric next to ``psi_drift`` (PSI sees
# per-bin ratios; EMD sees how FAR mass moved). On a shared 1-D
# binning EMD = Σ_edges |P_cdf − Q_cdf|, and with cross-multiplied
# integer CDFs (|cum_p·n_q − cum_q·n_p|) the whole statistic is an
# EXACT BIGINT — no float protocol at all.
#
# emd_1d. Shared fixed-width binning (bin = yc div 2500); per-bin
# counts for both sides; CDF difference cross-multiplied to stay
# integral; one global ordered cumsum window over the ~20 bins.

_EMD_BIN = 2500  # cents per bin (values run 1..49002 cents -> ~20 bins)


def _q_emd_1d(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.where(F.col("event_type").isin("view", "purchase")).select(
        "event_type",
        F.expr(f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {_EMD_BIN}")
        .alias("bin"),
    )
    counts = y.groupBy("bin").agg(
        F.sum(F.expr("CASE WHEN event_type = 'view' THEN 1 ELSE 0 END"))
        .alias("p_n"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .alias("q_n"),
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = counts.select(
        "bin",
        "p_n",
        "q_n",
        F.sum("p_n").over(wc).alias("cum_p"),
        F.sum("q_n").over(wc).alias("cum_q"),
        F.sum("p_n").over(wt).alias("np"),
        F.sum("q_n").over(wt).alias("nq"),
    )
    terms = c.select(
        "bin",
        "p_n",
        "q_n",
        F.abs(F.col("cum_p") * F.col("nq") - F.col("cum_q") * F.col("np"))
        .alias("cdf_gap_x"),
        "np",
        "nq",
    )
    agg = terms.groupBy().agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.max("np").alias("n_view"),
        F.max("nq").alias("n_purchase"),
        F.sum("cdf_gap_x").alias("sum_gap_x"),
    )
    # EMD in bin-width units, ppm: 1e6 * sum_gap / (np*nq)
    return agg.select(
        "n_bins",
        "n_view",
        "n_purchase",
        "sum_gap_x",
        F.expr("(1000000 * sum_gap_x) div (n_view * n_purchase)")
        .alias("emd_bins_ppm"),
    )


_EMD_SQL = f"""
    WITH y AS (
      SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) // {_EMD_BIN} AS bin
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    counts AS (
      SELECT bin,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p_n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS q_n
      FROM y GROUP BY bin
    ),
    c AS (
      SELECT bin, p_n, q_n,
             CAST(sum(p_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p,
             CAST(sum(q_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_q,
             CAST(sum(p_n) OVER () AS BIGINT) AS np,
             CAST(sum(q_n) OVER () AS BIGINT) AS nq
      FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(np) AS BIGINT) AS n_view,
           CAST(max(nq) AS BIGINT) AS n_purchase,
           CAST(sum(abs(cum_p * nq - cum_q * np)) AS BIGINT) AS sum_gap_x,
           CAST(1000000 * sum(abs(cum_p * nq - cum_q * np)) AS BIGINT)
             // (max(np) * max(nq)) AS emd_bins_ppm
    FROM c
    """

register(TEXT, "emd_1d", _q_emd_1d, _EMD_SQL)


# --------------------------------------------------------------------------
# ``mutual_information``: mutual information between the lang and
# source labels — the feature-selection / association metric next to
# ``chisq_independence`` (chi-square tests independence; MI measures
# it in nats): per-cell counts exact, each n_ij·ln(n_ij·N/(n_i·n_j))
# term rounded at 6 dp per the repo ln() protocol, summed in a
# deterministic cell order via ordered fold.
#
# mutual_information. MI in nats over the lang x source grid; only
# observed cells contribute (n_ij = 0 terms vanish). Terms are rounded
# at 6 dp EACH and summed in deterministic (lang, source) order via
# ordered fold, so the float sum is order-identical on both engines.


def _q_mutual_information(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nij"))
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wt = Window.partitionBy()
    c = obs.select(
        "lang",
        "source",
        "nij",
        F.sum("nij").over(wl).alias("ni"),
        F.sum("nij").over(ws).alias("nj"),
        F.sum("nij").over(wt).alias("n_total"),
    )
    term = (
        "round((CAST(nij AS DOUBLE) / CAST(n_total AS DOUBLE))"
        " * ln(CAST(nij AS DOUBLE) * CAST(n_total AS DOUBLE)"
        " / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))), 6)"
    )
    terms = c.select(
        "lang", "source", "nij", F.expr(term).alias("mi_term"),
        "n_total",
    )
    agg = terms.groupBy().agg(
        F.max("n_total").alias("n_total"),
        F.count(F.lit(1)).alias("n_cells"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(lang, source,"
            " mi_term))), CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x.mi_term)"
        ).alias("mi_nats_raw"),
    )
    return agg.select(
        "n_total",
        "n_cells",
        F.expr("round(mi_nats_raw, 6)").alias("mi_nats"),
    )


_MI_SQL = """
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS nij
      FROM documents GROUP BY lang, source
    ),
    c AS (
      SELECT lang, source, nij,
             CAST(sum(nij) OVER (PARTITION BY lang) AS BIGINT) AS ni,
             CAST(sum(nij) OVER (PARTITION BY source) AS BIGINT) AS nj,
             CAST(sum(nij) OVER () AS BIGINT) AS n_total
      FROM obs
    ),
    terms AS (
      SELECT lang, source, n_total,
             round((CAST(nij AS DOUBLE) / CAST(n_total AS DOUBLE))
               * ln(CAST(nij AS DOUBLE) * CAST(n_total AS DOUBLE)
               / (CAST(ni AS DOUBLE) * CAST(nj AS DOUBLE))), 6) AS mi_term
      FROM c
    )
    SELECT CAST(max(n_total) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list(mi_term ORDER BY lang, source)),
                 (acc, x) -> acc + x), 6) AS mi_nats
    FROM terms
    """

register(TEXT, "mutual_information", _q_mutual_information, _MI_SQL)


# --------------------------------------------------------------------------
# ``cohens_kappa``: inter-annotator agreement between two
# deterministic synthetic labelers over the documents — the eval
# metric that corrects raw agreement for chance. With integer
# confusion counts, κ = (agree·n − Σᵢ rᵢ·cᵢ) / (n² − Σᵢ rᵢ·cᵢ)
# is a ratio of exact BIGINTs; the possibly-negative numerator goes
# through the shared double tree floor (never an integer division,
# whose negative semantics differ between engines).
#
# cohens_kappa. Labeler A: doc_id*48271 % 4; labeler B: agrees with A
# when doc_id*7919 % 10 < 7 (70% of docs), else doc_id*104729 % 4.


def _q_cohens_kappa(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    lab = d.select(
        ((F.col("doc_id") * 48271) % 4).cast("long").alias("a"),
        F.when(
            (F.col("doc_id") * 7919) % 10 < 7,
            (F.col("doc_id") * 48271) % 4,
        )
        .otherwise((F.col("doc_id") * 104729) % 4)
        .cast("long")
        .alias("b"),
    )
    cm = lab.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nij"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wt = Window.partitionBy()
    c = cm.select(
        "a",
        "b",
        "nij",
        F.sum("nij").over(wa).alias("ra"),
        F.sum("nij").over(wb).alias("cb"),
        F.sum("nij").over(wt).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("nij")).otherwise(0))
        .over(wt)
        .alias("agree"),
    )
    # pe_num = sum over classes k of r_k * c_k; only diagonal rows
    # carry (a == b) — but r*c must sum over ALL classes, so take it
    # from the diagonal rows where a == b (every class has a diagonal
    # row in this fixture; guarded by the pytest)
    diag = c.where(F.col("a") == F.col("b"))
    agg = diag.groupBy().agg(
        F.max("n").alias("n"),
        F.max("agree").alias("agree"),
        F.sum(F.expr("ra * cb")).alias("pe_num"),
    )
    kappa = (
        "CAST(floor(1000000.0 * (CAST(agree * n - pe_num AS DOUBLE)"
        " / CAST(n * n - pe_num AS DOUBLE))) AS BIGINT)"
    )
    return agg.select(
        "n", "agree", "pe_num", F.expr(kappa).alias("kappa_micro")
    )


_KAPPA_SQL = """
    WITH lab AS (
      SELECT CAST((doc_id * 48271) % 4 AS BIGINT) AS a,
             CAST(CASE WHEN (doc_id * 7919) % 10 < 7
                       THEN (doc_id * 48271) % 4
                       ELSE (doc_id * 104729) % 4 END AS BIGINT) AS b
      FROM documents
    ),
    cm AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS nij
      FROM lab GROUP BY a, b
    ),
    c AS (
      SELECT a, b, nij,
             CAST(sum(nij) OVER (PARTITION BY a) AS BIGINT) AS ra,
             CAST(sum(nij) OVER (PARTITION BY b) AS BIGINT) AS cb,
             CAST(sum(nij) OVER () AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN nij ELSE 0 END) OVER ()
                  AS BIGINT) AS agree
      FROM cm
    ),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(max(agree) AS BIGINT) AS agree,
             CAST(sum(ra * cb) AS BIGINT) AS pe_num
      FROM c WHERE a = b
    )
    SELECT n, agree, pe_num,
           CAST(floor(1000000.0 * (CAST(agree * n - pe_num AS DOUBLE)
                / CAST(n * n - pe_num AS DOUBLE))) AS BIGINT)
             AS kappa_micro
    FROM agg
    """

register(TEXT, "cohens_kappa", _q_cohens_kappa, _KAPPA_SQL)


# --------------------------------------------------------------------------
# ``sprt_crossing``: sequential test boundary crossing — for each
# user's ordered event outcomes (a deterministic Bernoulli from the
# event hash), walk the scaled-integer log-likelihood ratio (+2 per
# success, −3 per failure — the exact-integer SPRT surrogate) and
# report the FIRST index crossing either barrier (±24) and the
# decision, or 'continue' if the walk never crosses. Window cumsum +
# min-rank selection, pure integers — the sequential A/B stopping
# rule next to the fixed-horizon `ab_test_ztest`.
#
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


# --------------------------------------------------------------------------
# ``kmv_distinct``: KMV (k-minimum-values / bottom-k theta) distinct
# sketch per language — the third cardinality sketch next to HLL and
# CMS, and the one that supports set algebra (union = merge bottom-k;
# the foundation of theta sketches). Deterministic engine-shared
# integer hash, k = 64 smallest values via one rank window, estimate
# (k−1)·M div h_k in exact integers, reported NEXT TO the exact
# distinct count so every row carries its own measured error.
#
# kmv_distinct. Universe: per-doc token-ish keys doc_id * 37 + i for
# i < doc_id % 5 + 1 (so languages share some keys); hash h(x) =
# (x * 2654435761 + 12345) % M. Estimate = (k - 1) * M div h_k.

_KMV_K = 64

_KMV_M = 1_000_000_007  # hash modulus (prime)


def _q_kmv_distinct(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    keys = d.select(
        "lang",
        F.explode(
            F.expr("sequence(0, CAST(doc_id % 5 AS INT))")
        ).alias("i"),
        "doc_id",
    ).select(
        "lang",
        (F.col("doc_id") * 37 + F.col("i")).alias("x"),
    )
    hashed = keys.select(
        "lang",
        F.expr(f"(x * 2654435761 + 12345) % {_KMV_M}").alias("h"),
        "x",
    )
    distinct_h = hashed.select("lang", "h").distinct()
    wk = Window.partitionBy("lang").orderBy("h")
    ranked = distinct_h.withColumn("rk", F.row_number().over(wk))
    kth = ranked.where(F.col("rk") == _KMV_K).select(
        "lang", F.col("h").alias("h_k")
    )
    exact = hashed.groupBy("lang").agg(
        F.countDistinct("x").alias("exact_distinct")
    )
    est = kth.join(exact, "lang").select(
        "lang",
        F.lit(_KMV_K).cast("long").alias("k"),
        "h_k",
        F.expr(
            f"(CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_M}) div h_k"
        ).alias("kmv_estimate"),
        "exact_distinct",
    )
    return est.select(
        "lang",
        "k",
        "h_k",
        "kmv_estimate",
        "exact_distinct",
        F.expr(
            "CAST(abs(1000000 * (kmv_estimate - exact_distinct))"
            " div exact_distinct AS BIGINT)"
        ).alias("rel_err_ppm"),
    )


_KMV_SQL = f"""
    WITH keys AS (
      SELECT lang, doc_id * 37 + i AS x
      FROM documents, unnest(range(0, doc_id % 5 + 1)) AS u(i)
    ),
    hashed AS (
      SELECT lang, (x * 2654435761 + 12345) % {_KMV_M} AS h, x
      FROM keys
    ),
    dh AS (SELECT DISTINCT lang, h FROM hashed),
    ranked AS (
      SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h)
               AS rk
      FROM dh
    ),
    kth AS (SELECT lang, h AS h_k FROM ranked WHERE rk = {_KMV_K}),
    exact AS (
      SELECT lang, CAST(count(DISTINCT x) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY lang
    ),
    est AS (
      SELECT k.lang, CAST({_KMV_K} AS BIGINT) AS k,
             CAST(k.h_k AS BIGINT) AS h_k,
             (CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_M}) // k.h_k
               AS kmv_estimate,
             e.exact_distinct
      FROM kth k JOIN exact e ON k.lang = e.lang
    )
    SELECT lang, k, h_k, kmv_estimate, exact_distinct,
           CAST(abs(1000000 * (kmv_estimate - exact_distinct))
                // exact_distinct AS BIGINT) AS rel_err_ppm
    FROM est
    """

register(TEXT, "kmv_distinct", _q_kmv_distinct, _KMV_SQL)


# --------------------------------------------------------------------------
# ``latency_histogram``: log₂-bucketed inter-arrival distribution
# per event type — the o11y latency histogram. floor(log₂ gap) is
# computed EXACTLY as length(bin(gap)) − 1 (the binary-string length
# trick — never float log2, whose rounding at powers of two differs
# between engines); per-type bucket counts plus the nearest-rank
# median bucket.
#
# latency_histogram. Gap between consecutive events of the SAME type
# in milliseconds (>= 1 enforced by greatest); bucket = floor(log2)
# via the binary-string length trick.


def _q_latency_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        "ts",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").alias("tms"),
        "event_id",
    ).select(
        "event_type",
        (F.col("tms") - F.lag("tms").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull()).select(
        "event_type",
        F.expr("greatest(gap, CAST(1 AS BIGINT))").alias("gap"),
    )
    bucketed = gaps.select(
        "event_type",
        (F.length(F.expr("bin(gap)")) - 1).cast("long").alias("bucket"),
    )
    counts = bucketed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = counts.select(
        "event_type",
        "bucket",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    return c.select(
        "event_type",
        "bucket",
        "n",
        (2 * F.col("cum") - 2 * F.col("n") < F.col("tot")).alias(
            "below_median"
        ),
        (
            (2 * (F.col("cum") - F.col("n")) < F.col("tot"))
            & (2 * F.col("cum") >= F.col("tot"))
        ).alias("is_median_bucket"),
    )


_LAT_SQL = """
    WITH raw AS (
      SELECT event_type,
             (epoch_us(ts) // 1000)
             - lag(epoch_us(ts) // 1000)
               OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS rgap
      FROM events
    ),
    gaps AS (
      -- NULL filter BEFORE the clamp: DuckDB's greatest() IGNORES
      -- NULL arguments (returns 1 for the first row) while Spark's
      -- propagates NULL — the filter must run on the raw lag
      SELECT event_type, greatest(rgap, CAST(1 AS BIGINT)) AS gap
      FROM raw WHERE rgap IS NOT NULL
    ),
    bucketed AS (
      SELECT event_type,
             CAST(length(bin(gap)) - 1 AS BIGINT) AS bucket
      FROM gaps
    ),
    counts AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
      FROM bucketed GROUP BY event_type, bucket
    ),
    c AS (
      SELECT event_type, bucket, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM counts
    )
    SELECT event_type, bucket, n,
           2 * cum - 2 * n < tot AS below_median,
           (2 * (cum - n) < tot AND 2 * cum >= tot) AS is_median_bucket
    FROM c
    """

register(TEXT, "latency_histogram", _q_latency_histogram, _LAT_SQL)


# --------------------------------------------------------------------------
# ``control_chart``: statistical process control (X̄ chart) — each
# day's mean value per event type judged against the overall mean ±
# 3σ/√n limits (the manufacturing-grade anomaly gate, stricter than
# ad-hoc thresholds because limits scale with daily sample size).
# All moments are exact BIGINT sums; the limit comparison runs in
# ONE shared double tree (IEEE sqrt), emitting above/below flags.
#
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
# ``winsorized_mean``: robust location — values clipped at the exact
# nearest-rank p05/p95 per event type, then the mean of the CLIPPED
# integers in exact milli (clip bounds are integer quantile VALUES,
# so the winsorized sum stays a BIGINT — no float protocol at all).
# The estimator that survives the heavy tails `mad_outliers` flags.
#
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


# --------------------------------------------------------------------------
# ``quantile_transform``: rank-based feature scaling — each event
# value mapped to its exact percentile ppm within its type,
# (rank−1)·1e6 div (n−1) with tie-broken strict ranks (the standard
# sklearn-style QuantileTransformer, integer-exact). One rank
# window, no joins.
#
# quantile_transform. Groups with n == 1 map to 0 (guarded div).


def _q_quantile_transform(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    wk = Window.partitionBy("event_type").orderBy("yc", "event_id")
    wn = Window.partitionBy("event_type")
    r = y.select(
        "event_id",
        "event_type",
        "yc",
        F.row_number().over(wk).cast("long").alias("rank"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    return r.where(F.col("n") > 1).select(
        "event_id",
        "event_type",
        "yc",
        "rank",
        F.expr("((rank - 1) * 1000000) div (n - 1)").alias("pct_ppm"),
    )


_QT_SQL = """
    WITH y AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    r AS (
      SELECT event_id, event_type, yc,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY yc, event_id) AS BIGINT) AS rank,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM y
    )
    SELECT event_id, event_type, yc, rank,
           ((rank - 1) * 1000000) // (n - 1) AS pct_ppm
    FROM r WHERE n > 1
    """

register(TEXT, "quantile_transform", _q_quantile_transform, _QT_SQL)


# --------------------------------------------------------------------------
# ``kaplan_meier``: the Kaplan-Meier survival estimator over user
# lifetimes derived from the event stream — the standard
# churn/retention curve with CENSORING handled correctly (users still
# active at the observation horizon are censored, not counted as
# deaths). Exact at-risk and death counts per distinct lifetime; the
# survival product S(t) = prod (1 - d_i/n_i) is folded left-to-right
# in ascending-lifetime order with the identical operation tree in
# both engines (one divide, one multiply per step, both IEEE-exact
# deterministic), reported as floor-micro.
#
# kaplan_meier. Lifetime = last_day - first_day per user. The
# groupBy(user_id) is the only data-sized shuffle; everything after
# runs on <= (max lifetime in days) rows, so the single-partition
# ordered window and the one-group fold are aggregate-sized by
# construction (a bounded calendar range, NOT O(corpus)). The
# survival product never uses ln/exp (libm-unsafe): it is a
# left-associative double fold, bit-identical across engines.

# Users whose last event is more than this many days before the
# global observation horizon are CHURNED (death observed at their
# lifetime); anyone active within the gap is CENSORED at theirs.
_CHURN_GAP_DAYS = 8


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
