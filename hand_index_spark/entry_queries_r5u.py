"""Round-5u registry batch — two new operator families:

- ``linear_trend``: per-group ordinary-least-squares regression — the
  trend detector a crawl-analytics stack runs over daily metrics
  (is this event type's value drifting?). All five moments are EXACT
  BIGINT sums (day index x cents), and slope / intercept / r^2 come
  out of ONE shared double tree floored at micro precision, so the
  floats hash-match bit-for-bit between engines.
- ``benford_digits``: Benford's-law first-digit audit over order
  totals — the classic fraud / synthetic-data detector. First
  significant digit via exact integer division (never float log10),
  expected Benford shares as shared integer ppm literals, and the
  chi-square contribution per digit through a shared double tree.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
regression or digit-audit surface — these extend the analytics axis
(trend + data-quality) the brief names as first-class.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
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
