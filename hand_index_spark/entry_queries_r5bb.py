"""Round-5bb registry batch — two new operator families:

- ``path_prefix_rollup``: hierarchical URL-path rollup — page counts
  and byte totals at EVERY path-prefix depth (the "directory tree"
  view a crawl operator reads: which sections of a site dominate?).
  Deterministic multi-segment paths derive from doc_id (the
  web_pages_from_documents idiom, deepened); each page explodes to
  its ≤ 3 prefixes (bounded fan-out, never corpus-squared) and one
  prefix-keyed aggregate rolls up. Pure integers + strings.
- ``theil_sen_slope``: the robust trend estimator — median of all
  pairwise slopes of the per-type daily series (insensitive to
  outliers that break OLS `linear_trend`). The pairwise frame is a
  type-keyed self-join over ≤ 31 day rows (bounded ~465 pairs per
  type); each slope is ONE double division (identical IEEE result on
  both engines), the median is nearest-rank with a deterministic
  (slope, day_i, day_j) tie-break, floored at micro precision.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
crawl-hierarchy or robust-regression surface — these extend the
web-analytics and statistics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# path_prefix_rollup. host = site{doc_id % 97}.example; path segments
# s{doc_id % 7} / t{(doc_id * 13) % 11} / d{doc_id}, truncated to
# depth 1 + doc_id % 3. A page contributes one row per prefix depth.


def _q_path_prefix_rollup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string"))
        .alias("seg1"),
        F.concat(F.lit("t"), ((F.col("doc_id") * 13) % 11).cast("string"))
        .alias("seg2"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("seg3"),
        (1 + F.col("doc_id") % 3).alias("depth"),
    )
    pref = base.withColumn(
        "k", F.explode(F.sequence(F.lit(1), F.col("depth")))
    ).select(
        "host",
        "n_chars",
        "k",
        F.when(F.col("k") == 1, F.concat(F.lit("/"), F.col("seg1")))
        .when(
            F.col("k") == 2,
            F.concat(F.lit("/"), F.col("seg1"), F.lit("/"), F.col("seg2")),
        )
        .otherwise(
            F.concat(
                F.lit("/"), F.col("seg1"), F.lit("/"), F.col("seg2"),
                F.lit("/"), F.col("seg3"),
            )
        )
        .alias("prefix"),
    )
    return pref.groupBy("host", "prefix").agg(
        F.max("k").cast("long").alias("depth"),
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("n_chars").alias("total_chars"),
    )


_PREFIX_SQL = """
    WITH base AS (
      SELECT doc_id, n_chars,
             'site' || CAST(doc_id % 97 AS VARCHAR) || '.example' AS host,
             's' || CAST(doc_id % 7 AS VARCHAR) AS seg1,
             't' || CAST((doc_id * 13) % 11 AS VARCHAR) AS seg2,
             'd' || CAST(doc_id AS VARCHAR) AS seg3,
             1 + doc_id % 3 AS depth
      FROM documents
    ),
    pref AS (
      SELECT host, n_chars, k,
             CASE WHEN k = 1 THEN '/' || seg1
                  WHEN k = 2 THEN '/' || seg1 || '/' || seg2
                  ELSE '/' || seg1 || '/' || seg2 || '/' || seg3
             END AS prefix
      FROM base, unnest(range(1, depth + 1)) AS u(k)
    )
    SELECT host, prefix,
           CAST(max(k) AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM pref GROUP BY host, prefix
    """

register(TEXT, "path_prefix_rollup", _q_path_prefix_rollup, _PREFIX_SQL)


# --------------------------------------------------------------------------
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
