"""Round-5mm registry batch — two new operator families:

- ``degree_powerlaw``: power-law exponent fit of the link graph's
  degree distribution — the web-science health check (crawl graphs
  should be roughly scale-free; a distribution that is not signals a
  crawler trap or collapsed frontier). Out-degree histogram → OLS of
  ln(count) on ln(degree) over the ≤ max-degree histogram rows, with
  the ln-bearing moment sums folded in DETERMINISTIC degree order
  (the ndcg protocol) and the slope/r² micro-floored from one shared
  double tree.
- ``mode_impute``: constraint-based repair — documents whose lang is
  (deterministically) masked get the modal lang of their source
  group (min-tie-break), the classic group-mode imputation every
  cleaning pipeline ships. Output pins per-source imputed counts and
  the chosen mode; pure integer + string aggregation, the mode frame
  broadcast back (never a corpus shuffle join).

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
graph-science or data-repair surface — these extend the graph and
data-quality axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# degree_powerlaw. Graph: the pagerank/bfs link fixture with a skewed
# twist — node v emits (v % 13) + 1 edges, so the out-degree histogram
# has 13 distinct degrees. OLS over (ln d, ln cnt) pairs.


def _q_degree_powerlaw(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.expr("sequence(1, CAST(doc_id % 13 AS INT) + 1)")
            ).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * 31 + F.col("j") * 17) % F.lit(n)
        )
        .where(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("cnt"))
    # ordered fold of the ln-moment sums (<= 13 rows, by degree)
    moments = hist.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(degree,"
            " CAST(ln(CAST(degree AS DOUBLE)) AS DOUBLE) AS lx,"
            " CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS ly))),"
            " named_struct('sx', 0.0d, 'sy', 0.0d, 'sxx', 0.0d,"
            " 'sxy', 0.0d),"
            " (acc, p) -> named_struct("
            " 'sx', acc.sx + p.lx, 'sy', acc.sy + p.ly,"
            " 'sxx', acc.sxx + p.lx * p.lx,"
            " 'sxy', acc.sxy + p.lx * p.ly))"
        ).alias("m"),
    )
    slope = (
        "CAST(floor(1000000.0 *"
        " ((CAST(k AS DOUBLE) * m.sxy - m.sx * m.sy)"
        " / (CAST(k AS DOUBLE) * m.sxx - m.sx * m.sx))) AS BIGINT)"
    )
    return moments.select(
        "k",
        F.expr("round(m.sx, 6)").alias("sum_ln_deg"),
        F.expr("round(m.sy, 6)").alias("sum_ln_cnt"),
        F.expr(slope).alias("slope_micro"),
    )


def _powerlaw_sql() -> str:
    return """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src,
               (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
        FROM documents,
             unnest(range(1, CAST(doc_id % 13 AS INT) + 2)) AS u(j)
      ) WHERE dst <> src
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM edges GROUP BY src),
    hist AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt
             FROM deg GROUP BY degree),
    pairs AS (
      SELECT degree,
             CAST(ln(CAST(degree AS DOUBLE)) AS DOUBLE) AS lx,
             CAST(ln(CAST(cnt AS DOUBLE)) AS DOUBLE) AS ly
      FROM hist
    ),
    folded AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx ORDER BY degree)), (a, x) -> a + x) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(ly ORDER BY degree)), (a, x) -> a + x) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx * lx ORDER BY degree)), (a, x) -> a + x) AS sxx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(lx * ly ORDER BY degree)), (a, x) -> a + x) AS sxy
      FROM pairs
    )
    SELECT k,
           round(sx, 6) AS sum_ln_deg,
           round(sy, 6) AS sum_ln_cnt,
           CAST(floor(1000000.0 *
             ((CAST(k AS DOUBLE) * sxy - sx * sy)
              / (CAST(k AS DOUBLE) * sxx - sx * sx))) AS BIGINT)
             AS slope_micro
    FROM folded
    """


register(TEXT, "degree_powerlaw", _q_degree_powerlaw, _powerlaw_sql())


# --------------------------------------------------------------------------
# mode_impute. Mask: doc_id % 11 == 0 -> lang unknown. Mode per
# source over the UNMASKED rows, min-lang tie-break via min_by on
# (-cnt, lang) encoded lexically: order by cnt desc then lang asc —
# use a rank window on the small (source, lang) count frame instead
# (strings don't pack into one BIGINT).


def _q_mode_impute(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    masked = d.withColumn(
        "lang_obs",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ),
    )
    counts = (
        masked.where(F.col("lang_obs").isNotNull())
        .groupBy("source", "lang_obs")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("lang_obs")
    )
    modes = (
        counts.withColumn("rk", F.row_number().over(wm))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang_obs").alias("mode_lang"))
    )
    repaired = masked.join(F.broadcast(modes), "source").select(
        "source",
        F.coalesce(F.col("lang_obs"), F.col("mode_lang")).alias("lang_fix"),
        F.col("lang_obs").isNull().alias("was_imputed"),
        "mode_lang",
    )
    return repaired.groupBy("source", "mode_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("was_imputed").cast("long")).alias("n_imputed"),
        F.countDistinct("lang_fix").alias("langs_after"),
    )


_IMPUTE_SQL = """
    WITH masked AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 11 = 0 THEN NULL ELSE lang END AS lang_obs
      FROM documents
    ),
    counts AS (
      SELECT source, lang_obs, CAST(count(*) AS BIGINT) AS cnt
      FROM masked WHERE lang_obs IS NOT NULL
      GROUP BY source, lang_obs
    ),
    modes AS (
      SELECT source, lang_obs AS mode_lang
      FROM (SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY cnt DESC, lang_obs) AS rk
            FROM counts)
      WHERE rk = 1
    ),
    repaired AS (
      SELECT m.source,
             coalesce(m.lang_obs, d.mode_lang) AS lang_fix,
             m.lang_obs IS NULL AS was_imputed,
             d.mode_lang
      FROM masked m JOIN modes d ON m.source = d.source
    )
    SELECT source, mode_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN was_imputed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           CAST(count(DISTINCT lang_fix) AS BIGINT) AS langs_after
    FROM repaired GROUP BY source, mode_lang
    """

register(TEXT, "mode_impute", _q_mode_impute, _IMPUTE_SQL)
