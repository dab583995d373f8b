"""Round-5hh registry batch — two new operator families:

- ``spearman_rho``: Spearman rank correlation per language between
  document char-length and token-count — the monotone-association
  twin of Kendall's tau, but O(n) per group instead of pairwise:
  both variables rank tie-broken by doc_id into strict total orders
  (so the classic closed form ρ = 1 − 6Σd²/(n(n²−1)) is exact), Σd²
  is an exact BIGINT, and only the final ratio runs in the shared
  double tree (a possibly-negative integer division would truncate
  on Spark but floor on DuckDB — avoided, the `div`/`//` rule).
- ``fdr_bh``: Benjamini–Hochberg FDR selection over a battery of
  hypothesis tests (deterministic synthetic p-values in exact ppm) —
  the multiple-testing gate every metrics stack needs: sort
  p ascending, find the largest k with p_(k)·m ≤ k·α·m_scale, reject
  exactly the first k. All comparisons integer cross-multiplied; the
  step-up cutoff is computed with one rank window + one max
  aggregate, no iteration.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
correlation or multiple-testing surface — these extend the statistics
axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
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
