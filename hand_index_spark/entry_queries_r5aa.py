"""Round-5aa registry batch — two new operator families:

- ``rrf_fusion``: reciprocal-rank fusion of two per-language document
  rankings (char-length and whitespace-token orderings) — the
  standard way a search stack combines BM25/dense/heuristic rankers.
  Contributions are EXACT integers floor(1e9 / (60 + rank)) summed
  per document (never a float sum, whose order would matter), with a
  deterministic top-10 per language by (fused score desc, doc_id).
- ``roc_auc``: exact ROC AUC per language via the Mann-Whitney
  rank-sum with PROPER midrank tie handling, kept integral by
  doubling: 2·midrank = 2·(count below) + (tied count) + 1, so
  AUC = (Σ2mr⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is a ratio of exact BIGINTs
  floored at ppm. Scores/outcomes reuse the calibration_bins
  synthetic well-calibrated model (score and an independent uniform
  hash), so AUC lands near the analytic value for a calibrated
  scorer (pytest-pinned loosely; exactly vs the oracle).

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
ranking-fusion or classifier-eval surface — these extend the search
and model-evaluation axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_RRF_K = 60
_RRF_TOP = 50
_RRF_OUT = 10


# --------------------------------------------------------------------------
# rrf_fusion.


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
