"""Round-5cc registry batch — two new operator families:

- ``ndcg_at_k``: NDCG@10 per language — the graded-relevance ranking
  metric that completes the eval suite (confusion/IoU/AUC/
  calibration are classification-side; NDCG grades rankers). Graded
  relevance 0–3 from the deterministic hash, ranking by score with a
  doc_id tie-break (strict order), DCG = Σ (2^rel − 1)/log2(pos+1).
  The gain numerators are exact integers; the log2 division runs in
  one shared double tree and the final NDCG rounds at 6 dp (the repo
  ln() protocol — log2 = ln/ln(2) differs by ≤ ulps between
  engines).
- ``backtest_mase``: seasonal-naive forecast backtest — MASE-style
  error ratio per event type: Σ|y_d − y_{d−7}| (the seasonal-naive
  forecast error) against Σ|y_d − y_{d−1}| (the naive baseline),
  both EXACT BIGINT sums over lag windows, ratio in exact ppm with
  integer cross-multiplied division. The standard way to decide
  whether a forecaster (or a season length) earns its keep.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
ranking-eval or forecast-eval surface — these extend the evaluation
axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_NDCG_K = 10
_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# ndcg_at_k. score from the calibration hash; rel = doc_id * 48271 %
# 4 (graded 0..3). DCG over the score ranking's top-10; IDCG over the
# relevance ranking's top-10. gain = 2^rel - 1 in {0,1,3,7} exact.


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
# backtest_mase. Daily per-type series; seasonal-naive (lag 7) error
# vs naive (lag 1) error, counted only on days where the lag exists.
# mase_ppm cross-multiplies counts so both MAEs stay integral:
#   mase_ppm = (1e6 * sae7 * n1) div (sae1 * n7).


def _q_backtest_mase(spark, sf_dir):
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
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "s",
        F.lag("s", 1).over(w).alias("s1"),
        F.lag("day", 1).over(w).alias("d1"),
        F.lag("s", 7).over(w).alias("s7"),
        F.lag("day", 7).over(w).alias("d7"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("d1") == F.col("day") - 1, F.abs(F.col("s") - F.col("s1")))
        ).alias("sae1"),
        F.sum(
            F.when(F.col("d1") == F.col("day") - 1, 1).otherwise(0)
        ).alias("n1"),
        F.sum(
            F.when(F.col("d7") == F.col("day") - 7, F.abs(F.col("s") - F.col("s7")))
        ).alias("sae7"),
        F.sum(
            F.when(F.col("d7") == F.col("day") - 7, 1).otherwise(0)
        ).alias("n7"),
    )
    return agg.where((F.col("n1") > 0) & (F.col("n7") > 0)
                     & (F.col("sae1") > 0)).select(
        "event_type",
        "n1",
        "n7",
        "sae1",
        "sae7",
        F.expr("(1000000 * sae7 * n1) div (sae1 * n7)").alias("mase_ppm"),
    )


_MASE_SQL = f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, s,
             lag(s, 1) OVER w AS s1, lag(day, 1) OVER w AS d1,
             lag(s, 7) OVER w AS s7, lag(day, 7) OVER w AS d7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN d1 = day - 1 THEN abs(s - s1) END)
                  AS BIGINT) AS sae1,
             CAST(sum(CASE WHEN d1 = day - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN d7 = day - 7 THEN abs(s - s7) END)
                  AS BIGINT) AS sae7,
             CAST(sum(CASE WHEN d7 = day - 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n7
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n1, n7, sae1, sae7,
           CAST(1000000 * sae7 * n1 AS BIGINT) // (sae1 * n7) AS mase_ppm
    FROM agg WHERE n1 > 0 AND n7 > 0 AND sae1 > 0
    """

register(TEXT, "backtest_mase", _q_backtest_mase, _MASE_SQL)
