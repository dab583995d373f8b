"""Round-5p registry batch — the model-EVALUATION family, closing the
data -> train -> eval loop the earlier waves built the first two
thirds of:

- ``langid_confusion``: confusion matrix + per-class metrics for the
  ``langid`` marker-voting classifier against the true ``lang`` label
  — counts plus exact-ppm precision/recall per predicted/true class
  pair collapsed to the per-class report every eval harness prints.
- ``iou_eval``: detection-metrics primitive — axis-aligned bbox IoU
  between a "predicted" box (the doc's deterministic footprint
  rectangle, reused from clip_to_tiles) and a jittered "ground-truth"
  box. IoU is carried as an EXACT integer rational (inter, union) and
  floored at micro precision; the report counts hits at the 0.5 and
  0.75 thresholds via pure integer cross-multiplication (2*inter >=
  union), never a float compare.
- ``calibration_bins``: reliability diagram — a deterministic hashed
  "score" per doc binned into deciles, compared against a
  deterministic outcome; per bin: count, mean predicted score (ppm,
  exact integer division), and observed positive rate (ppm). The
  probability-calibration audit run on every trained classifier.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
evaluation surface — this extends the ML-pipeline axis the brief
names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# langid_confusion. Reuses the langid voting rule inline (same _EN/_ES
# markers) and reports per true-class: support, predicted-positive
# count, true positives, precision/recall in exact ppm.


def _q_langid_confusion(spark, sf_dir):
    from .entry_queries import _EN, _ES

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split(F.col("text"), " ")
    n_en = F.size(F.filter(toks, lambda x: x.isin(*_EN))).cast("long")
    n_es = F.size(F.filter(toks, lambda x: x.isin(*_ES))).cast("long")
    pred = d.select(
        "lang",
        F.when(n_en >= n_es, F.lit("en")).otherwise(F.lit("es"))
        .alias("pred"),
    )
    cm = pred.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("c"))
    per_true = cm.groupBy("lang").agg(
        F.sum("c").alias("support"),
        F.sum(F.when(F.col("pred") == F.col("lang"), F.col("c"))
              .otherwise(0)).alias("tp"),
    )
    per_pred = cm.groupBy(F.col("pred").alias("lang")).agg(
        F.sum("c").alias("pred_count")
    )
    return (
        per_true.join(per_pred, "lang", "left")
        .select(
            "lang", "support", "tp",
            F.coalesce("pred_count", F.lit(0)).alias("pred_count"),
            F.expr("(1000000 * tp) div support").alias("recall_ppm"),
            F.when(
                F.coalesce("pred_count", F.lit(0)) > 0,
                F.expr("(1000000 * tp) div pred_count"),
            ).alias("precision_ppm"),
        )
    )


def _confusion_sql() -> str:
    from .entry_queries import _en_list, _es_list

    return f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       x -> x IN ({_en_list})))
                       >= len(list_filter(string_split(text, ' '),
                                          x -> x IN ({_es_list})))
                  THEN 'en' ELSE 'es' END AS pred
      FROM documents
    ), cm AS (
      SELECT lang, pred, CAST(count(*) AS BIGINT) AS c
      FROM pred GROUP BY lang, pred
    ), per_true AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS support,
             CAST(sum(CASE WHEN pred = lang THEN c ELSE 0 END) AS BIGINT)
               AS tp
      FROM cm GROUP BY lang
    ), per_pred AS (
      SELECT pred AS lang, CAST(sum(c) AS BIGINT) AS pred_count
      FROM cm GROUP BY pred
    )
    SELECT t.lang, t.support, t.tp,
           coalesce(p.pred_count, 0) AS pred_count,
           CAST(1000000 * t.tp AS BIGINT) // t.support AS recall_ppm,
           CASE WHEN coalesce(p.pred_count, 0) > 0
                THEN CAST(1000000 * t.tp AS BIGINT) // p.pred_count
           END AS precision_ppm
    FROM per_true t LEFT JOIN per_pred p USING (lang)
    """


register(TEXT, "langid_confusion", _q_langid_confusion, _confusion_sql())


# --------------------------------------------------------------------------
# iou_eval. Predicted box = the doc's footprint rectangle (integer
# coords, the clip_to_tiles derivation); truth = the same box jittered
# by deterministic integer offsets (so overlap is guaranteed and IoU
# varies). inter/union are exact integers; threshold hits use integer
# cross-multiplication.


def _q_iou_eval(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    r = d.select(
        "doc_id",
        ((F.col("doc_id") * 73) % 1000).alias("x1"),
        ((F.col("doc_id") * 131) % 1000).alias("y1"),
        (8 + (F.col("doc_id") % 5) * 23).alias("w"),
        (8 + ((F.col("doc_id") * 7) % 5) * 23).alias("h"),
        ((F.col("doc_id") * 13) % 9 - 4).alias("dx"),
        ((F.col("doc_id") * 29) % 9 - 4).alias("dy"),
    )
    px1, py1 = F.col("x1"), F.col("y1")
    px2, py2 = F.col("x1") + F.col("w"), F.col("y1") + F.col("h")
    tx1, ty1 = px1 + F.col("dx"), py1 + F.col("dy")
    tx2, ty2 = px2 + F.col("dx"), py2 + F.col("dy")
    iw = F.greatest(F.least(px2, tx2) - F.greatest(px1, tx1), F.lit(0))
    ih = F.greatest(F.least(py2, ty2) - F.greatest(py1, ty1), F.lit(0))
    inter = (iw * ih).cast("long")
    area = (F.col("w") * F.col("h")).cast("long")
    union = area * 2 - inter
    per = r.select(
        "doc_id", inter.alias("inter"), union.alias("uni")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_boxes"),
        F.sum(F.when(F.col("inter") * 2 >= F.col("uni"), 1).otherwise(0))
        .alias("hits_at_50"),
        F.sum(F.when(F.col("inter") * 4 >= F.col("uni") * 3, 1).otherwise(0))
        .alias("hits_at_75"),
        F.sum(F.expr("(1000000 * inter) div uni")).alias("sum_iou_micro"),
    ).select(
        "n_boxes", "hits_at_50", "hits_at_75", "sum_iou_micro",
        F.expr("sum_iou_micro div n_boxes").alias("mean_iou_micro"),
    )


_IOU_SQL = """
    WITH r AS (
      SELECT doc_id,
             (doc_id * 73) % 1000 AS x1, (doc_id * 131) % 1000 AS y1,
             8 + (doc_id % 5) * 23 AS w, 8 + ((doc_id * 7) % 5) * 23 AS h,
             (doc_id * 13) % 9 - 4 AS dx, (doc_id * 29) % 9 - 4 AS dy
      FROM documents
    ), b AS (
      SELECT doc_id, w * h AS area,
             greatest(least(x1 + w, x1 + dx + w)
                      - greatest(x1, x1 + dx), 0)
             * greatest(least(y1 + h, y1 + dy + h)
                        - greatest(y1, y1 + dy), 0) AS inter
      FROM r
    ), p AS (
      SELECT doc_id, CAST(inter AS BIGINT) AS inter,
             CAST(area * 2 - inter AS BIGINT) AS uni
      FROM b
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_boxes,
             CAST(sum(CASE WHEN inter * 2 >= uni THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_50,
             CAST(sum(CASE WHEN inter * 4 >= uni * 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_75,
             CAST(sum((1000000 * inter) // uni) AS BIGINT)
               AS sum_iou_micro
      FROM p
    )
    SELECT n_boxes, hits_at_50, hits_at_75, sum_iou_micro,
           sum_iou_micro // n_boxes AS mean_iou_micro
    FROM agg
    """

register(GEO, "iou_eval", _q_iou_eval, _IOU_SQL)


# --------------------------------------------------------------------------
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
