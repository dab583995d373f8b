"""Round-5ee registry batch — two new operator families:

- ``sq8_quantize``: int8 scalar quantization of the embedding corpus
  — the storage-side ANN companion to PQ/IVFPQ (4× smaller vectors,
  per-dimension codebook = just (min, max)). Per-dim min/max over
  the corpus, code = clamp(floor((v−min)·255/(max−min))), midpoint
  reconstruction, and the per-element squared reconstruction error
  quantized to EXACT integer nano-units through one shared double
  tree — so the per-dim error sums are order-free BIGINTs and the
  whole result is bit-identical with no float-sum protocol.
- ``weighted_median``: exact lower weighted median per language
  (deterministic integer weights): the smallest value whose running
  weight reaches half the total — computed with one ordered cumsum
  window and an integer 2·cum ≥ total threshold. The robust central
  tendency for weighted corpora (dedup-cluster sizes, sampling
  weights), exact in pure integers.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
vector-storage or weighted-statistics surface — these extend the ANN
and statistics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# sq8_quantize. The quantization chain per element (shared tree):
#   code  = least(255, greatest(0, floor((v - mn) * 255 / (mx - mn))))
#   recon = mn + (code + 0.5) * (mx - mn) / 255
#   e2n   = floor(1e9 * (v - recon)^2)        (exact BIGINT)
# Dims with mx = mn quantize everything to code 0 — excluded by an
# exact equality filter (no such dim exists in this corpus; the
# filter keeps the op total anyway).


def _q_sq8_quantize(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    el = e.select(
        "vec_id", F.posexplode("embedding").alias("j", "vf")
    ).select(
        "vec_id",
        (F.col("j") + 1).cast("long").alias("dim"),
        F.col("vf").cast("double").alias("v"),
    )
    stats = el.groupBy("dim").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).where(F.col("mx") > F.col("mn"))
    j = el.join(F.broadcast(stats), "dim")
    code = (
        "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
        " CAST(floor((v - mn) * 255.0 / (mx - mn)) AS BIGINT)))"
    )
    recon = f"(mn + (CAST({code} AS DOUBLE) + 0.5) * (mx - mn) / 255.0)"
    e2n = (
        f"CAST(floor(1000000000.0 * (v - {recon}) * (v - {recon}))"
        f" AS BIGINT)"
    )
    q = j.select(
        "dim",
        "n",
        F.expr(code).alias("code"),
        F.expr(e2n).alias("e2n"),
    )
    return q.groupBy("dim").agg(
        F.max("n").alias("n"),
        F.min("code").alias("code_min"),
        F.max("code").alias("code_max"),
        F.sum("e2n").alias("sum_err2_nano"),
        F.expr("sum(e2n) div max(n)").alias("mse_nano"),
    )


def _sq8_sql() -> str:
    code = (
        "least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),"
        " CAST(floor((v - mn) * 255.0 / (mx - mn)) AS BIGINT)))"
    )
    recon = f"(mn + (CAST({code} AS DOUBLE) + 0.5) * (mx - mn) / 255.0)"
    e2n = (
        f"CAST(floor(1000000000.0 * (v - {recon}) * (v - {recon}))"
        f" AS BIGINT)"
    )
    return f"""
    WITH el AS (
      SELECT vec_id, CAST(j AS BIGINT) AS dim,
             CAST(embedding[j] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(j)
    ),
    stats AS (
      SELECT dim, min(v) AS mn, max(v) AS mx,
             CAST(count(*) AS BIGINT) AS n
      FROM el GROUP BY dim
      HAVING max(v) > min(v)
    ),
    q AS (
      SELECT el.dim, stats.n, {code} AS code, {e2n} AS e2n
      FROM el JOIN stats ON el.dim = stats.dim
    )
    SELECT dim,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(code) AS BIGINT) AS code_min,
           CAST(max(code) AS BIGINT) AS code_max,
           CAST(sum(e2n) AS BIGINT) AS sum_err2_nano,
           CAST(sum(e2n) AS BIGINT) // max(n) AS mse_nano
    FROM q GROUP BY dim
    """


register(TEXT, "sq8_quantize", _q_sq8_quantize, _sq8_sql())


# --------------------------------------------------------------------------
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
