"""Round-5m registry batch — three new operator families:

- ``bitmap_index_ops``: bitmap-index set algebra — encode each
  source's doc-id set as bitmap words of 62 bits (shifts 0..61 stay
  inside signed-BIGINT range on BOTH engines; DuckDB raises on
  ``1 << 63``), then compute pairwise
  source-by-source intersection and union cardinalities from word-AND
  / word-OR popcounts. The Roaring-style storage/query trick that
  replaces semi-joins at 10^12 scale: cardinality algebra on O(n/64)
  words instead of row joins; every aggregate is an order-free
  BIGINT bit_or / sum.
- ``jsonl_roundtrip``: the JSON-Lines source/sink cycle — the dominant
  LLM-corpus interchange format. Spark WRITES the documents table as
  .jsonl (escaping quotes/newlines/unicode), reads it back with an
  explicit schema, and aggregates per lang with a content checksum;
  the oracle computes the same aggregate from the parquet table
  directly, so parity proves the encode/decode cycle lossless —
  the warc_roundtrip pattern applied to the text-pipeline format.
- ``dominance_skyline``: Pareto skyline (maximal vectors) of documents
  on (n_chars, token count) — the classic database operator for
  multi-criteria selection. For 2D the block-nested-loop formulation
  collapses to sort-by-x + running-max-of-y: ONE window pass, no
  self-join (the plan audit forbids any join). Strict dominance,
  ties kept.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
bitmap, interchange-format or skyline surface — these extend the
storage/query axes the brief names as first-class.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# bitmap_index_ops. Per source: words[w] = OR of bits of its doc ids.
# Pairwise |A&B| / |A|B| via a word-keyed equi-join of the two word
# tables (words are dense ~n/64 rows — tiny) + popcount sums. The
# pair loop is source x source with src_a < src_b (sources are a
# handful of dimension values, not corpus-sized).


def _q_bitmap_index_ops(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    words = d.groupBy(
        "source", F.expr("doc_id div 62").alias("w")
    ).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
               "CAST(doc_id % 62 AS INT)))").alias("bits")
    )
    a = words.select(
        F.col("source").alias("src_a"), "w", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("source").alias("src_b"), "w", F.col("bits").alias("bb")
    )
    pairs = a.join(b, "w").filter(F.col("src_a") < F.col("src_b"))
    inter_union = pairs.groupBy("src_a", "src_b").agg(
        F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
        .alias("n_intersect"),
        F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb"))))
        .alias("n_union_shared_words"),
    )
    # words present in only one source still count toward the union
    per_src = words.groupBy("source").agg(
        F.sum(F.bit_count("bits")).alias("card")
    )
    pa = per_src.select(F.col("source").alias("src_a"),
                        F.col("card").alias("card_a"))
    pb = per_src.select(F.col("source").alias("src_b"),
                        F.col("card").alias("card_b"))
    return (
        inter_union.join(F.broadcast(pa), "src_a")
        .join(F.broadcast(pb), "src_b")
        .select(
            "src_a", "src_b", "card_a", "card_b", "n_intersect",
            (F.col("card_a") + F.col("card_b") - F.col("n_intersect"))
            .alias("n_union"),
        )
    )


_BITMAP_SQL = """
    WITH words AS (
      SELECT source, doc_id // 62 AS w,
             bit_or((CAST(1 AS BIGINT) << CAST(doc_id % 62 AS INT)))
               AS bits
      FROM documents GROUP BY source, doc_id // 62
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_intersect
      FROM words a JOIN words b USING (w)
      WHERE a.source < b.source
      GROUP BY a.source, b.source
    ), cards AS (
      SELECT source, CAST(sum(bit_count(bits)) AS BIGINT) AS card
      FROM words GROUP BY source
    )
    SELECT p.src_a, p.src_b, ca.card AS card_a, cb.card AS card_b,
           p.n_intersect,
           ca.card + cb.card - p.n_intersect AS n_union
    FROM pairs p
    JOIN cards ca ON ca.source = p.src_a
    JOIN cards cb ON cb.source = p.src_b
    """

register(TEXT, "bitmap_index_ops", _q_bitmap_index_ops, _BITMAP_SQL)


# --------------------------------------------------------------------------
# jsonl_roundtrip. Fixed output dir so the cycle is deterministic; the
# checksum folds every doc's sha through an order-free XOR-free sum of
# first-8-hex-digit ints (order-free BIGINT sum, overflow-safe mod).

_JSONL_DIR = "/tmp/hand_index_spark_jsonl_fixture"


def _q_jsonl_roundtrip(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = os.path.join(_JSONL_DIR, os.path.basename(sf_dir.rstrip("/")))
    d.coalesce(4).write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id long, lang string, text string").json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(
            F.conv(F.substring(F.sha2(F.col("text"), 256), 1, 8), 16, 10)
            .cast("long")
        ).alias("content_sum"),
    )


_JSONL_SQL = """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_sum
    FROM documents GROUP BY lang
    """

register(TEXT, "jsonl_roundtrip", _q_jsonl_roundtrip, _JSONL_SQL)


# --------------------------------------------------------------------------
# dominance_skyline. doc A dominates B iff A.n_chars >= B.n_chars AND
# A.n_tok >= B.n_tok with at least one strict; the skyline keeps the
# undominated docs (ties on both axes are mutually non-dominating and
# all kept). 2D closed form: a row survives iff its n_tok exceeds the
# max n_tok over all rows with STRICTLY greater n_chars (a range
# window frame ending at 1 PRECEDING under a DESC order). SCALE
# SHAPE: a globally-undominated point is undominated in ANY subset,
# so a bucket-partitioned LOCAL skyline pass (parallel, arbitrary
# doc_id%32 buckets) shrinks candidates to the per-bucket frontiers
# before the global pass touches only survivors — the classic
# distributed-skyline decomposition; the corpus never crosses a
# single-partition window. The oracle states the one-pass global
# definition directly, so parity proves the decomposition exact.


def _q_dominance_skyline(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    frame = (Window.unboundedPreceding, -1)
    # pass 1: local skylines in arbitrary buckets (parallel)
    wl = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("n_chars"))
        .rangeBetween(*frame)
    )
    local = (
        d.withColumn("bucket", F.col("doc_id") % 32)
        .withColumn("best_above", F.max("n_tok").over(wl))
        .filter(
            F.col("best_above").isNull()
            | (F.col("n_tok") > F.col("best_above"))
        )
        .drop("bucket", "best_above")
    )
    # pass 2: global skyline over the surviving frontier (small)
    wg = Window.orderBy(F.desc("n_chars")).rangeBetween(*frame)
    s = local.withColumn("best_above", F.max("n_tok").over(wg))
    return s.filter(
        F.col("best_above").isNull() | (F.col("n_tok") > F.col("best_above"))
    ).select("doc_id", "n_chars", "n_tok")


_SKYLINE_SQL = """
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), s AS (
      SELECT *,
             max(n_tok) OVER (ORDER BY n_chars DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS best_above
      FROM d
    )
    SELECT doc_id, n_chars, n_tok FROM s
    WHERE best_above IS NULL OR n_tok > best_above
    """

register(TEXT, "dominance_skyline", _q_dominance_skyline, _SKYLINE_SQL)
