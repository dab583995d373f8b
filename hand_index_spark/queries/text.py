"""Text and LLM-pipeline queries: data mixing and token budgets, sequence
packing, inverted postings, KWIC, feature hashing, readability and
tokenizer fertility, vocabulary growth, language-ID evaluation, vector
quantization and fuzzy entity resolution.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..entry_queries_r5b import _BPE_MERGES
from ..registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# ``fuzzy_name_join``: blocked entity resolution — candidate pairs via
# prefix/suffix q-gram blocking (provably complete for one
# substitution on names >= 9 chars: a single edit cannot change both
# the first 4 and the last 4 characters), refined with the exact
# Levenshtein distance. Never an all-pairs comparison.
#
# Blocked fuzzy entity resolution. Canonical names are 12-hex-char
# fingerprints (diverse prefixes AND suffixes — unlike TPC-H's
# constant-prefix c_name, which would degenerate prefix blocks to one
# n^2 bucket); each doc also emits a VARIANT with one character
# substituted at a doc-derived position ('q' is not a hex digit, so
# the edit distance is exactly 1). Candidates = (prefix-4 equi-join)
# UNION (suffix-4 equi-join): complete for any single substitution on
# length-12 names because one edit cannot change both ends. Refine =
# exact Levenshtein <= 1 (classic DP, integer, identical on both
# engines). The oracle replays the same blocked join — candidate
# generation is part of the verified semantics, not a hidden
# approximation. Scale shape: two hash equi-joins on 4-char keys +
# distinct + a per-pair O(len^2) integer refine; never all-pairs.


def _q_fuzzy_name_join(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    canon = d.select(
        F.col("doc_id").alias("c_id"),
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 12).alias(
            "c_name"
        ),
    )
    var = canon.select(
        F.col("c_id").alias("v_id"),
        F.expr(
            "concat(substring(c_name, 1, cast(c_id % 12 as int)), 'q', "
            "substring(c_name, cast(c_id % 12 as int) + 2, 12))"
        ).alias("v_name"),
    )
    vk = var.select(
        "v_id", "v_name",
        F.substring("v_name", 1, 4).alias("pre"),
        F.substring("v_name", 9, 4).alias("suf"),
    )
    ck = canon.select(
        "c_id", "c_name",
        F.substring("c_name", 1, 4).alias("pre"),
        F.substring("c_name", 9, 4).alias("suf"),
    )
    cand = (
        vk.join(ck, "pre").select("v_id", "c_id")
        .unionAll(vk.join(ck, "suf").select("v_id", "c_id"))
        .distinct()
    )
    return (
        cand.join(var, "v_id")
        .join(canon, "c_id")
        .withColumn("lev", F.levenshtein("v_name", "c_name").cast("long"))
        .filter(F.col("lev") <= 1)
        .select("v_id", "c_id", "lev")
    )


_FUZZY_SQL = """
    WITH canon AS (
      SELECT doc_id AS c_id,
             substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12) AS c_name
      FROM documents
    ),
    var AS (
      SELECT c_id AS v_id,
             substr(c_name, 1, CAST(c_id % 12 AS INT)) || 'q' ||
             substr(c_name, CAST(c_id % 12 AS INT) + 2, 12) AS v_name
      FROM canon
    ),
    vk AS (SELECT v_id, v_name, substr(v_name, 1, 4) AS pre,
                  substr(v_name, 9, 4) AS suf FROM var),
    ck AS (SELECT c_id, c_name, substr(c_name, 1, 4) AS pre,
                  substr(c_name, 9, 4) AS suf FROM canon),
    cand AS (
      SELECT DISTINCT v_id, c_id FROM (
        SELECT vk.v_id, ck.c_id FROM vk JOIN ck ON vk.pre = ck.pre
        UNION ALL
        SELECT vk.v_id, ck.c_id FROM vk JOIN ck ON vk.suf = ck.suf
      )
    )
    SELECT cand.v_id, cand.c_id,
           CAST(levenshtein(var.v_name, canon.c_name) AS BIGINT) AS lev
    FROM cand JOIN var ON var.v_id = cand.v_id
              JOIN canon ON canon.c_id = cand.c_id
    WHERE levenshtein(var.v_name, canon.c_name) <= 1
    """

register(TEXT, "fuzzy_name_join", _q_fuzzy_name_join, _FUZZY_SQL)


# --------------------------------------------------------------------------
# ``dsir_weights``: hashed-unigram importance weights for targeted
# data selection (DSIR, Xie et al. 2023, arXiv:2302.03169): per-doc
# mean log p_target/p_raw over 64 hash buckets, target = the corpus's
# 'en' slice. The LLM-pipeline data-mixing stage between dedup and
# sampling; one explode + one 64-row broadcast join + one groupBy.
#
# dsir_weights: hashed-unigram importance weights (DSIR). Target
# distribution = the corpus's lang='en' docs, raw = all docs; features
# are the shared closed-form token hash folded into 64 buckets.
# Smoothed per-bucket probabilities, per-token log-ratio, per-doc
# mean. Shape: two 64-row count tables (broadcast), one token explode,
# one doc-keyed aggregate — the weights then feed weighted_sample_mix
# -style resampling downstream.

_DSIR_B = 64


def _q_dsir_weights(spark, sf_dir):
    from ..operators.dedup import token_hash_col

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("b", token_hash_col(F.col("tok")) % F.lit(_DSIR_B))
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot_r = raw.agg(F.sum("cr").alias("tr"))
    tot_t = tgt.agg(F.sum("ct").alias("tt"))
    probs = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "b",
            F.log(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("tt") + _DSIR_B))
                / ((F.col("cr") + 1) / (F.col("tr") + _DSIR_B))
            ).alias("logratio"),
        )
    )
    # Signed-zero parity (VERDICT r5 item 1a): DuckDB's round() keeps
    # the sign of a tiny negative mean (-0.0) while Spark's round()
    # yields +0.0 — bitwise-different, value-equal, driver-hash-red.
    # The oracle SQL is frozen, so replicate DuckDB on the Spark side:
    # a mean that is negative before rounding and zero after it is
    # emitted as -0.0.
    mean = F.sum("logratio") / F.count(F.lit(1))
    rounded = F.round(mean, 4)
    avg_logweight = F.when(
        (rounded == F.lit(0.0)) & (mean < F.lit(0.0)), F.lit(-0.0)
    ).otherwise(rounded)
    return (
        toks.join(F.broadcast(probs), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            avg_logweight.alias("avg_logweight"),
        )
    )


_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             (((length(tok) * 2654435761
                + ascii(substr(tok, 1, 1)) * 65599
                + ascii(substr(tok, length(tok), 1)) * 97) % 1000003)
              % {_DSIR_B}) AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ), raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
    tots AS (SELECT (SELECT sum(cr) FROM raw) AS tr,
                    (SELECT sum(ct) FROM tgt) AS tt),
    probs AS (
      SELECT raw.b,
             ln(((coalesce(tgt.ct, 0) + 1) / (tots.tt + {_DSIR_B}))
                / ((raw.cr + 1) / (tots.tr + {_DSIR_B}))) AS logratio
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(logratio) / count(*), 4) AS avg_logweight
    FROM toks JOIN probs ON toks.b = probs.b
    GROUP BY doc_id
    """

register(TEXT, "dsir_weights", _q_dsir_weights, _DSIR_SQL)


# --------------------------------------------------------------------------
# ``pack_chunks``: concat-and-chunk sequence packing — the stage that
# turns a deduped/filtered document corpus into fixed-length training
# chunks (concatenate all token streams in a deterministic document
# order, cut every C tokens; GPT-style packing). The global token
# offset of every document is computed with a DISTRIBUTED TWO-PHASE
# PREFIX SUM: an intra-bucket running sum partitioned on a
# doc-id-range bucket (parallel), plus per-bucket totals offset on a
# tiny #buckets-row frame and broadcast back — NO single-partition
# global window anywhere near corpus-sized data, which is what makes
# the op survive 10^12 documents. All-integer arithmetic, bit-exact
# against a plain window-cumsum oracle.
#
# pack_chunks: documents are concatenated in doc_id order and cut into
# C-token chunks. Offsets via the two-phase scan:
#   bucket   = doc_id div BUCKET_SPAN   (range bucketing preserves the
#              global doc_id order across buckets)
#   intra    = running sum of n_tok within the bucket (parallel window)
#   bucket_off = exclusive prefix over per-bucket totals (a window on a
#              #buckets-row frame — corpus_size / BUCKET_SPAN rows; at
#              10^12 docs pick BUCKET_SPAN so this stays small or
#              recurse the same construction one level)
#   off      = bucket_off + intra - n_tok      (exclusive global offset)
# Each doc then covers chunks off div C .. (off+n-1) div C; the
# per-chunk contribution is a bounded explode (fan-out = n_tok/C + 1,
# never corpus-sized), and the only corpus-scale shuffles are the
# bucket window and the final chunk-keyed aggregate.

_PACK_C = 256  # tokens per training chunk
_PACK_SPAN = 64  # doc_ids per scan bucket


def _q_pack_chunks(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    d = d.withColumn("bucket", F.expr(f"doc_id div {_PACK_SPAN}"))
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("intra", F.sum("n_tok").over(w_intra))
    totals = d.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = totals.withColumn(
        "bucket_off", F.sum("btot").over(w_b) - F.col("btot")
    ).select("bucket", "bucket_off")
    d = d.join(F.broadcast(offs), "bucket").withColumn(
        "off", F.col("bucket_off") + F.col("intra") - F.col("n_tok")
    )
    c = F.lit(_PACK_C)
    spans = d.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.expr(f"off div {_PACK_C}"),
                F.expr(f"(off + n_tok - 1) div {_PACK_C}"),
            )
        ),
    ).withColumn(
        "tok_here",
        F.least((F.col("chunk_id") + 1) * c, F.col("off") + F.col("n_tok"))
        - F.greatest(F.col("chunk_id") * c, F.col("off")),
    )
    return spans.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_here").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("off") + F.col("n_tok") > (F.col("chunk_id") + 1) * c, 1
            ).otherwise(0)
        ).alias("n_spanning"),
    )


_PACK_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS BIGINT) AS off
      FROM d
    ), spans AS (
      SELECT o.*, unnest(range(off // {_PACK_C},
                               (off + n_tok - 1) // {_PACK_C} + 1)) AS chunk_id
      FROM o
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least((chunk_id + 1) * {_PACK_C}, off + n_tok)
               - greatest(chunk_id * {_PACK_C}, off)) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN off + n_tok > (chunk_id + 1) * {_PACK_C}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
    FROM spans GROUP BY chunk_id
    """

register(TEXT, "pack_chunks", _q_pack_chunks, _PACK_SQL)


# --------------------------------------------------------------------------
# ``token_budget_mix``: per-language corpus token budgeting — rank
# documents per language (longest first, doc_id tie-break) and keep
# them while the running token total stays within 30% of the
# language's budget, the quota-fill stage that sits between importance
# weighting (``dsir_weights``) and sampling in a data-mixing pipeline.
# Pure integer arithmetic (the 30% test is ``10*cum <= 3*tot``), one
# language-partitioned window + one broadcast of per-language totals —
# no corpus-scale single-partition anything.
#
# token_budget_mix: keep the longest docs per language until 30% of
# that language's token budget is used. Windows partition on lang
# (parallel across languages), totals broadcast back; ints throughout.

_BUDGET_PCT10 = 3  # keep while 10*cum <= 3*tot  (30%)


def _q_token_budget_mix(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_tok"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("cum", F.sum("n_tok").over(w))
    tot = d.groupBy("lang").agg(
        F.sum("n_tok").alias("tot"), F.count(F.lit(1)).alias("n_docs")
    )
    j = d.join(F.broadcast(tot), "lang").withColumn(
        "kept", (F.col("cum") * 10 <= F.col("tot") * _BUDGET_PCT10).cast("int")
    )
    return j.groupBy("lang").agg(
        F.max("n_docs").alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.sum(F.col("kept") * F.col("n_tok")).alias("kept_tokens"),
        F.max("tot").alias("total_tokens"),
        F.expr(
            "(1000000 * sum(kept * n_tok)) div max(tot)"
        ).alias("share_micro"),
    )


_BUDGET_SQL = f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, lang, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY lang
                                   ORDER BY n_tok DESC, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    ), t AS (
      SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM d GROUP BY lang
    ), j AS (
      SELECT c.*, t.tot, t.n_docs,
             CASE WHEN c.cum * 10 <= t.tot * {_BUDGET_PCT10}
                  THEN 1 ELSE 0 END AS kept
      FROM c JOIN t USING (lang)
    )
    SELECT lang, max(n_docs) AS n_docs,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(kept * n_tok) AS BIGINT) AS kept_tokens,
           max(tot) AS total_tokens,
           CAST(1000000 * sum(kept * n_tok) AS BIGINT) // max(tot)
             AS share_micro
    FROM j GROUP BY lang
    """

register(TEXT, "token_budget_mix", _q_token_budget_mix, _BUDGET_SQL)


# --------------------------------------------------------------------------
# ``postings_build``: inverted-index construction — the search-engine
# build step upstream of ``bm25_search``/``phrase_search``: term ->
# document frequency + the head of the sorted posting list. One token
# explode + distinct + term-keyed aggregate; posting heads are
# rendered order-free (sort inside the aggregate), so the result is
# bit-identical on any partitioning.
#
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
# ``zipf_vocab_growth``: Heaps-law vocabulary growth — distinct-term
# count after the first k documents for k in powers of two, computed
# from each term's FIRST-OCCURRENCE doc rank (min over docs) + a
# threshold explode: no per-k rescans of the corpus (one scan, one
# min-aggregate, one bounded explode) — the corpus-statistics curve
# that sizes tokenizer vocabularies.
#
# zipf_vocab_growth. Terms >= 3 chars; first_rank(term) = min doc_id
# holding it (doc_id IS the scan order); for each threshold k report
# the vocabulary size among the first k docs and the type/token ppm.

_GROWTH_KS = (64, 128, 256, 512)


def _q_zipf_vocab_growth(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.length("term") >= 3)
    )
    first = pairs.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    ks = F.array(*[F.lit(k) for k in _GROWTH_KS])
    vocab = (
        first.select(
            "first_doc", F.explode(ks).alias("k")
        )
        .filter(F.col("first_doc") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    toks = (
        pairs.select("doc_id", F.explode(ks).alias("k"))
        .filter(F.col("doc_id") < F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("tokens"))
    )
    return (
        vocab.join(toks, "k")
        .select(
            F.col("k").cast("long").alias("k"), "vocab", "tokens",
            F.expr("(1000000 * vocab) div tokens").alias("type_token_ppm"),
        )
    )


_GROWTH_SQL = f"""
    WITH pairs AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
      ) WHERE length(term) >= 3
    ), first AS (
      SELECT term, min(doc_id) AS first_doc FROM pairs GROUP BY term
    ), ks AS (SELECT unnest([{", ".join(str(k) for k in _GROWTH_KS)}]) AS k),
    vocab AS (
      SELECT k, CAST(count(*) AS BIGINT) AS vocab
      FROM first, ks WHERE first_doc < k GROUP BY k
    ), toks AS (
      SELECT k, CAST(count(*) AS BIGINT) AS tokens
      FROM pairs, ks WHERE doc_id < k GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS k, vocab, tokens,
           CAST(1000000 * vocab AS BIGINT) // tokens AS type_token_ppm
    FROM vocab JOIN toks USING (k)
    """

register(TEXT, "zipf_vocab_growth", _q_zipf_vocab_growth, _GROWTH_SQL)


# --------------------------------------------------------------------------
# ``langid_confusion``: confusion matrix + per-class metrics for the
# ``langid`` marker-voting classifier against the true ``lang`` label
# — counts plus exact-ppm precision/recall per predicted/true class
# pair collapsed to the per-class report every eval harness prints.
#
# langid_confusion. Reuses the langid voting rule inline (same _EN/_ES
# markers) and reports per true-class: support, predicted-positive
# count, true positives, precision/recall in exact ppm. entry_queries'
# langid imports the marker sets from here.

_EN = ("the", "and", "of", "is")
_ES = ("el", "la", "de", "es")
_en_list = ", ".join(f"'{w}'" for w in _EN)
_es_list = ", ".join(f"'{w}'" for w in _ES)


def _q_langid_confusion(spark, sf_dir):
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
# ``readability_scores``: Flesch-style readability per document — the
# corpus-quality signal next to stopword/repetition filters. Words,
# sentences and vowel-group "syllables" are pure integer counts
# (sentence count via character arithmetic so no split-semantics
# divergence between engines; vowel groups via the same regex class
# in both regex engines), and the Flesch formula is ONE shared double
# expression floored at micro precision.
#
# readability_scores. words = whitespace tokens; sentences = '.' count
# + 1 (character arithmetic — split() keeps/drops trailing empties
# differently across engines, so we never split on '.'); syllables =
# vowel groups [aeiou]+. flesch_micro floors 1e6 * (206.835 -
# 1.015*words/sentences - 84.6*syllables/words) with the identical
# double tree in both engines.


def _flesch_expr(w: str, s: str, y: str) -> str:
    # w, s, y are BIGINT column names; valid Spark SQL and DuckDB SQL
    return (
        f"CAST(floor(1000000.0 * (206.835"
        f" - 1.015 * (CAST({w} AS DOUBLE) / CAST({s} AS DOUBLE))"
        f" - 84.6 * (CAST({y} AS DOUBLE) / CAST({w} AS DOUBLE))))"
        f" AS BIGINT)"
    )


def _q_readability_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.length("text") >= 1)
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit("."), F.lit("")))
            + 1
        ).cast("long").alias("sentences"),
        F.expr("regexp_count(text, '[aeiou]+')").cast("long")
        .alias("syllables"),
    )
    return base.select(
        "doc_id", "words", "sentences", "syllables",
        F.expr(_flesch_expr("words", "sentences", "syllables"))
        .alias("flesch_micro"),
    )


_READ_SQL = f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(length(text) - length(replace(text, '.', '')) + 1
                  AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
               AS syllables
      FROM documents WHERE length(text) >= 1
    )
    SELECT doc_id, words, sentences, syllables,
           {_flesch_expr("words", "sentences", "syllables")}
             AS flesch_micro
    FROM base
    """

register(TEXT, "readability_scores", _q_readability_scores, _READ_SQL)


# --------------------------------------------------------------------------
# ``tokenizer_fertility``: tokenizer evaluation — BPE tokens per
# whitespace word, per language (the fertility metric that decides
# whether a tokenizer suits a corpus), computed through the SAME BPE
# merge table as ``bpe_encode`` so the metric evaluates the engine's
# own trained tokenizer. Exact ppm integer division.
#
# tokenizer_fertility. Reuses the bpe_encode merge chain verbatim.


def _q_tokenizer_fertility(spark, sf_dir):
    from ..operators.bpe import CLOSE, OPEN, tokens_expr, wrap_chars

    d = _t(spark, sf_dir, "documents").where(F.length("text") >= 1)
    s = wrap_chars(F.col("text"))
    for a, b in _BPE_MERGES:
        s = F.replace(
            s,
            F.lit(OPEN + a + CLOSE + OPEN + b + CLOSE),
            F.lit(OPEN + a + b + CLOSE),
        )
    enc = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("words"),
        s.alias("s"),
    )
    t = tokens_expr()
    per_doc = enc.select(
        "lang", "words", F.size(t).cast("long").alias("bpe_tokens")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("total_words"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        # double cast: oracle's sum(BIGINT) is HUGEINT -> float64 in
        # pandas (VERDICT r5 item 1b bug class); exact ppm value
        F.expr("(1000000 * sum(bpe_tokens)) div sum(words)")
        .cast("double").alias("fertility_ppm"),
    )


def _fertility_sql() -> str:

    expr = "regexp_replace(text, '([\\s\\S])', chr(30)||'\\1'||chr(31), 'g')"
    for a, b in _BPE_MERGES:
        pat = f"chr(30)||'{a}'||chr(31)||chr(30)||'{b}'||chr(31)"
        rep = f"chr(30)||'{a}{b}'||chr(31)"
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""
    WITH enc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
             CAST(length({expr})
                  - length(replace({expr}, chr(30), '')) AS BIGINT)
               AS bpe_tokens
      FROM documents WHERE length(text) >= 1
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS total_words,
           CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           CAST(1000000 * sum(bpe_tokens) AS BIGINT) // sum(words)
             AS fertility_ppm
    FROM enc GROUP BY lang
    """


register(TEXT, "tokenizer_fertility", _q_tokenizer_fertility, _fertility_sql())


# --------------------------------------------------------------------------
# ``sq8_quantize``: int8 scalar quantization of the embedding corpus
# — the storage-side ANN companion to PQ/IVFPQ (4× smaller vectors,
# per-dimension codebook = just (min, max)). Per-dim min/max over
# the corpus, code = clamp(floor((v−min)·255/(max−min))), midpoint
# reconstruction, and the per-element squared reconstruction error
# quantized to EXACT integer nano-units through one shared double
# tree — so the per-dim error sums are order-free BIGINTs and the
# whole result is bit-identical with no float-sum protocol.
#
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
# ``kwic_concordance``: keyword-in-context — the corpus-linguistics
# view (every occurrence of a term with ±24 characters of context)
# that powers quality spot-checks and annotation UIs. Occurrence
# offsets via instr arithmetic (first two occurrences per document,
# found with position-anchored instr — never regex lookbehind, whose
# semantics differ between engines), contexts via pure substr
# arithmetic clamped at document edges. Exact strings + integers.
#
# kwic_concordance. First occurrence via instr(text, term); second
# via instr on the suffix after the first. Context [max(1, p-24),
# p+len(term)+24). Emitted as one row per occurrence (occ = 1 | 2).

_KWIC_TERM = "the"

_KWIC_CTX = 24


def _q_kwic_concordance(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = _KWIC_TERM
    L = len(t)
    C = _KWIC_CTX
    base = d.select(
        "doc_id",
        "text",
        F.expr(f"instr(text, '{t}')").cast("long").alias("p1"),
    ).withColumn(
        "p2",
        F.expr(
            f"CASE WHEN p1 > 0 AND instr(substr(text, p1 + {L}), '{t}') > 0"
            f" THEN p1 + {L} - 1 + instr(substr(text, p1 + {L}), '{t}')"
            f" ELSE 0 END"
        ).cast("long"),
    )
    occ1 = base.where(F.col("p1") > 0).select(
        "doc_id",
        F.lit(1).cast("long").alias("occ"),
        F.col("p1").alias("pos"),
        "text",
    )
    occ2 = base.where(F.col("p2") > 0).select(
        "doc_id",
        F.lit(2).cast("long").alias("occ"),
        F.col("p2").alias("pos"),
        "text",
    )
    both = occ1.unionByName(occ2)
    return both.select(
        "doc_id",
        "occ",
        "pos",
        F.expr(
            f"substr(text, greatest(1, pos - {C}),"
            f" pos - greatest(1, pos - {C}))"
        ).alias("left_ctx"),
        F.expr(f"substr(text, pos, {L})").alias("hit"),
        F.expr(f"substr(text, pos + {L}, {C})").alias("right_ctx"),
    )


_KWIC_SQL = f"""
    WITH base AS (
      SELECT doc_id, text,
             CAST(instr(text, '{_KWIC_TERM}') AS BIGINT) AS p1
      FROM documents
    ),
    b2 AS (
      SELECT doc_id, text, p1,
             CAST(CASE WHEN p1 > 0
                  AND instr(text[CAST(p1 + {len(_KWIC_TERM)} AS INT):],
                            '{_KWIC_TERM}') > 0
                  THEN p1 + {len(_KWIC_TERM)} - 1
                       + instr(text[CAST(p1 + {len(_KWIC_TERM)} AS INT):],
                               '{_KWIC_TERM}')
                  ELSE 0 END AS BIGINT) AS p2
      FROM base
    ),
    occs AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS occ, p1 AS pos, text
      FROM b2 WHERE p1 > 0
      UNION ALL
      SELECT doc_id, CAST(2 AS BIGINT) AS occ, p2 AS pos, text
      FROM b2 WHERE p2 > 0
    )
    SELECT doc_id, occ, pos,
           substr(text, CAST(greatest(1, pos - {_KWIC_CTX}) AS INT),
                  CAST(pos - greatest(1, pos - {_KWIC_CTX}) AS INT))
             AS left_ctx,
           substr(text, CAST(pos AS INT), {len(_KWIC_TERM)}) AS hit,
           substr(text, CAST(pos + {len(_KWIC_TERM)} AS INT), {_KWIC_CTX})
             AS right_ctx
    FROM occs
    """

register(TEXT, "kwic_concordance", _q_kwic_concordance, _KWIC_SQL)


# --------------------------------------------------------------------------
# ``feature_hashing``: the hashing trick — bag-of-words folded into
# a fixed 32-dimension space with an engine-shared SCALAR token hash
# (length/first-char/last-char arithmetic — DuckDB 1.0's per-row
# list lambdas are chunk-buggy, pinned in test_r5kk_ops, so the hash
# deliberately avoids character folds). Per-doc dimension counts
# plus corpus-level collision statistics (distinct tokens per
# dimension) — the vectorizer every streaming classifier needs.
#
# feature_hashing. dim(token) = (length*31 + ascii(first)*7
# + ascii(last)) % 32 — scalar funcs only (see module docstring).

_FH_DIMS = 32


def _q_feature_hashing(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") > 0)
    dim = (
        "CAST((length(tok) * 31 + ascii(substr(tok, 1, 1)) * 7"
        " + ascii(right(tok, 1))) % " + str(_FH_DIMS) + " AS BIGINT)"
    )
    dims = toks.select("doc_id", "tok", F.expr(dim).alias("dim"))
    per_doc = dims.groupBy("doc_id", "dim").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # corpus collision stats per dim, attached broadcast
    stats = dims.groupBy("dim").agg(
        F.countDistinct("tok").alias("distinct_tokens")
    )
    return per_doc.join(F.broadcast(stats), "dim").select(
        "doc_id", "dim", "tf", "distinct_tokens"
    )


_FH_SQL = f"""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE length(t.tok) > 0
    ),
    dims AS (
      SELECT doc_id, tok,
             CAST((length(tok) * 31 + ascii(substr(tok, 1, 1)) * 7
                   + ascii(right(tok, 1))) % {_FH_DIMS} AS BIGINT) AS dim
      FROM toks
    ),
    per_doc AS (
      SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS tf
      FROM dims GROUP BY doc_id, dim
    ),
    stats AS (
      SELECT dim, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens
      FROM dims GROUP BY dim
    )
    SELECT p.doc_id, p.dim, p.tf, s.distinct_tokens
    FROM per_doc p JOIN stats s ON p.dim = s.dim
    """

register(TEXT, "feature_hashing", _q_feature_hashing, _FH_SQL)
