"""Round-5t registry batch — two new operator families:

- ``readability_scores``: Flesch-style readability per document — the
  corpus-quality signal next to stopword/repetition filters. Words,
  sentences and vowel-group "syllables" are pure integer counts
  (sentence count via character arithmetic so no split-semantics
  divergence between engines; vowel groups via the same regex class
  in both regex engines), and the Flesch formula is ONE shared double
  expression floored at micro precision.
- ``tokenizer_fertility``: tokenizer evaluation — BPE tokens per
  whitespace word, per language (the fertility metric that decides
  whether a tokenizer suits a corpus), computed through the SAME BPE
  merge table as ``bpe_encode`` so the metric evaluates the engine's
  own trained tokenizer. Exact ppm integer division.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
readability or tokenizer-evaluation surface — these extend the
LLM-pipeline axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
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
# tokenizer_fertility. Reuses the bpe_encode merge chain verbatim.


def _q_tokenizer_fertility(spark, sf_dir):
    from .entry_queries_r5b import _BPE_MERGES
    from .operators.bpe import CLOSE, OPEN, tokens_expr, wrap_chars

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
    from .entry_queries_r5b import _BPE_MERGES

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
