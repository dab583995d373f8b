"""Round-5rr registry batch — two new operator families:

- ``kwic_concordance``: keyword-in-context — the corpus-linguistics
  view (every occurrence of a term with ±24 characters of context)
  that powers quality spot-checks and annotation UIs. Occurrence
  offsets via instr arithmetic (first two occurrences per document,
  found with position-anchored instr — never regex lookbehind, whose
  semantics differ between engines), contexts via pure substr
  arithmetic clamped at document edges. Exact strings + integers.
- ``feature_hashing``: the hashing trick — bag-of-words folded into
  a fixed 32-dimension space with an engine-shared SCALAR token hash
  (length/first-char/last-char arithmetic — DuckDB 1.0's per-row
  list lambdas are chunk-buggy, pinned in test_r5kk_ops, so the hash
  deliberately avoids character folds). Per-doc dimension counts
  plus corpus-level collision statistics (distinct tokens per
  dimension) — the vectorizer every streaming classifier needs.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
concordance or vectorizer surface — these extend the text-analysis
and LLM-pipeline axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_KWIC_TERM = "the"
_KWIC_CTX = 24


# --------------------------------------------------------------------------
# kwic_concordance. First occurrence via instr(text, term); second
# via instr on the suffix after the first. Context [max(1, p-24),
# p+len(term)+24). Emitted as one row per occurrence (occ = 1 | 2).


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
