"""Round-5oo registry batch — two new operator families:

- ``kmv_distinct``: KMV (k-minimum-values / bottom-k theta) distinct
  sketch per language — the third cardinality sketch next to HLL and
  CMS, and the one that supports set algebra (union = merge bottom-k;
  the foundation of theta sketches). Deterministic engine-shared
  integer hash, k = 64 smallest values via one rank window, estimate
  (k−1)·M div h_k in exact integers, reported NEXT TO the exact
  distinct count so every row carries its own measured error.
- ``audience_overlap``: exact audience set algebra — |A∩B|, |A∪B|
  and Jaccard ppm for every pair of event types, from ONE user-keyed
  aggregate (per-user type bitmask fold, 5-bit alphabet) exploded to
  the 10 unordered pairs — never a corpus self-join. The
  campaign-planning primitive (how much do the 'view' and 'purchase'
  audiences overlap?).

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
sketch-algebra or audience surface — these extend the sketch and
analytics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


_KMV_K = 64
_KMV_M = 1_000_000_007  # hash modulus (prime)


# --------------------------------------------------------------------------
# kmv_distinct. Universe: per-doc token-ish keys doc_id * 37 + i for
# i < doc_id % 5 + 1 (so languages share some keys); hash h(x) =
# (x * 2654435761 + 12345) % M. Estimate = (k - 1) * M div h_k.


def _q_kmv_distinct(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    keys = d.select(
        "lang",
        F.explode(
            F.expr("sequence(0, CAST(doc_id % 5 AS INT))")
        ).alias("i"),
        "doc_id",
    ).select(
        "lang",
        (F.col("doc_id") * 37 + F.col("i")).alias("x"),
    )
    hashed = keys.select(
        "lang",
        F.expr(f"(x * 2654435761 + 12345) % {_KMV_M}").alias("h"),
        "x",
    )
    distinct_h = hashed.select("lang", "h").distinct()
    wk = Window.partitionBy("lang").orderBy("h")
    ranked = distinct_h.withColumn("rk", F.row_number().over(wk))
    kth = ranked.where(F.col("rk") == _KMV_K).select(
        "lang", F.col("h").alias("h_k")
    )
    exact = hashed.groupBy("lang").agg(
        F.countDistinct("x").alias("exact_distinct")
    )
    est = kth.join(exact, "lang").select(
        "lang",
        F.lit(_KMV_K).cast("long").alias("k"),
        "h_k",
        F.expr(
            f"(CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_M}) div h_k"
        ).alias("kmv_estimate"),
        "exact_distinct",
    )
    return est.select(
        "lang",
        "k",
        "h_k",
        "kmv_estimate",
        "exact_distinct",
        F.expr(
            "CAST(abs(1000000 * (kmv_estimate - exact_distinct))"
            " div exact_distinct AS BIGINT)"
        ).alias("rel_err_ppm"),
    )


_KMV_SQL = f"""
    WITH keys AS (
      SELECT lang, doc_id * 37 + i AS x
      FROM documents, unnest(range(0, doc_id % 5 + 1)) AS u(i)
    ),
    hashed AS (
      SELECT lang, (x * 2654435761 + 12345) % {_KMV_M} AS h, x
      FROM keys
    ),
    dh AS (SELECT DISTINCT lang, h FROM hashed),
    ranked AS (
      SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h)
               AS rk
      FROM dh
    ),
    kth AS (SELECT lang, h AS h_k FROM ranked WHERE rk = {_KMV_K}),
    exact AS (
      SELECT lang, CAST(count(DISTINCT x) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY lang
    ),
    est AS (
      SELECT k.lang, CAST({_KMV_K} AS BIGINT) AS k,
             CAST(k.h_k AS BIGINT) AS h_k,
             (CAST({_KMV_K} - 1 AS BIGINT) * {_KMV_M}) // k.h_k
               AS kmv_estimate,
             e.exact_distinct
      FROM kth k JOIN exact e ON k.lang = e.lang
    )
    SELECT lang, k, h_k, kmv_estimate, exact_distinct,
           CAST(abs(1000000 * (kmv_estimate - exact_distinct))
                // exact_distinct AS BIGINT) AS rel_err_ppm
    FROM est
    """

register(TEXT, "kmv_distinct", _q_kmv_distinct, _KMV_SQL)


# --------------------------------------------------------------------------
# audience_overlap. Per-user 5-bit membership mask via bit_or over
# type index (alphabetical: click=0, error=1, purchase=2, signup=3,
# view=4), then one pass over the masks counts every pair.

_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_audience_overlap(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    idx = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {i}" for i, t in enumerate(_TYPES)
    ) + " END"
    masks = e.select(
        "user_id", F.expr(f"CAST(pow(2, {idx}) AS BIGINT)").alias("bit")
    ).groupBy("user_id").agg(F.expr("bit_or(bit)").alias("mask"))
    pairs = [
        (i, j) for i in range(len(_TYPES)) for j in range(len(_TYPES))
        if i < j
    ]
    pair_rows = masks.select(
        "mask",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"named_struct('a', '{_TYPES[i]}', 'b', '{_TYPES[j]}',"
                    f" 'ia', {i}, 'jb', {j})"
                    for i, j in pairs
                )
                + ")"
            )
        ).alias("p"),
    ).select(
        F.col("p.a").alias("type_a"),
        F.col("p.b").alias("type_b"),
        F.expr("CASE WHEN (mask div CAST(pow(2, p.ia) AS BIGINT)) % 2 = 1"
               " THEN 1 ELSE 0 END").alias("in_a"),
        F.expr("CASE WHEN (mask div CAST(pow(2, p.jb) AS BIGINT)) % 2 = 1"
               " THEN 1 ELSE 0 END").alias("in_b"),
    )
    agg = pair_rows.groupBy("type_a", "type_b").agg(
        F.sum(F.expr("in_a * in_b")).alias("n_both"),
        F.sum(F.expr("CASE WHEN in_a + in_b >= 1 THEN 1 ELSE 0 END"))
        .alias("n_either"),
    )
    return agg.where(F.col("n_either") > 0).select(
        "type_a",
        "type_b",
        "n_both",
        "n_either",
        F.expr("(1000000 * n_both) div n_either").alias("jaccard_ppm"),
    )


def _overlap_sql() -> str:
    idx = "CASE " + " ".join(
        f"WHEN event_type = '{t}' THEN {i}" for i, t in enumerate(_TYPES)
    ) + " END"
    pairs = [
        (i, j) for i in range(len(_TYPES)) for j in range(len(_TYPES))
        if i < j
    ]
    vals = ", ".join(
        f"('{_TYPES[i]}', '{_TYPES[j]}', {i}, {j})" for i, j in pairs
    )
    return f"""
    WITH masks AS (
      SELECT user_id,
             CAST(bit_or(CAST(pow(2, {idx}) AS BIGINT)) AS BIGINT) AS mask
      FROM events GROUP BY user_id
    ),
    pair_rows AS (
      SELECT p.a AS type_a, p.b AS type_b,
             CASE WHEN (mask // CAST(pow(2, p.ia) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE 0 END AS in_a,
             CASE WHEN (mask // CAST(pow(2, p.jb) AS BIGINT)) % 2 = 1
                  THEN 1 ELSE 0 END AS in_b
      FROM masks, (VALUES {vals}) AS p(a, b, ia, jb)
    ),
    agg AS (
      SELECT type_a, type_b,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN in_a + in_b >= 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_either
      FROM pair_rows GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n_both, n_either,
           CAST(1000000 * n_both AS BIGINT) // n_either AS jaccard_ppm
    FROM agg WHERE n_either > 0
    """


register(TEXT, "audience_overlap", _q_audience_overlap, _overlap_sql())
