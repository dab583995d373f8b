"""Round-5n registry batch — three new operator families:

- ``k_anonymity_audit``: privacy auditing — group the corpus by a
  quasi-identifier tuple (lang, source, n_chars decade) and report,
  per k in {2, 5, 10}, how many equivalence classes and what fraction
  of rows (in exact ppm) fall below k — the re-identification risk
  report a release pipeline runs before publishing. Two hash
  aggregates; all-integer.
- ``ab_test_ztest``: two-proportion z-test — the experimentation
  primitive: split users into arms (user_id parity), compare purchase
  conversion, report the pooled-variance z statistic. Counts are
  exact BIGINTs; z is ONE double expression with identical operation
  order on both engines, floored at micro precision (the
  geodesic/trig contract applied to statistics).
- ``zipf_vocab_growth``: Heaps-law vocabulary growth — distinct-term
  count after the first k documents for k in powers of two, computed
  from each term's FIRST-OCCURRENCE doc rank (min over docs) + a
  threshold explode: no per-k rescans of the corpus (one scan, one
  min-aggregate, one bounded explode) — the corpus-statistics curve
  that sizes tokenizer vocabularies.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
privacy, experimentation or corpus-statistics surface — these extend
the pipeline-analytics axis the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# k_anonymity_audit

_KS = (2, 5, 10)


def _q_k_anonymity_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 100").alias("chars_decade")
    )
    classes = d.groupBy("lang", "source", "chars_decade").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = classes.agg(
        F.sum("c").alias("n_rows"), F.count(F.lit(1)).alias("n_classes")
    )
    ks = classes.crossJoin(F.broadcast(tot)).select(
        "c", "n_rows", "n_classes",
        # long cast: python int literals infer int32 while the oracle's
        # k column is BIGINT — dtype-strict hash parity
        F.explode(
            F.array(*[F.lit(k) for k in _KS]).cast("array<bigint>")
        ).alias("k"),
    )
    return ks.groupBy("k").agg(
        F.max("n_classes").alias("n_classes"),
        F.sum(F.when(F.col("c") < F.col("k"), 1).otherwise(0))
        .alias("classes_below_k"),
        F.sum(F.when(F.col("c") < F.col("k"), F.col("c")).otherwise(0))
        .alias("rows_at_risk"),
        F.expr(
            "(1000000 * sum(CASE WHEN c < k THEN c ELSE 0 END))"
            " div max(n_rows)"
        ).alias("risk_ppm"),
    )


_KANON_SQL = f"""
    WITH classes AS (
      SELECT lang, source, n_chars // 100 AS chars_decade,
             CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source, n_chars // 100
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes
      FROM classes
    ), ks AS (
      SELECT classes.c, tot.n_rows, tot.n_classes, k
      FROM classes, tot, unnest([{", ".join(str(k) for k in _KS)}]) AS u(k)
    )
    SELECT CAST(k AS BIGINT) AS k,
           max(n_classes) AS n_classes,
           CAST(sum(CASE WHEN c < k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(1000000 * sum(CASE WHEN c < k THEN c ELSE 0 END) AS BIGINT)
             // max(n_rows) AS risk_ppm
    FROM ks GROUP BY k
    """

register(TEXT, "k_anonymity_audit", _q_k_anonymity_audit, _KANON_SQL)


# --------------------------------------------------------------------------
# ab_test_ztest. Arms by user parity; conversion = user made >= 1
# HIGH-VALUE purchase (value >= 200 — plain purchases are near-
# universal at this event density, which degenerates p to 1).
# z = (p1 - p0) / sqrt(p*(1-p)*(1/n0 + 1/n1)), pooled
# p = (x0+x1)/(n0+n1); NULL when pooled variance is 0 (all or none
# converted). Rendered once as a shared expression string so both
# engines evaluate the identical double tree; z floored at 1e-6.

_AB_VALUE_MIN = 200.0


def _z_expr() -> str:
    # n0,x0,n1,x1 are BIGINT columns in scope
    p0 = "(CAST(x0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    p1 = "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    p = "(CAST(x0 + x1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))"
    se = (
        f"sqrt({p} * (1.0 - {p}) "
        f"* (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))"
    )
    return (
        "CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN NULL "
        f"ELSE CAST(floor(({p1} - {p0}) / {se} * 1000000.0) AS BIGINT) END"
    )


def _q_ab_test_ztest(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "value")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= _AB_VALUE_MIN),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", (F.col("user_id") % 2).cast("int"))
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    wide = (
        arms.filter(F.col("arm") == 0)
        .select(F.col("n").alias("n0"), F.col("x").alias("x0"))
        .crossJoin(
            F.broadcast(
                arms.filter(F.col("arm") == 1)
                .select(F.col("n").alias("n1"), F.col("x").alias("x1"))
            )
        )
    )
    return wide.select(
        "n0", "x0", "n1", "x1", F.expr(_z_expr()).alias("z_micro")
    )


_AB_SQL = f"""
    WITH users AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                       AND value >= {_AB_VALUE_MIN}
                      THEN 1 ELSE 0 END) AS converted,
             CAST(user_id % 2 AS INT) AS arm
      FROM events GROUP BY user_id
    ), arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(converted) AS BIGINT) AS x
      FROM users GROUP BY arm
    )
    SELECT a0.n AS n0, a0.x AS x0, a1.n AS n1, a1.x AS x1,
           {_z_expr()} AS z_micro
    FROM (SELECT n, x FROM arms WHERE arm = 0) a0,
         (SELECT n, x FROM arms WHERE arm = 1) a1
    """

register(TEXT, "ab_test_ztest", _q_ab_test_ztest, _AB_SQL)


# --------------------------------------------------------------------------
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
