"""Round-5dd registry batch — two new operator families:

- ``partition_evolution``: Iceberg-style partition-spec evolution in
  icelite — snapshot 1 lands partitioned by ``lang``, snapshot 2
  appends the rest of the corpus partitioned by ``source``, and a
  single manifest read unions both layouts (each snapshot owns its
  directories, so the spec can change per write without rewriting
  history — exactly Iceberg's contract; Spark's native writer would
  force one global layout). The readback aggregate must equal the
  plain-documents oracle bit-for-bit.
- ``l_diversity_audit``: the privacy audit that complements
  ``k_anonymity_audit`` — per quasi-identifier group (lang × source),
  distinct-l diversity of a sensitive attribute: a group can be
  k-anonymous yet expose everyone if all its members share one
  sensitive value. Reports group size, distinct sensitive count, and
  the l ≥ 3 pass flag. Pure integer aggregation.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index)
hive-partitions once and never evolves the spec (SURVEY §4.1); the
privacy surface has no counterpart. Both extend axes the brief names
as first-class (table format, governance).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# partition_evolution.


def _q_partition_evolution(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("part_evo_")
    t = IceliteTable(root, "docs")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    first = d.where(F.col("lang").isin("en", "de"))
    rest = d.where(~F.col("lang").isin("en", "de"))
    # snapshot 1: spec = [lang]; snapshot 2 appends with spec = [source]
    # (lineage cell ranges track doc_id — the partition columns are
    # strings, and lineage cells must be numeric)
    t.write(first, partition_by=["lang"], stage="evo_v1",
            lineage_key="doc_id")
    t.write(rest, partition_by=["source"], stage="evo_v2", mode="append",
            lineage_key="doc_id")
    back = t.read(spark)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


_EVO_SQL = """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct
    FROM documents GROUP BY lang, source
    """

register(GEO, "partition_evolution", _q_partition_evolution, _EVO_SQL)


# --------------------------------------------------------------------------
# l_diversity_audit. Sensitive attribute = doc_id * 7919 % 5 (a
# deterministic "topic"); QI = (lang, source).

_L_MIN = 3


def _q_l_diversity_audit(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        ((F.col("doc_id") * 7919) % 5).cast("long").alias("topic"),
    )
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct("topic").alias("l_distinct"),
    )
    return g.select(
        "lang",
        "source",
        "group_size",
        "l_distinct",
        (F.col("l_distinct") >= _L_MIN).alias("l_diverse"),
    )


_LDIV_SQL = f"""
    WITH d AS (
      SELECT lang, source,
             CAST((doc_id * 7919) % 5 AS BIGINT) AS topic
      FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT topic) AS BIGINT) AS l_distinct,
           count(DISTINCT topic) >= {_L_MIN} AS l_diverse
    FROM d GROUP BY lang, source
    """

register(TEXT, "l_diversity_audit", _q_l_diversity_audit, _LDIV_SQL)
