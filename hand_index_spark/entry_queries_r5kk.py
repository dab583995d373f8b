"""Round-5kk registry batch — two new operator families:

- ``rendezvous_assign``: weighted rendezvous (highest-random-weight)
  hashing — the OTHER consistent shard assignment next to the ring
  (`consistent_hash_assign`): each doc scores every node with a
  shared integer hash × node weight and takes the argmax, so
  removing a node moves ONLY that node's docs (minimal disruption —
  the defining HRW property, computed IN the query by assigning
  twice, with and without node 13, and flagging movers). Bounded
  16-way explode, integer-only, argmax via the single-BIGINT min_by
  tie-break.
- ``zonemap_overlap_audit``: the clustering-quality audit DBAs run
  on Iceberg metadata — how many OTHER files' [min, max] ranges
  overlap each file's range on a sort column (overlap ⇒ a range
  query must open multiple files; the Iceberg "clustering depth"
  signal). Reads the engine's own icelite zonemaps (real table
  metadata, one file per lang partition by construction) and
  cross-checks them against a plain relational oracle over the
  source rows — metadata provably consistent with data.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
shard-assignment or metadata-audit surface — these extend the
distributed-systems and table-format axes the brief names as
first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


_HRW_NODES = 16
_HRW_DROP = 13
_HRW_MOD = 1_000_003


# --------------------------------------------------------------------------
# rendezvous_assign. score(d, n) = ((d*2654435761 + n*40503 + 7919)
# % 1000003) * (1 + n % 4); argmax, ties to the smaller node id.


def _q_rendezvous_assign(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    nodes_all = list(range(_HRW_NODES))
    nodes_drop = [n for n in nodes_all if n != _HRW_DROP]

    def pick(nodes, alias):
        # key = n - score*100  (score < 1e6*4 -> *100 keeps n as the
        # tie-break without colliding score levels); argmax-score =
        # min-key, folded over the bounded node list
        return F.expr(
            "aggregate("
            + f"transform(array({', '.join(str(n) for n in nodes)}),"
            + f" n -> named_struct('n', CAST(n AS BIGINT), 'key',"
            + f" CAST(n AS BIGINT) - ((doc_id * 2654435761"
            + f" + n * 40503 + 7919) % {_HRW_MOD}) * (1 + n % 4) * 100)),"
            + " named_struct('n', CAST(-1 AS BIGINT),"
            + " 'key', CAST(9223372036854775807 AS BIGINT)),"
            + " (acc, x) -> CASE WHEN x.key < acc.key THEN x ELSE acc END"
            + ").n"
        ).alias(alias)

    out = d.select(
        "doc_id",
        pick(nodes_all, "node_full"),
        pick(nodes_drop, "node_minus13"),
    )
    return out.select(
        "doc_id",
        "node_full",
        "node_minus13",
        (F.col("node_full") != F.col("node_minus13")).alias("moved"),
    )


def _hrw_sql() -> str:
    # NOTE: a list_reduce-based twin of the Spark fold returns
    # CHUNK-DEPENDENT results on DuckDB 1.0 (same query, different
    # answers for the same row depending on surrounding rows — a
    # lambda vectorization bug, reproduced and documented in
    # tests/test_r5kk_ops.py). The oracle therefore takes the
    # lambda-free route: unnest the bounded node list, score, arg-min.
    return f"""
    WITH nodes AS (SELECT unnest(range(0, {_HRW_NODES})) AS n),
    scored AS (
      SELECT d.doc_id, nodes.n,
             CAST(nodes.n AS BIGINT)
               - ((d.doc_id * 2654435761 + nodes.n * 40503 + 7919)
                  % {_HRW_MOD}) * (1 + nodes.n % 4) * 100 AS key
      FROM documents d CROSS JOIN nodes
    ),
    picked AS (
      SELECT doc_id,
             CAST(min_by(n, key) AS BIGINT) AS node_full,
             CAST(min_by(CASE WHEN n <> {_HRW_DROP} THEN n END,
                         CASE WHEN n <> {_HRW_DROP} THEN key END)
                  AS BIGINT) AS node_minus13
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, node_full, node_minus13,
           node_full <> node_minus13 AS moved
    FROM picked
    """


register(TEXT, "rendezvous_assign", _q_rendezvous_assign, _hrw_sql())


# --------------------------------------------------------------------------
# zonemap_overlap_audit.


def _q_zonemap_overlap_audit(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("zm_audit_")
    t = IceliteTable(root, "docs")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # one file per lang partition => the zonemap row IS the per-lang
    # min/max of the sort column
    t.write(
        d.repartition(1).sortWithinPartitions("lang"),
        partition_by=["lang"],
        stage="zm_v1",
        lineage_key="doc_id",
        stats_cols=["n_chars"],
    )
    zm = spark.read.parquet(t.zonemap_dir).select(
        F.regexp_extract("file", r"lang=([^/]+)/", 1).alias("lang"),
        F.col("min__n_chars").cast("long").alias("file_min"),
        F.col("max__n_chars").cast("long").alias("file_max"),
    )
    a = zm.alias("a")
    b = zm.alias("b")
    overlaps = a.join(
        F.broadcast(b),
        (F.col("a.lang") != F.col("b.lang"))
        & (F.col("a.file_min") <= F.col("b.file_max"))
        & (F.col("b.file_min") <= F.col("a.file_max")),
        "left",
    ).groupBy(F.col("a.lang").alias("lang")).agg(
        F.max(F.col("a.file_min")).alias("file_min"),
        F.max(F.col("a.file_max")).alias("file_max"),
        F.sum(
            F.when(F.col("b.lang").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_overlapping"),
    )
    return overlaps


_ZM_SQL = """
    WITH zm AS (
      SELECT lang,
             CAST(min(n_chars) AS BIGINT) AS file_min,
             CAST(max(n_chars) AS BIGINT) AS file_max
      FROM documents GROUP BY lang
    )
    SELECT a.lang AS lang, a.file_min AS file_min, a.file_max AS file_max,
           CAST(count(b.lang) AS BIGINT) AS n_overlapping
    FROM zm a LEFT JOIN zm b
      ON a.lang <> b.lang
     AND a.file_min <= b.file_max AND b.file_min <= a.file_max
    GROUP BY a.lang, a.file_min, a.file_max
    """

register(GEO, "zonemap_overlap_audit", _q_zonemap_overlap_audit, _ZM_SQL)
