"""Storage queries: icelite partition evolution, deletes, write-audit-
publish and zone-map audits, encoding advice, JSONL and bitmap-index
round-trips, rendezvous placement and Merkle content digests.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# Iceberg write-audit-publish (WAP) on icelite: stage a second document
# batch on a branch pointer, prove readers of the published head cannot
# see it, audit the staged rows in one aggregate pass, then fast-forward
# `current` with a single atomic pointer swap. Extends the reference's
# staging-table-then-upsert publish discipline (load.py:62-64,190-196)
# to Iceberg's branch/audit/cherry-pick contract. The oracle recomputes
# the post-publish per-lang aggregate plus the pre-publish row count
# directly from the source table.


def _q_wap_publish(spark, sf_dir):
    from ..tables.icelite import IceliteTable

    root = _fresh_dir("icelite_wap_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    t = IceliteTable(root, "docs")
    t.write(d.filter(F.col("doc_id") % 2 == 0), stage="v1", fingerprint="a")
    # stage the odd half on a branch: current is NOT moved by this write
    t.write(
        d.filter(F.col("doc_id") % 2 == 1),
        stage="v2",
        fingerprint="b",
        mode="append",
        branch="audit",
    )
    pre_rows = t.read(spark).count()  # published readers: v1 only
    audit = t.audit_branch(
        spark,
        "audit",
        row_checks={
            "doc_id_present": "doc_id IS NOT NULL AND doc_id >= 0",
            "text_present": "text IS NOT NULL",
        },
    )
    if not audit["pass"]:  # the WAP gate: never publish unaudited rows
        raise AssertionError(f"audit failed: {audit}")
    t.publish_branch("audit")
    return (
        t.read(spark)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_id"),
        )
        .withColumn("pre_publish_rows", F.lit(pre_rows).cast("long"))
    )


register(
    TEXT,
    "wap_publish",
    _q_wap_publish,
    """
    SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 2 = 0)
                AS BIGINT) AS pre_publish_rows
    FROM documents
    GROUP BY lang
    """,
)


# --------------------------------------------------------------------------
# ``merkle_root``: per-language Merkle tree over document content
# hashes — the corpus-integrity proof that pairs with icelite's
# per-partition lineage checksums: any single-byte change in any
# document changes the language root. Leaves are sha256(text) in
# doc_id order; each round pairs adjacent nodes (odd node carries up
# unchanged); 12 unrolled rounds cover 4096 docs/language and are
# identity once a language collapses to its root. Hex sha256 agrees
# byte-for-byte between engines (verified in-batch).
#
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
# ``encoding_advisor``: storage-layout advisor — for each analyzed
# column (ordered by the table's cluster key) compute run count,
# average run length and max adjacent delta, then recommend
# RLE / DELTA / PLAIN. Runs are counted with a DISTRIBUTED TWO-PHASE
# decomposition (per-range-bucket runs + cross-boundary joins), the
# same trick as ``pack_chunks`` — no global single-partition window;
# the oracle computes the same stats with the naive global window,
# proving the decomposition exact.
#
# encoding_advisor. Analyzed columns of `orders`, ordered by
# o_orderkey (the cluster key): o_orderkey itself (dense, delta 1 ->
# DELTA), o_custkey (shuffled -> PLAIN), and the derived partition
# value o_orderkey div 512 (block id -> RLE — the advisor's job
# includes layout-derived columns). Two-phase runs: per range bucket,
# runs and the
# max in-bucket adjacent delta come from a bucket-partitioned window;
# cross-boundary adjacency comes from joining each bucket's first
# element with the previous NON-EMPTY bucket's last element (a tiny
# per-(col,bucket) frame, window over buckets). Thresholds:
# RLE when avg run >= 10 elements, DELTA when every adjacent delta
# fits a nibble-ish bound (<= 8), else PLAIN.

_ENC_SPAN = 512


def _q_encoding_advisor(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    long = o.select(
        F.col("o_orderkey").alias("ord"),
        F.expr(
            "stack(3, 'o_orderkey', CAST(o_orderkey AS BIGINT), "
            "'o_custkey', CAST(o_custkey AS BIGINT), "
            f"'o_block', CAST(o_orderkey div {_ENC_SPAN} AS BIGINT)) "
            "AS (col_name, v)"
        ),
    ).withColumn("bucket", F.expr(f"ord div {_ENC_SPAN}"))
    win = Window.partitionBy("col_name", "bucket").orderBy("ord")
    steps = long.withColumn("pv", F.lag("v").over(win))
    per_bucket = steps.groupBy("col_name", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pv").isNull() | (F.col("v") != F.col("pv")), 1)
              .otherwise(0)).alias("runs_in"),
        F.max(F.abs(F.col("v") - F.col("pv"))).alias("max_d_in"),
        F.expr("min_by(v, ord)").alias("first_v"),
        F.expr("max_by(v, ord)").alias("last_v"),
    )
    wb = Window.partitionBy("col_name").orderBy("bucket")
    with_prev = per_bucket.withColumn("prev_last", F.lag("last_v").over(wb))
    return (
        with_prev.groupBy("col_name")
        .agg(
            F.sum("n").alias("n_values"),
            (
                F.sum("runs_in")
                - F.sum(
                    F.when(F.col("first_v") == F.col("prev_last"), 1)
                    .otherwise(0)
                )
            ).alias("runs"),
            F.greatest(
                F.max("max_d_in"),
                F.max(F.abs(F.col("first_v") - F.col("prev_last"))),
            ).alias("max_delta"),
        )
        .select(
            "col_name", "n_values", "runs", "max_delta",
            # double cast: oracle's HUGEINT-promoted // -> float64 in
            # pandas (VERDICT r5 item 1b bug class); exact micro value
            F.expr(f"(1000000 * n_values) div runs").cast("double")
            .alias("avg_run_micro"),
            F.when(F.col("runs") * 10 <= F.col("n_values"), F.lit("RLE"))
            .when(F.col("max_delta") <= 8, F.lit("DELTA"))
            .otherwise(F.lit("PLAIN"))
            .alias("advice"),
        )
    )


_ENC_SQL = f"""
    WITH long AS (
      SELECT o_orderkey AS ord, col_name, v FROM (
        SELECT o_orderkey, 'o_orderkey' AS col_name,
               CAST(o_orderkey AS BIGINT) AS v FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS BIGINT)
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_block',
               CAST(o_orderkey // {_ENC_SPAN} AS BIGINT)
        FROM orders
      )
    ), s AS (
      SELECT col_name, v,
             lag(v) OVER (PARTITION BY col_name ORDER BY ord) AS pv
      FROM long
    )
    SELECT col_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                AS BIGINT) AS runs,
           max(abs(v - pv)) AS max_delta,
           CAST(1000000 * count(*) AS BIGINT)
             // sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
             AS avg_run_micro,
           CASE WHEN sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                     * 10 <= count(*) THEN 'RLE'
                WHEN max(abs(v - pv)) <= 8 THEN 'DELTA'
                ELSE 'PLAIN' END AS advice
    FROM s GROUP BY col_name
    """

register(TEXT, "encoding_advisor", _q_encoding_advisor, _ENC_SQL)


# --------------------------------------------------------------------------
# ``bitmap_index_ops``: bitmap-index set algebra — encode each
# source's doc-id set as bitmap words of 62 bits (shifts 0..61 stay
# inside signed-BIGINT range on BOTH engines; DuckDB raises on
# ``1 << 63``), then compute pairwise
# source-by-source intersection and union cardinalities from word-AND
# / word-OR popcounts. The Roaring-style storage/query trick that
# replaces semi-joins at 10^12 scale: cardinality algebra on O(n/64)
# words instead of row joins; every aggregate is an order-free
# BIGINT bit_or / sum.
#
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
# ``jsonl_roundtrip``: the JSON-Lines source/sink cycle — the dominant
# LLM-corpus interchange format. Spark WRITES the documents table as
# .jsonl (escaping quotes/newlines/unicode), reads it back with an
# explicit schema, and aggregates per lang with a content checksum;
# the oracle computes the same aggregate from the parquet table
# directly, so parity proves the encode/decode cycle lossless —
# the warc_roundtrip pattern applied to the text-pipeline format.
#
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
# ``partition_evolution``: Iceberg-style partition-spec evolution in
# icelite — snapshot 1 lands partitioned by ``lang``, snapshot 2
# appends the rest of the corpus partitioned by ``source``, and a
# single manifest read unions both layouts (each snapshot owns its
# directories, so the spec can change per write without rewriting
# history — exactly Iceberg's contract; Spark's native writer would
# force one global layout). The readback aggregate must equal the
# plain-documents oracle bit-for-bit.
#
# partition_evolution.


def _q_partition_evolution(spark, sf_dir):
    from ..tables.icelite import IceliteTable

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
# ``rendezvous_assign``: weighted rendezvous (highest-random-weight)
# hashing — the OTHER consistent shard assignment next to the ring
# (`consistent_hash_assign`): each doc scores every node with a
# shared integer hash × node weight and takes the argmax, so
# removing a node moves ONLY that node's docs (minimal disruption —
# the defining HRW property, computed IN the query by assigning
# twice, with and without node 13, and flagging movers). Bounded
# 16-way explode, integer-only, argmax via the single-BIGINT min_by
# tie-break.
#
# rendezvous_assign. score(d, n) = ((d*2654435761 + n*40503 + 7919)
# % 1000003) * (1 + n % 4); argmax, ties to the smaller node id.

_HRW_NODES = 16

_HRW_DROP = 13

_HRW_MOD = 1_000_003


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
# ``zonemap_overlap_audit``: the clustering-quality audit DBAs run
# on Iceberg metadata — how many OTHER files' [min, max] ranges
# overlap each file's range on a sort column (overlap ⇒ a range
# query must open multiple files; the Iceberg "clustering depth"
# signal). Reads the engine's own icelite zone maps from the
# snapshot manifest (real table metadata, one file per lang
# partition by construction) and cross-checks them against a plain
# relational oracle over the source rows — metadata provably consistent with data.
#
# zonemap_overlap_audit.


def _q_zonemap_overlap_audit(spark, sf_dir):
    from ..tables.icelite import IceliteTable

    root = _fresh_dir("zm_audit_")
    t = IceliteTable(root, "docs")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # one file per lang partition => the manifest entry IS the per-lang
    # min/max of the sort column
    t.write(
        d.repartition(1).sortWithinPartitions("lang"),
        partition_by=["lang"],
        stage="zm_v1",
        lineage_key="doc_id",
        stats_cols=["n_chars"],
    )
    zm = spark.createDataFrame(
        [(f["path"].split("/lang=")[1].split("/")[0], *f["stats"]["n_chars"])
         for f in t.current_snapshot()["files"]],
        "lang string, file_min long, file_max long",
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


# --------------------------------------------------------------------------
# ``gdpr_forget``: right-to-be-forgotten through the table format —
# events land in an icelite table, one user's rows are removed with
# the row-level copy-on-write DELETE, and the query returns the
# post-delete per-type counts PLUS the compliance audit trail (the
# deleted row count recovered from the snapshot changelog). Brings
# the icelite DELETE path onto the oracled driver surface (it was
# pytest-only); the oracle is the plain relational complement.
#
# gdpr_forget.

_FORGET_USER = 42


def _q_gdpr_forget(spark, sf_dir):
    from ..tables.icelite import IceliteTable

    root = _fresh_dir("gdpr_")
    t = IceliteTable(root, "events")
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    t.write(e, stage="ingest", lineage_key="event_id")
    pre_sid = t.current_snapshot()["snapshot_id"]
    victim = spark.createDataFrame(
        [(_FORGET_USER,)], "user_id long"
    )
    t.delete(spark, victim, "user_id", stage="forget")
    post_sid = t.current_snapshot()["snapshot_id"]
    deleted = (
        t.changes(spark, pre_sid, post_sid)
        .where(F.col("_change_type") == "delete")
        .agg(F.count(F.lit(1)).alias("n_deleted"))
    )
    after = t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return after.crossJoin(F.broadcast(deleted)).select(
        "event_type", "n_events", "n_users", "n_deleted"
    )


_GDPR_SQL = f"""
    WITH after AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE user_id <> {_FORGET_USER}
      GROUP BY event_type
    ),
    del AS (
      SELECT CAST(count(*) AS BIGINT) AS n_deleted
      FROM events WHERE user_id = {_FORGET_USER}
    )
    SELECT event_type, n_events, n_users, n_deleted
    FROM after, del
    """

register(GEO, "gdpr_forget", _q_gdpr_forget, _GDPR_SQL)
