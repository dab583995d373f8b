"""Registry backing __spark_entry__.queries()/oracle_sql().

Every entry implements one operator row from SURVEY.md §2 (cited per
query) as (a) an idiomatic Spark DataFrame program and (b) a DuckDB
oracle SQL string with IDENTICAL column names and arithmetic. Geo
queries get full oracles too because the tile grid is closed-form
arithmetic (tables/tilegrid.py).

Determinism rules used throughout:
- every aggregate/computed column is aliased identically on both sides;
- double aggregates are rounded in-query on both sides;
- ties in any top-k / dedup are broken by explicit unique keys;
- counts/sizes are cast to bigint on both sides (DuckDB len() vs Spark
  size() width mismatch).
"""

from __future__ import annotations

from importlib import import_module

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import oracles
from .geo import cells as h3lite
from .operators import assign as A
from .operators import encode as E
from .pipelines.assign_tiles import assignments, web_pages_from_documents
from .registry import GEO, REL, TEXT, entries, read_table as _t, register

# --------------------------------------------------------------------------
# helpers


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.with_geotag(web_pages_from_documents(spark, sf_dir))


# --------------------------------------------------------------------------
# GEO — the engine core (SURVEY §2 J1/J8/F10, BASELINE.json north rule)


def _q_tile_assign(spark, sf_dir):
    """J1+refine: broadcast-index PIP + kNN tile assignment per page."""
    return assignments(spark, sf_dir)


register(GEO, "tile_assign", _q_tile_assign, oracles.tile_assign_sql())


def _q_tile_histogram(spark, sf_dir):
    """A6/skew sketch: pages per tile per method (groupBy on cell keys)."""
    return (
        assignments(spark, sf_dir)
        .groupBy("tile_id", "method")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


register(GEO, "tile_histogram", _q_tile_histogram, oracles.tile_histogram_sql())


def _q_cells_encode(spark, sf_dir):
    """F10 multi-res: h3lite res 5-9, pure Catalyst expressions."""
    pts = _pts(spark, sf_dir)
    pts = E.with_cells(pts, resolutions=(5, 6, 7, 8, 9))
    return pts.select("url", "h3_r5", "h3_r6", "h3_r7", "h3_r8", "h3_r9")


register(GEO, "cells_encode", _q_cells_encode, oracles.cells_encode_sql())


def _q_cell_parent(spark, sf_dir):
    """Hierarchy invariant: res-9 cell truncated to res 5 == direct res-5
    encode (the oracle computes both directly)."""
    pts = _pts(spark, sf_dir)
    c9 = h3lite.encode_col(F.col("lat"), F.col("lon"), 9)
    pts = pts.withColumn("h3_r9", c9).withColumn(
        "h3_r5", h3lite.parent_col(F.col("h3_r9"), 5, 9)
    )
    return pts.select("url", "h3_r9", "h3_r5")


register(GEO, "cell_parent", _q_cell_parent, oracles.cell_parent_sql())


def _q_text_invariant(spark, sf_dir):
    """Byte-identity invariant (BASELINE.json:15): sha256(text) per url
    after the full assignment pipeline."""
    pages = _pts(spark, sf_dir)
    pages = E.with_cells(pages, resolutions=(E.PARTITION_RES,))
    asg = A.assign_tiles(pages, spark, pip="convex")
    return asg.select(
        "url", F.sha2(F.col("text"), 256).alias("text_sha"), "tile_id"
    )


register(GEO, "text_invariant", _q_text_invariant, oracles.text_invariant_sql())


def _q_knn_fallback(spark, sf_dir):
    """J8: the kNN-to-nearest-tile rows only (points in grid gaps)."""
    return assignments(spark, sf_dir).filter(F.col("method") == "knn").select(
        "url", "tile_id", "dist2"
    )


register(
    GEO,
    "knn_fallback",
    _q_knn_fallback,
    f"""
    {oracles.assign_cte()}
    SELECT url, tile_id, dist2 FROM asg WHERE method = 'knn'
    """,
)


def _q_bbox_filter(spark, sf_dir):
    """P6: bbox envelope predicate (viz/query_visualization.py:145-157)."""
    pts = _pts(spark, sf_dir)
    return pts.filter(
        (F.col("lon") >= -100.0)
        & (F.col("lon") <= -90.0)
        & (F.col("lat") >= 30.0)
        & (F.col("lat") <= 40.0)
    ).select("url", "lat", "lon")


register(
    GEO,
    "bbox_filter",
    _q_bbox_filter,
    f"""
    WITH pts AS ({oracles.pts_cte()})
    SELECT url, lat, lon FROM pts
    WHERE lon >= -100.0 AND lon <= -90.0 AND lat >= 30.0 AND lat <= 40.0
    """,
)


def _q_s2_cells(spark, sf_dir):
    """S2 cell ids (canonical S2 construction, pandas UDF) — fully
    oracled: geo.s2lite.encode_sql_query re-derives the identical
    face/uv/st/ij/Hilbert pipeline in DuckDB SQL."""
    pts = E.with_s2(_pts(spark, sf_dir))
    return pts.select("url", "s2_cell")


from .geo import s2lite as _s2  # noqa: E402

register(
    GEO,
    "s2_cells",
    _q_s2_cells,
    _s2.encode_sql_query(oracles.pts_cte(), keys=("url",), level=E.S2_LEVEL),
)


# --------------------------------------------------------------------------
# RELATIONAL — SURVEY §2 operators over the TPC-H-ish tables


def _q_pricing_summary(spark, sf_dir):
    """A2/A3 flagship relational agg (grouped sums/avgs/count, the
    reference's COUNT/boolean-sum shapes scaled up)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    REL,
    "pricing_summary",
    _q_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)


def _q_join_left_3way(spark, sf_dir):
    """J5: 3-way LEFT join attribute assembly (query_geojson.py:139-153)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(n, c.c_nationkey == n.n_nationkey, "left")
        .join(r, n.n_regionkey == r.r_regionkey, "left")
        .select("o_orderkey", "c_name", "n_name", "r_name")
    )


register(
    REL,
    "join_left_3way",
    _q_join_left_3way,
    """
    SELECT o_orderkey, c_name, n_name, r_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)


def _q_window_dedup(spark, sf_dir):
    """J7: first-item-per-group via ranking window (load.py:76-88)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
    )


register(
    REL,
    "window_dedup",
    _q_window_dedup,
    """
    SELECT o_custkey, o_orderkey AS first_orderkey FROM (
        SELECT o_custkey, o_orderkey,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)


def _q_semi_filter(spark, sf_dir):
    """J6/P8: left-semi keep-set filter (query_geojson.py:221-233)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


register(
    REL,
    "semi_filter",
    _q_semi_filter,
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000.0
    )
    """,
)


def _q_anti_orphans(spark, sf_dir):
    """Left-anti complement of J6 (the upsert's conflict detection, A5)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal"
    )


register(
    REL,
    "anti_orphans",
    _q_anti_orphans,
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)


def _q_topk_orders(spark, sf_dir):
    """T2: deterministic top-k (ORDER BY value DESC, key LIMIT 10)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


register(
    REL,
    "topk_orders",
    _q_topk_orders,
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)


def _q_topn_per_group(spark, sf_dir):
    """T3: head-N per group via ranking window (viz popup's head-3)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


register(
    REL,
    "topn_per_group",
    _q_topn_per_group,
    """
    SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (
                   PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
               ) AS rn
        FROM customer
    ) WHERE rn <= 3
    """,
)


def _q_distinct_pairs(spark, sf_dir):
    """A4: SELECT DISTINCT (load.py:212)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


register(
    REL,
    "distinct_pairs",
    _q_distinct_pairs,
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)


def _q_union_all(spark, sf_dir):
    """U1: UNION ALL of per-source scans (load.py:139-149)."""
    p = _t(spark, sf_dir, "part")
    small = p.filter(F.col("p_size") < 10).select("p_partkey", "p_size")
    big = p.filter(F.col("p_size") > 40).select("p_partkey", "p_size")
    return small.unionByName(big)


register(
    REL,
    "union_all",
    _q_union_all,
    """
    SELECT p_partkey, p_size FROM part WHERE p_size < 10
    UNION ALL
    SELECT p_partkey, p_size FROM part WHERE p_size > 40
    """,
)


def _q_regexp_path_join(spark, sf_dir):
    """J2/F1: path-derived equi-join via regexp_extract (load.py:206-221).

    lineitem rows play the file manifest; supplier plays Catchments.
    Broadcast hash join on the extracted branch dir.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    files = li.select(
        F.concat(
            F.lit("s3://fix/huc1/branches/b"),
            F.col("l_suppkey").cast("string"),
            F.lit("/file"),
            F.col("l_linenumber").cast("string"),
            F.lit(".csv"),
        ).alias("file")
    )
    files = files.withColumn(
        "branch_path", F.regexp_extract(F.col("file"), r"(.*/branches/[^/]+/)", 1)
    )
    dim = s.select(
        F.concat(
            F.lit("s3://fix/huc1/branches/b"), F.col("s_suppkey").cast("string"), F.lit("/")
        ).alias("branch_path"),
        "s_name",
    )
    return (
        files.join(F.broadcast(dim), "branch_path")
        .select("branch_path", "s_name")
        .distinct()
    )


register(
    REL,
    "regexp_path_join",
    _q_regexp_path_join,
    """
    WITH files AS (
        SELECT concat('s3://fix/huc1/branches/b', CAST(l_suppkey AS VARCHAR),
                      '/file', CAST(l_linenumber AS VARCHAR), '.csv') AS file
        FROM lineitem
    ), extracted AS (
        SELECT file, regexp_extract(file, '(.*/branches/[^/]+/)', 1) AS branch_path
        FROM files
    ), dim AS (
        SELECT concat('s3://fix/huc1/branches/b', CAST(s_suppkey AS VARCHAR), '/')
                   AS branch_path,
               s_name
        FROM supplier
    )
    SELECT DISTINCT e.branch_path, d.s_name
    FROM extracted e JOIN dim d ON e.branch_path = d.branch_path
    """,
)


def _q_upsert_dedup(spark, sf_dir):
    """A5: dedup-on-key upsert surrogate — latest state per key."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_day"),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    REL,
    "upsert_dedup",
    _q_upsert_dedup,
    """
    SELECT o_custkey,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_day,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)


def _q_threshold_mask(spark, sf_dir):
    """P7: composite boolean threshold mask (query_geojson.py:213-219)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45.0)
        | (F.col("l_discount") >= 0.09)
        | (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity")


register(
    REL,
    "threshold_mask",
    _q_threshold_mask,
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_quantity > 45.0 OR l_discount >= 0.09 OR l_returnflag = 'R'
    """,
)


def _q_bool_sum_stats(spark, sf_dir):
    """A3: boolean-sum stats dict (query_geojson.py:206-211)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("returned_cnt"),
        F.sum((F.col("l_quantity") > 45.0).cast("long")).alias("bulk_cnt"),
        F.count(F.lit(1)).alias("total_cnt"),
    )


register(
    REL,
    "bool_sum_stats",
    _q_bool_sum_stats,
    """
    SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS returned_cnt,
           CAST(sum(CASE WHEN l_quantity > 45.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS bulk_cnt,
           count(*) AS total_cnt
    FROM lineitem
    """,
)


def _q_events_windowed(spark, sf_dir):
    """Time-bucketed agg on the events stream table (batch form of the
    streaming rollup; north-rule warc_ts handling analogue)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


register(
    REL,
    "events_windowed",
    _q_events_windowed,
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)


# --------------------------------------------------------------------------
# TEXTOPS — training-data pipeline operators over `documents`


def _q_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )


register(
    TEXT,
    "token_count",
    _q_token_count,
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
)


def _q_exact_dedup(spark, sf_dir):
    """Exact dedup: hash-groupBy on sha256(text), min-id representative."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("text_sha", F.sha2(F.col("text"), 256))
        .groupBy("text_sha")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


register(
    TEXT,
    "exact_dedup",
    _q_exact_dedup,
    """
    SELECT sha256(text) AS text_sha, min(doc_id) AS rep_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)


_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it")
_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _q_quality_score(spark, sf_dir):
    """Quality scoring: length + stopword-ratio features (vectorized,
    no per-row Python — array lambdas run in the JVM)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("double")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
    score = F.round(
        F.least(n_tok / F.lit(200.0), F.lit(1.0)) * F.lit(0.5)
        + (n_stop / F.greatest(n_tok, F.lit(1.0))) * F.lit(5.0) * F.lit(0.5),
        6,
    )
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1.0)), 6).alias("stop_ratio"),
        score.alias("quality"),
    )


register(
    TEXT,
    "quality_score",
    _q_quality_score,
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x IN ({_SW_LIST}))) AS DOUBLE) AS n_stop
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           round(n_stop / greatest(n_tok, 1.0), 6) AS stop_ratio,
           round(least(n_tok / 200.0, 1.0) * 0.5
                 + (n_stop / greatest(n_tok, 1.0)) * 5.0 * 0.5, 6) AS quality
    FROM t
    """,
)


_EN = ("the", "and", "of", "is")
_ES = ("el", "la", "de", "es")


def _q_langid(spark, sf_dir):
    """Language-ID heuristic: marker-token voting."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_en = F.size(F.filter(toks, lambda x: x.isin(*_EN))).cast("long")
    n_es = F.size(F.filter(toks, lambda x: x.isin(*_ES))).cast("long")
    return d.select(
        "doc_id",
        n_en.alias("n_en"),
        n_es.alias("n_es"),
        F.when(n_en >= n_es, F.lit("en")).otherwise(F.lit("es")).alias("pred_lang"),
    )


_en_list = ", ".join(f"'{w}'" for w in _EN)
_es_list = ", ".join(f"'{w}'" for w in _ES)
register(
    TEXT,
    "langid",
    _q_langid,
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x IN ({_en_list}))) AS BIGINT) AS n_en,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x IN ({_es_list}))) AS BIGINT) AS n_es
        FROM documents
    )
    SELECT doc_id, n_en, n_es,
           CASE WHEN n_en >= n_es THEN 'en' ELSE 'es' END AS pred_lang
    FROM t
    """,
)


# --------------------------------------------------------------------------
# Every registry module, in driver order: this module's own queries, then
# each batch. A new query is one register(...) call in its module; a new
# module is one more name here. The family dicts fill in (module position,
# registration order), never in import order.

MODULES = (
    "entry_queries", "entry_queries_ext", "entry_queries_r2", "entry_queries_r4",
    "entry_queries_r5", "entry_queries_r5b", "entry_queries_r5c", "entry_queries_r5d",
    "entry_queries_r5e", "entry_queries_r5f", "entry_queries_r5g", "entry_queries_r5h",
    "entry_queries_r5i", "entry_queries_r5j", "entry_queries_r5k", "entry_queries_r5l",
    "entry_queries_r5m", "entry_queries_r5n", "entry_queries_r5o", "entry_queries_r5p",
    "entry_queries_r5q", "entry_queries_r5r", "entry_queries_r5s", "entry_queries_r5t",
    "entry_queries_r5u", "entry_queries_r5v", "entry_queries_r5w", "entry_queries_r5x",
    "entry_queries_r5y", "entry_queries_r5z", "entry_queries_r5aa",
    "entry_queries_r5bb", "entry_queries_r5cc", "entry_queries_r5dd",
    "entry_queries_r5ee", "entry_queries_r5ff", "entry_queries_r5gg",
    "entry_queries_r5hh", "entry_queries_r5ii", "entry_queries_r5jj",
    "entry_queries_r5kk", "entry_queries_r5ll", "entry_queries_r5mm",
    "entry_queries_r5nn", "entry_queries_r5oo", "entry_queries_r5pp",
    "entry_queries_r5qq", "entry_queries_r5rr", "entry_queries_r5ss",
    "entry_queries_r5tt", "entry_queries_r5uu", "entry_queries_r5vv",
    "entry_queries_r5ww", "entry_queries_r5xx", "entry_queries_r5yy",
    "entry_queries_r5zz", "entry_queries_r5aaa", "entry_queries_r5bbb",
    "entry_queries_r5ccc",
)

GEO_QUERIES: dict = {}
RELATIONAL: dict = {}
TEXTOPS: dict = {}
ORACLES: dict[str, str] = {}

_BY_FAMILY = {GEO: GEO_QUERIES, REL: RELATIONAL, TEXT: TEXTOPS}
for _module in MODULES:
    _qualified = import_module(f".{_module}", __package__).__name__
    for _family, _name, _fn, _oracle in entries(_qualified):
        _BY_FAMILY[_family][_name] = _fn
        ORACLES[_name] = _oracle
