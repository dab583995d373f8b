"""Training-data-pipeline operator registry, batch 2 (merged into
__spark_entry__ via entry_queries): near-dup detection (MinHash-LSH,
SimHash, n-gram Jaccard), document fingerprinting, embedding ANN,
multimodal binary plumbing, sessionization.

Everything here is a full-oracle query: both engines evaluate the SAME
deterministic arithmetic. The shared token hash is a cheap closed-form
polynomial (length/first/last char) chosen because it is expressible in
both Spark and DuckDB SQL — production would swap in xxhash64; the
LSH/banding mechanics are identical either way.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# shared token hash + MinHash parameters: canonical definitions live in
# operators/dedup.py (the engine operator); this registry reuses them so
# query and operator can never drift.

from .operators.dedup import (  # noqa: E402
    MINHASH_P as _MINHASH_P,
    PERMS as _PERMS,
    TOKEN_HASH_SQL as _HASH_SQL,
    token_hash_col as _hash_col,
)


def _q_minhash_lsh(spark, sf_dir):
    """MinHash signatures + LSH band keys per doc — pure Catalyst
    (explode + groupBy min), zero Python."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    h = _hash_col(F.col("tok"))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_PERMS)
    ]
    sig = toks.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id",
        "mh0",
        "mh1",
        "mh2",
        "mh3",
        F.concat_ws("_", "mh0", "mh1", "mh2").alias("band0"),
        F.concat_ws("_", "mh1", "mh2", "mh3").alias("band1"),
    )


_mh_sql_terms = ",\n           ".join(
    f"min(({a} * {_HASH_SQL.format(t='tok')} + {b}) % {_MINHASH_P}) AS mh{i}"
    for i, (a, b) in enumerate(_PERMS)
)
register(
    TEXT,
    "minhash_signatures",
    _q_minhash_lsh,
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), sig AS (
        SELECT doc_id,
           {_mh_sql_terms}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, mh0, mh1, mh2, mh3,
           concat(mh0, '_', mh1, '_', mh2) AS band0,
           concat(mh1, '_', mh2, '_', mh3) AS band1
    FROM sig
    """,
)


def _q_lsh_dup_pairs(spark, sf_dir):
    """LSH candidate pairs: docs sharing any band bucket (the
    shingle->minhash->band->bucket-join dedup path)."""
    sig = _q_minhash_lsh(spark, sf_dir)
    pairs = None
    for band in ("band0", "band1"):
        a = sig.select(F.col("doc_id").alias("id_a"), F.col(band).alias("bk"))
        b = sig.select(F.col("doc_id").alias("id_b"), F.col(band).alias("bk"))
        p = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct()


register(
    TEXT,
    "lsh_dup_pairs",
    _q_lsh_dup_pairs,
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ), sig AS (
        SELECT doc_id,
           {_mh_sql_terms}
        FROM toks GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, concat(mh0, '_', mh1, '_', mh2) AS bk FROM sig
        UNION ALL
        SELECT doc_id, concat(mh1, '_', mh2, '_', mh3) AS bk FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
    """,
)


# --------------------------------------------------------------------------
# SimHash (16-bit)


def _q_simhash16(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = _hash_col(F.col("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{b}")
        for b in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


_sim_sql_sums = ",\n           ".join(
    f"sum(CASE WHEN (({_HASH_SQL.format(t='tok')} >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(16)
)
_sim_sql_combine = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
)
register(
    TEXT,
    "simhash16",
    _q_simhash16,
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), agg AS (
        SELECT doc_id,
           {_sim_sql_sums}
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({_sim_sql_combine} AS BIGINT) AS simhash FROM agg
    """,
)


# --------------------------------------------------------------------------
# LSH-prefiltered exact Jaccard near-dup pairs (the 100 TB dedup path):
# exact-dedup pre-pass -> MinHash band buckets with a hot-bucket cap ->
# exact token-set Jaccard on CANDIDATES only. No all-pairs join, no row
# cap (replaces round-1's lang-blocked cross join, VERDICT items 3/8).

_BUCKET_CAP = 50


def _q_jaccard_pairs(spark, sf_dir):
    from .operators.dedup import capped_candidate_pairs, dedup_base, jaccard_refine

    d = _t(spark, sf_dir, "documents")
    base = dedup_base(d)  # ONE corpus scan feeds signatures + token sets
    pairs = capped_candidate_pairs(base=base, cap=_BUCKET_CAP)
    return jaccard_refine(d, pairs, threshold=0.2, base=base)


_JAC_EXPR = (
    "round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE), 6)"
)

# SQL twin of operators.dedup capped_candidate_pairs (exact-dedup
# pre-pass -> minhash -> salted band buckets -> bounded self-join) plus
# the per-doc token-set CTE — the shared prefix for every
# candidate-pair refine oracle (jaccard_pairs here, containment_pairs
# in entry_queries_r5).
LSH_CAND_CTE_SQL = f"""
    WITH reps AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
    ), toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM reps
    ), sig AS (
        SELECT doc_id,
           {_mh_sql_terms}
        FROM toks GROUP BY doc_id
    ), banded AS (
        SELECT doc_id, 0 AS band_idx, concat(mh0, '_', mh1, '_', mh2) AS bk FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_idx, concat(mh1, '_', mh2, '_', mh3) AS bk FROM sig
    ), sized AS (
        SELECT doc_id, band_idx, bk,
               count(*) OVER (PARTITION BY band_idx, bk) AS cnt
        FROM banded
    ), salted AS (
        SELECT doc_id, band_idx, bk,
               ((((doc_id % 1000003) * 2654435761) + 12289) % 1000003)
                 % greatest(1, (cnt + {_BUCKET_CAP - 1}) // {_BUCKET_CAP}) AS salt
        FROM sized
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM salted a JOIN salted b
          ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.salt = b.salt
             AND a.doc_id < b.doc_id
    ), s AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents
    )"""

JACCARD_PAIRS_SQL = f"""{LSH_CAND_CTE_SQL}
    SELECT id_a, id_b, {_JAC_EXPR} AS jac
    FROM cand JOIN s a ON a.doc_id = cand.id_a JOIN s b ON b.doc_id = cand.id_b
    WHERE {_JAC_EXPR} >= 0.2
    """

register(TEXT, "jaccard_pairs", _q_jaccard_pairs, JACCARD_PAIRS_SQL)


# --------------------------------------------------------------------------
# order-sensitive document fingerprint (rolling position hash)


def _q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    terms = F.transform(toks, lambda x, i: _hash_col(x) * (i + F.lit(1)))
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x) % F.lit(
        1000000007
    )
    return d.select("doc_id", fp.alias("fingerprint"))


register(
    TEXT,
    "doc_fingerprint",
    _q_doc_fingerprint,
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(list_sum(list_transform(range(1, len(toks) + 1),
                i -> {_HASH_SQL.format(t='toks[i]')} * i)) % 1000000007 AS BIGINT)
               AS fingerprint
    FROM t
    """,
)


# --------------------------------------------------------------------------
# embedding similarity: brute-force cosine top-k (ANN baseline)


def _q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = emb.withColumn("e", dbl).withColumn(
        "norm",
        F.sqrt(F.aggregate(F.col("e"), F.lit(0.0), lambda a, x: a + x * x)),
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("norm").alias("qn")
    )
    c = emb.select(
        F.col("vec_id").alias("vec_id"), F.col("e").alias("ce"), F.col("norm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    sims = (
        q.join(c, F.col("qid") != F.col("vec_id"))
        .withColumn("cos", dot / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "vec_id", F.round("cos", 6).alias("sim"), F.col("rank").cast("long").alias("rank"))
    )


register(
    TEXT,
    "embedding_topk",
    _q_embedding_topk,
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        FROM embeddings
    ), sims AS (
        SELECT q.vec_id AS qid, c.vec_id AS vec_id,
               list_sum(list_transform(range(1, len(q.e) + 1),
                        i -> q.e[i] * c.e[i])) / (q.norm * c.norm) AS cos
        FROM e q JOIN e c ON q.vec_id < 5 AND q.vec_id != c.vec_id
    )
    SELECT qid, vec_id, round(cos, 6) AS sim, CAST(rank AS BIGINT) AS rank FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        FROM sims
    ) WHERE rank <= 3
    """,
)


# --------------------------------------------------------------------------
# multimodal: opaque binary column + typed metadata (decode is stubbed
# behind operators/multimodal.py; the plumbing below is fully oracled)


def _q_binary_meta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    html = F.encode(
        F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "utf-8"
    )
    return d.select(
        "doc_id",
        F.length(html).cast("long").alias("n_bytes"),
        # sha2 over the pre-encoding string: identical UTF-8 bytes as the
        # blob (DuckDB 1.0's sha256 only accepts VARCHAR)
        F.sha2(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), 256
        ).alias("content_sha"),
    )


register(
    TEXT,
    "binary_meta",
    _q_binary_meta,
    """
    SELECT doc_id,
           CAST(octet_length(encode(concat('<html><body>', text, '</body></html>')))
                AS BIGINT) AS n_bytes,
           sha256(concat('<html><body>', text, '</body></html>')) AS content_sha
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# sessionization (window lag + cumulative sum over event stream)


def _q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is UTC so ntz->ltz->double(seconds)
    # matches DuckDB's epoch() exactly
    ep = F.col("ts").cast("timestamp").cast("double")
    gap = ep - F.lag(ep).over(w)
    ses = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800.0), F.lit(1)).otherwise(F.lit(0)),
    )
    return ses.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# shared with the stateful-streaming twin (entry_queries_r2
# stream_sessionize): batch and stream MUST verify against the same SQL
SESSIONIZE_ORACLE_SQL = """
    WITH g AS (
        SELECT user_id,
               CASE WHEN lag(CAST(epoch(ts) AS DOUBLE)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         OR CAST(epoch(ts) AS DOUBLE)
                            - lag(CAST(epoch(ts) AS DOUBLE)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) > 1800.0
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM g GROUP BY user_id
    """

register(TEXT, "sessionize", _q_sessionize, SESSIONIZE_ORACLE_SQL)


# --------------------------------------------------------------------------
# P6/F18: global bounds + buffered envelope (viz total_bounds analogue)


def _q_total_bounds(spark, sf_dir):
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    return pts.agg(
        (F.min("lon") - F.lit(0.5)).alias("xmin"),
        (F.min("lat") - F.lit(0.5)).alias("ymin"),
        (F.max("lon") + F.lit(0.5)).alias("xmax"),
        (F.max("lat") + F.lit(0.5)).alias("ymax"),
    )


def _q_drop_columns(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.drop("props", "value").select(
        "event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "user_id", "event_type",
    )


def _register_geo2():
    from .oracles import pts_cte

    register(
        GEO,
        "total_bounds",
        _q_total_bounds,
        f"""
        WITH pts AS ({pts_cte()})
        SELECT min(lon) - 0.5 AS xmin, min(lat) - 0.5 AS ymin,
               max(lon) + 0.5 AS xmax, max(lat) + 0.5 AS ymax
        FROM pts
        """,
    )
    register(
        TEXT,
        "drop_columns",
        _q_drop_columns,
        """
        SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               user_id, event_type
        FROM events
        """,
    )


_register_geo2()


# --------------------------------------------------------------------------
# batch 3: remaining SURVEY §2 rows + multimodal plumbing


def _q_proj_select(spark, sf_dir):
    """P1: plain column projection (query_geojson.py:66-69)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_orderstatus")


register(
    TEXT,
    "proj_select",
    _q_proj_select,
    "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders",
)


def _q_limit0_schema(spark, sf_dir):
    """T1: LIMIT 0 schema clone (load.py:64) — empty frame, stable schema."""
    return _t(spark, sf_dir, "nation").limit(0).select("n_nationkey", "n_name")


register(
    TEXT,
    "limit0_schema",
    _q_limit0_schema,
    "SELECT n_nationkey, n_name FROM nation LIMIT 0",
)


def _q_raster_corners(spark, sf_dir):
    """Raster-footprint -> vector corner math (BASELINE.json:6), with the
    affine transform derived arithmetically from `part` so the oracle can
    rebuild it: transform = (10, 0, partkey*100, 0, -10, partkey*100+size*10),
    raster size = (p_size*16, p_size*8)."""
    p = _t(spark, sf_dir, "part")
    fp = p.select(
        F.concat(F.lit("s3://fix/r"), F.col("p_partkey").cast("string"), F.lit(".tif")).alias("raster_path"),
        (F.col("p_size") * F.lit(16)).alias("width"),
        (F.col("p_size") * F.lit(8)).alias("height"),
        F.array(
            F.lit(10.0),
            F.lit(0.0),
            (F.col("p_partkey") * F.lit(100)).cast("double"),
            F.lit(0.0),
            F.lit(-10.0),
            (F.col("p_partkey") * F.lit(100) + F.col("p_size") * F.lit(10)).cast("double"),
        ).alias("transform"),
        F.lit("EPSG:5070").alias("crs"),
    )
    from .operators.raster import footprints

    out = footprints(fp)
    return out.select(
        "raster_path",
        "x0", "y0", "x2", "y2",
        F.col("bbox.xmin").alias("xmin"),
        F.col("bbox.ymin").alias("ymin"),
        F.col("bbox.xmax").alias("xmax"),
        F.col("bbox.ymax").alias("ymax"),
    )


register(
    TEXT,
    "raster_corners",
    _q_raster_corners,
    """
    WITH fp AS (
        SELECT concat('s3://fix/r', CAST(p_partkey AS VARCHAR), '.tif') AS raster_path,
               p_size * 16 AS w, p_size * 8 AS h,
               10.0 AS a, 0.0 AS b, CAST(p_partkey * 100 AS DOUBLE) AS c,
               0.0 AS d, -10.0 AS e,
               CAST(p_partkey * 100 + p_size * 10 AS DOUBLE) AS f
        FROM part
    ), corners AS (
        SELECT raster_path,
               a * 0.0 + b * 0.0 + c AS x0, d * 0.0 + e * 0.0 + f AS y0,
               a * CAST(w AS DOUBLE) + b * CAST(h AS DOUBLE) + c AS x2,
               d * CAST(w AS DOUBLE) + e * CAST(h AS DOUBLE) + f AS y2,
               a * CAST(w AS DOUBLE) + b * 0.0 + c AS x1,
               d * CAST(w AS DOUBLE) + e * 0.0 + f AS y1,
               a * 0.0 + b * CAST(h AS DOUBLE) + c AS x3,
               d * 0.0 + e * CAST(h AS DOUBLE) + f AS y3
        FROM fp
    )
    SELECT raster_path, x0, y0, x2, y2,
           least(x0, x1, x2, x3) AS xmin, least(y0, y1, y2, y3) AS ymin,
           greatest(x0, x1, x2, x3) AS xmax, greatest(y0, y1, y2, y3) AS ymax
    FROM corners
    """,
)


def _q_multimodal_meta(spark, sf_dir):
    """Opaque-binary metadata extraction over mapInPandas. Payloads mix
    jpeg/png/riff magic prefixes onto the html bytes (doc_id % 4) so the
    magic-dispatch table is actually exercised; fully oracled — the
    metadata is deterministic arithmetic over the UTF-8 bytes."""
    from .operators.multimodal import attach_html_binary, extract_meta

    d = attach_html_binary(_t(spark, sf_dir, "documents"))
    payload = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.unhex(F.lit("FFD8FF")), F.col("html")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.unhex(F.lit("89504E")), F.col("html")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.unhex(F.lit("524946")), F.col("html")))
        .otherwise(F.col("html"))
    )
    out = extract_meta(d.withColumn("payload", payload), binary_col="payload")
    return out.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.magic").alias("magic"),
        F.col("meta.modality").alias("modality"),
    )


_HTML_LEN_SQL = "octet_length(encode(concat('<html><body>', text, '</body></html>')))"

register(
    TEXT,
    "multimodal_meta",
    _q_multimodal_meta,
    f"""
    SELECT doc_id,
           CAST({_HTML_LEN_SQL}
                + CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 3 ELSE 0 END AS BIGINT)
               AS n_bytes,
           CASE doc_id % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                           WHEN 2 THEN 'riff' ELSE 'html' END AS magic,
           CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'image'
                           WHEN 2 THEN 'audio' ELSE 'text' END AS modality
    FROM documents
    """,
)


def _q_multimodal_decode(spark, sf_dir):
    """Deterministic-fake image decode through the real batch plumbing.
    Fully oracled: the fake's w/h derive from the (constant) first 8
    payload bytes and mean_intensity is the exact integer byte-sum over
    the UTF-8 html divided by its length — SQL recomputes both.

    Oracle precondition: the corpus text is ASCII (the engine sums raw
    UTF-8 BYTES; the SQL iterates CODEPOINTS — equal only when they
    coincide). tests/test_driver_contract.py asserts the precondition
    so a corpus change fails loudly, not as a silent hash mismatch."""
    from .operators.multimodal import attach_html_binary, decode_image

    d = _t(spark, sf_dir, "documents")
    return decode_image(attach_html_binary(d), fake=True).select(
        "doc_id", "width", "height", F.round("mean_intensity", 4).alias("mean_intensity")
    )


def _decode_oracle_sql() -> str:
    seed = int.from_bytes(b"<html><b", "little")
    w = 16 + seed % 64
    h = 16 + (seed >> 8) % 64
    return f"""
    SELECT doc_id, {w} AS width, {h} AS height,
           round(CAST(list_sum(list_transform(
                     range(1, length(concat('<html><body>', text, '</body></html>')) + 1),
                     i -> ascii(substr(concat('<html><body>', text, '</body></html>'), i, 1))))
                 AS DOUBLE) / {_HTML_LEN_SQL}, 4) AS mean_intensity
    FROM documents
    """


register(TEXT, "multimodal_decode", _q_multimodal_decode, _decode_oracle_sql())


# --------------------------------------------------------------------------
# ANN scale path: banded multi-probe hyperplane LSH -> exact cosine
# re-rank among candidates (operators/ann.py). Replaces round-1's
# single 4-plane table (16 buckets = cosmetic reduction, VERDICT item
# 4) with n_tables x n_planes >= 16 planes + 1-bit multi-probe; at the
# default 4x16 scale config the measured candidate reduction is >=100x
# (tests/test_dedup_ann.py).


def _q_ann_lsh_topk(spark, sf_dir):
    from .operators.ann import N_PLANES, N_TABLES, ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ann_topk(
        emb, F.col("vec_id") < 5, k=3, n_tables=N_TABLES, n_planes=N_PLANES
    )


def _ann_oracle_sql() -> str:
    from .operators.ann import bucket_cols_sql, candidates_sql

    return f"""
    WITH e0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), e AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS norm,
               {", ".join(bucket_cols_sql())}
        FROM e0
    ), cand AS ({candidates_sql("WHERE q.vec_id < 5")}),
    sims AS (
        SELECT cand.qid, cand.vec_id,
               list_sum(list_transform(range(1, len(q.e) + 1),
                        i -> q.e[i] * c.e[i])) / (q.norm * c.norm) AS cos
        FROM cand
        JOIN e q ON q.vec_id = cand.qid
        JOIN e c ON c.vec_id = cand.vec_id
    )
    SELECT qid, vec_id, round(cos, 6) AS sim, CAST(rank AS BIGINT) AS rank FROM (
        SELECT qid, vec_id, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        FROM sims
    ) WHERE rank <= 3
    """


register(TEXT, "ann_lsh_topk", _q_ann_lsh_topk, _ann_oracle_sql())
