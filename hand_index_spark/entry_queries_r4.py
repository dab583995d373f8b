"""Round-4 registry batch: large-dimension join-path assignment and the
persisted-ANN pipeline surface (VERDICT r3 items 5 and 7).

Same contract as every other batch: each query is (a) an idiomatic
Spark program and (b) a DuckDB oracle with identical column names and
arithmetic, registered through registry.register.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from . import oracles
from .operators import assign as A
from .operators import encode as E
from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# Large-dimension tile assignment (operators/assign.py:assign_tiles_joined):
# the broadcast-ceiling fallback — cell-key shuffle equi-joins, zero
# broadcast — must produce byte-for-byte the flagship's assignments, so
# it shares tile_assign's oracle verbatim.


def _q_tile_assign_joined(spark, sf_dir):
    """J1+J8 via the no-broadcast plan: PIP equi-join on the point's own
    cell key + 7x7-ring kNN equi-join for misses (dimension past the
    broadcast ceiling at 10^6+ tiles). Same output contract as
    tile_assign."""
    from .pipelines.assign_tiles import web_pages_from_documents

    pages = web_pages_from_documents(spark, sf_dir)
    pages = E.with_geotag(pages)
    pages = E.with_cells(pages, resolutions=(E.PARTITION_RES,))
    assigned = A.assign_tiles_joined(pages, spark, key_col="url")
    return assigned.select("url", "tile_id", "method", "dist2", "cell_id")


register(GEO, "tile_assign_joined", _q_tile_assign_joined, oracles.tile_assign_sql())


# --------------------------------------------------------------------------
# Persisted ANN index (pipelines/ann_index.py): build the icelite-staged
# IVF index (vectors/centroids/assignments), then answer top-k from the
# tables alone — must equal the in-query ivf_topk math exactly, so it
# shares ann_ivf_topk's oracle (same params).

_IVF_K, _IVF_PROBE, _IVF_CENTS, _IVF_ROUNDS = 3, 2, 16, 2


def _q_ann_ivf_indexed(spark, sf_dir):
    """IVF top-k served from the persisted index: the corpus is scanned
    once at build, queries read only the materialized tables."""
    from pyspark.sql import functions as F
    from .pipelines.ann_index import build_ann_index, ivf_topk_indexed

    root = _fresh_dir("annidx_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    build_ann_index(
        spark, emb, root, fingerprint="q1",
        n_centroids=_IVF_CENTS, rounds=_IVF_ROUNDS,
    )
    return ivf_topk_indexed(
        spark, root, F.col("vec_id") < 5, k=_IVF_K, n_probe=_IVF_PROBE
    )


from .operators.ann import ivf_oracle_sql as _ivf_oracle_sql  # noqa: E402

register(
    TEXT,
    "ann_ivf_indexed",
    _q_ann_ivf_indexed,
    _ivf_oracle_sql(
        "vec_id < 5", k=_IVF_K, n_centroids=_IVF_CENTS,
        n_probe=_IVF_PROBE, rounds=_IVF_ROUNDS, dim=64,
    ),
)


# --------------------------------------------------------------------------
# Temporal joins (operators/temporal.py) — the brief's named custom-
# operator class ("as-of join, range join"), composed from DataFrame
# ops (no UDF). The oracles are the brute-force inequality forms; the
# engine runs the one-shuffle union-timeline / bucketed-equi-join
# shapes and must agree exactly.


def _q_asof_join(spark, sf_dir):
    """As-of join: every event picks its user's latest order at or
    before the event time (point-in-time feature lookup), via ONE
    keyed shuffle — union timeline + running last(ignorenulls)."""
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    out = asof_join(
        ev, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_orderkey", "o_totalprice"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd HH:mm:ss").alias(
            "ts_s"
        ),
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.round("asof_o_totalprice", 2).alias("asof_totalprice"),
    )


register(
    TEXT,
    "asof_join_latest_order",
    _q_asof_join,
    """
    WITH m AS (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           o_orderkey AS asof_orderkey,
           round(o_totalprice, 2) AS asof_totalprice
    FROM m WHERE rn = 1
    """,
)

# --------------------------------------------------------------------------
# Schema evolution on the icelite table layer (Iceberg's add-column):
# snapshot 1 is written WITHOUT ``lang``, snapshot 2 appends WITH it;
# the manifest read null-fills the missing column on the old rows
# (unionByName allowMissingColumns) — the contract a long-lived
# 10^12-row table needs when the ingest schema widens mid-life.


def _q_schema_evolution(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("schevo_")
    d = _t(spark, sf_dir, "documents")
    t = IceliteTable(root, "docs_evo")
    t.write(
        d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text"),
        stage="v1", fingerprint="s1", lineage_key="doc_id",
    )
    t.write(
        d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text", "lang"),
        stage="v2", fingerprint="s2", mode="append", lineage_key="doc_id",
    )
    back = t.read(spark)
    return back.groupBy(
        F.coalesce(F.col("lang"), F.lit("<pre-evolution>")).alias("lang")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
    )


register(
    TEXT,
    "schema_evolution",
    _q_schema_evolution,
    """
    SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE '<pre-evolution>' END AS lang,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids
    FROM documents GROUP BY 1
    """,
)


# --------------------------------------------------------------------------
# Streaming deduplication: dropDuplicatesWithinWatermark on a live feed
# — the continuous twin of the exact-dedup pre-pass (a crawler re-sees
# the same url within the watermark horizon; state is bounded by it).
# Duplicate events are synthesized by unioning the feed with itself;
# the oracle is plain batch DISTINCT.


def _q_stream_dedup(spark, sf_dir):
    import os
    import uuid

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src = _fresh_dir("sdedup_src_")
    os.symlink(path, os.path.join(src, "events.parquet"))
    feed = spark.readStream.schema(schema).parquet(src)
    doubled = feed.unionByName(feed)  # every event arrives twice
    deduped = (
        doubled.select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
        )
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    TEXT,
    "stream_dedup",
    _q_stream_dedup,
    """
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)


# --------------------------------------------------------------------------
# Bigram language-model quality scoring (the LM-filter stage of a
# training-data pipeline): train add-one-smoothed bigram stats on the
# corpus itself, score every doc by mean log P(w2|w1). Pure Catalyst
# (token explode -> global counts -> joins -> agg); the per-doc mean of
# ~20 ln() terms rounds to 4dp (partition-order float-sum slack ~1e-15).


def _q_lm_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # docs with < 2 tokens have no bigrams: filter BEFORE the transform —
    # sequence(0, size-2) on a 1-token doc is the descending [0,-1] and
    # element_at(t, 0) throws (r4 advice); the DuckDB oracle's range()
    # just emits no rows for such docs
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - F.lit(2)),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i + 1).alias("w1"),
                    F.element_at(F.col("t"), i + 2).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    ctx = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = d.select(F.explode(F.split("text", " ")).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(vocab)
        .withColumn(
            "logp", F.log((F.col("c2") + F.lit(1)) / (F.col("c1") + F.col("v")))
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("logp") / F.count(F.lit(1)), 4).alias("avg_logprob"),
    )


register(
    TEXT,
    "lm_score",
    _q_lm_score,
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bi0 AS (
        -- scalar range() yields a LIST (lateral table functions can't
        -- see t here), so bigrams come from list_transform + unnest
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                                     i -> struct_pack(w1 := t[i],
                                                      w2 := t[i + 1]))) AS b
        FROM toks
    ), bi AS (
        SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi0
    ), bc AS (
        SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, count(*) AS c1 FROM bi GROUP BY w1
    ), vocab AS (
        SELECT count(DISTINCT tok) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    )
    SELECT bi.doc_id,
           count(*) AS n_bigrams,
           round(sum(ln((bc.c2 + 1) / (ctx.c1 + vocab.v))) / count(*), 4)
             AS avg_logprob
    FROM bi JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
    JOIN ctx ON ctx.w1 = bi.w1
    CROSS JOIN vocab
    GROUP BY bi.doc_id
    """,
)


# --------------------------------------------------------------------------
# Grouped embedding pooling (class centroids — the "mean vector per
# label" aggregate an embedding pipeline runs constantly): posexplode
# -> per-(lang, component) QUANTIZED integer sums (order-free, the
# k-means trick) -> centroid norm. One shuffle on (lang, pos).

_CENT_Q = 1024.0


def _q_lang_centroids(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    e = _t(spark, sf_dir, "embeddings")
    j = e.join(d, e.vec_id == d.doc_id).select(
        "lang", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    pe = j.select("lang", F.posexplode("e").alias("pos", "val"))
    comp = pe.groupBy("lang", "pos").agg(
        F.sum(
            F.floor(F.col("val") * F.lit(_CENT_Q) + F.lit(0.5)).cast("long")
        ).alias("s"),
        F.count(F.lit(1)).alias("cnt"),
    )
    cm = comp.withColumn(
        "m", F.col("s").cast("double") / (F.lit(_CENT_Q) * F.col("cnt"))
    )
    return cm.groupBy("lang").agg(
        (F.max("cnt")).alias("n_vecs"),
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm"),
    )


register(
    TEXT,
    "lang_centroids",
    _q_lang_centroids,
    f"""
    WITH j AS (
        SELECT d.lang,
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ), pe AS (
        SELECT lang, u.pos AS pos, e[u.pos] AS val
        FROM j, (SELECT unnest(range(1, 65)) AS pos) u
    ), comp AS (
        SELECT lang, pos,
               sum(CAST(floor(val * {_CENT_Q!r} + 0.5) AS BIGINT)) AS s,
               count(*) AS cnt
        FROM pe GROUP BY lang, pos
    ), cm AS (
        SELECT lang, pos, CAST(s AS DOUBLE) / ({_CENT_Q!r} * cnt) AS m, cnt
        FROM comp
    )
    SELECT lang, max(cnt) AS n_vecs,
           round(sqrt(sum(m * m)), 6) AS centroid_norm
    FROM cm GROUP BY lang
    """,
)


# --------------------------------------------------------------------------
# Train/eval DECONTAMINATION — the modern LLM-data hygiene op the
# registry lacked. The synthetic eval set is every 50th doc; the
# "training" rest is scrubbed two ways:
#   exact: drop any training doc whose sha256(text) appears in eval;
#   n-gram: drop any training doc sharing ANY 8-token shingle with
#   eval (the published decontamination method) — shingle explode +
#   left-anti semi-join on the shingle string, no hashing needed for
#   the oracle and no cross join anywhere.


def _shingles(df, n=8):
    t = F.split("text", " ")
    return df.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - F.lit(n), F.lit(0))),
                lambda i: F.concat_ws(
                    " ", F.slice(t, i + 1, n)
                ),
            )
        ).alias("sh"),
    )


def _q_decontam_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    ev_sha = ev.select(F.sha2("text", 256).alias("sha")).distinct()
    kept = train.withColumn("sha", F.sha2("text", 256)).join(
        ev_sha, "sha", "left_anti"
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


register(
    TEXT,
    "decontam_exact",
    _q_decontam_exact,
    """
    SELECT lang, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents t
    WHERE t.doc_id % 50 != 0
      AND sha256(t.text) NOT IN (
        SELECT sha256(text) FROM documents WHERE doc_id % 50 = 0
      )
    GROUP BY lang
    """,
)


def _q_decontam_ngram(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    ev_sh = _shingles(ev).select("sh").distinct()
    dirty = (
        _shingles(train)
        .join(ev_sh, "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    kept = train.join(dirty, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


register(
    TEXT,
    "decontam_ngram",
    _q_decontam_ngram,
    """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 8 + 1, 1) + 1),
                   i -> array_to_string(string_split(text, ' ')[i : i + 7], ' ')
               )) AS sh
        FROM documents
    ), ev AS (
        SELECT DISTINCT s.sh FROM sh s WHERE s.doc_id % 50 = 0
    ), dirty AS (
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN ev ON ev.sh = s.sh
        WHERE s.doc_id % 50 != 0
    )
    SELECT t.lang, count(*) AS n_kept,
           CAST(sum(t.n_chars) AS BIGINT) AS sum_chars
    FROM documents t
    WHERE t.doc_id % 50 != 0
      AND t.doc_id NOT IN (SELECT doc_id FROM dirty)
    GROUP BY t.lang
    """,
)


# --------------------------------------------------------------------------
# DEM-style raster statistics through the REAL decode path (the
# reference's domain is HAND/REM elevation rasters; its index stores
# file paths — this computes actual per-tile terrain stats the way a
# 100 TB raster pipeline would): synthesize a PNG "elevation tile" per
# doc from a closed-form surface, decode it with the from-scratch
# codec, and compute max |∂x| / max |∂y| slope and ruggedness
# vectorized in the Arrow batch. The oracle recomputes the surface
# arithmetic directly — end-to-end proof that real decoded bytes feed
# the terrain math.

_DEM_RULE = "z(y, x) = (3*x + 5*y + (x*y) % 7 + doc_id) % 256, w = 8 + doc_id % 5, h = 8 + doc_id % 3"


def _q_dem_slope_stats(spark, sf_dir):
    import pandas as _pd

    from .functions import codecs as C

    d = _t(spark, sf_dir, "documents")

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + did % 5
                h = 8 + did % 3
                x = np.arange(w)[None, :]
                y = np.arange(h)[:, None]
                z = ((3 * x + 5 * y + (x * y) % 7 + did) % 256).astype(np.uint8)
                rows.append((did, C.png_encode(z)))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    payloads = d.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["payload"]):
                z = C.png_decode(bytes(blob))[:, :, 0].astype(np.int64)
                dx = np.abs(np.diff(z, axis=1))
                dy = np.abs(np.diff(z, axis=0))
                rows.append(
                    (
                        int(did),
                        int(z.shape[1]),
                        int(z.shape[0]),
                        int(dx.max()),
                        int(dy.max()),
                        int(dx.sum() + dy.sum()),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "w", "h", "max_dx", "max_dy", "ruggedness"],
            )

    return payloads.mapInPandas(
        stats,
        schema="doc_id long, w int, h int, max_dx long, max_dy long, ruggedness long",
    )


register(
    TEXT,
    "dem_slope_stats",
    _q_dem_slope_stats,
    """
    WITH dims AS (
        SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
        FROM documents
    ), px AS (
        SELECT d.doc_id, d.w, d.h, t1.x AS x, t2.y AS y,
               (3 * t1.x + 5 * t2.y + (t1.x * t2.y) % 7 + d.doc_id) % 256 AS z
        FROM dims d, range(0, 13) t1(x), range(0, 11) t2(y)
        WHERE t1.x < d.w AND t2.y < d.h
    ), dx AS (
        SELECT a.doc_id, abs(b.z - a.z) AS g
        FROM px a JOIN px b
          ON b.doc_id = a.doc_id AND b.y = a.y AND b.x = a.x + 1
        WHERE b.x < (SELECT w FROM dims WHERE dims.doc_id = a.doc_id)
    ), dy AS (
        SELECT a.doc_id, abs(b.z - a.z) AS g
        FROM px a JOIN px b
          ON b.doc_id = a.doc_id AND b.x = a.x AND b.y = a.y + 1
    )
    SELECT d.doc_id,
           CAST(max(d.w) AS INTEGER) AS w,
           CAST(max(d.h) AS INTEGER) AS h,
           CAST((SELECT max(g) FROM dx WHERE dx.doc_id = d.doc_id) AS BIGINT)
             AS max_dx,
           CAST((SELECT max(g) FROM dy WHERE dy.doc_id = d.doc_id) AS BIGINT)
             AS max_dy,
           CAST((SELECT sum(g) FROM dx WHERE dx.doc_id = d.doc_id)
                + (SELECT sum(g) FROM dy WHERE dy.doc_id = d.doc_id) AS BIGINT)
             AS ruggedness
    FROM dims d GROUP BY d.doc_id
    """,
)


# --------------------------------------------------------------------------
# Behavioral funnel (web-analytics table stakes over the events table):
# ordered stage conversion view -> click -> purchase, each stage's
# timestamp strictly after the previous user's stage time. Three keyed
# aggregates — no self-joins beyond the stage chain, each a broadcast-
# able tiny frame at the user grain.


def _q_funnel_conversion(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    v = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


register(
    TEXT,
    "funnel_conversion",
    _q_funnel_conversion,
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_buy
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click_after_view,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)


# --------------------------------------------------------------------------
# BM25 ranked retrieval over the documents corpus (text-pipeline table
# stakes the registry lacked): explode tokens -> per-doc term freq ->
# document freq -> idf join -> score sum. All Catalyst; the one libm
# call (ln in idf) is 1-ulp-safe under the in-query round(6) on scores
# of magnitude O(1-10).

_BM25_TERMS = ("table", "scan", "merge")
_BM25_K1, _BM25_B = 1.2, 0.75


def _q_bm25_search(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny scalar, deterministic
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    avgdl_row = (
        d.select(F.size(F.split("text", " ")).alias("dl"))
        .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    # exact: integer sum / integer count, one IEEE division
    avgdl = float(avgdl_row.s) / avgdl_row.n
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    scored = (
        tf.join(df_, "tok")
        .join(dl, "doc_id")
        .withColumn(
            "idf",
            F.log(
                (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * F.lit(_BM25_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(_BM25_K1)
                * (
                    F.lit(1.0 - _BM25_B)
                    + F.lit(_BM25_B) * F.col("dl") / F.lit(avgdl)
                )
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc_id", "score", "n_terms_hit")
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), dl AS (
        SELECT doc_id, len(toks) AS dl FROM d
    ), stats AS (
        SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               CAST(count(*) AS DOUBLE) AS n_docs
        FROM dl
    ), tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
        WHERE tok IN ({terms})
        GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
    ), scored AS (
        SELECT tf.doc_id,
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (tf.tf * {_BM25_K1 + 1.0!r})
                 / (tf.tf + {_BM25_K1!r}
                    * ({1.0 - _BM25_B!r} + {_BM25_B!r} * dl.dl / s.avgdl))
                 AS term_score
        FROM tf JOIN df ON df.tok = tf.tok
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ), agg AS (
        SELECT doc_id, round(sum(term_score), 6) AS score,
               count(*) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
             AS rank,
           doc_id, score, n_terms_hit
    FROM agg
    QUALIFY rank <= 20
    """


register(TEXT, "bm25_search", _q_bm25_search, _bm25_sql())


# --------------------------------------------------------------------------
# Deterministic stratified sampling: keep ~20% of docs per lang via a
# closed-form hash filter — the reproducible sampling a training
# pipeline needs (TABLESAMPLE is seed/partition-dependent; a hash of
# the row key is stable across engines, retries and cluster sizes).


def _q_stratified_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    keep = ((F.col("doc_id") * 2654435761 + 12289) % F.lit(1000003)) % 5 == 0
    s = d.filter(keep)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


register(
    TEXT,
    "stratified_sample",
    _q_stratified_sample,
    """
    SELECT lang, count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE ((doc_id * 2654435761 + 12289) % 1000003) % 5 = 0
    GROUP BY lang
    """,
)


# --------------------------------------------------------------------------
# Explicit spark.sql TEXT surface (the brief's "DataFrame / SQL" API —
# every other query uses the DataFrame builder; this one registers temp
# views and runs ANSI SQL text through Catalyst, TPC-H Q3 shape):
# per-order revenue for one market segment before a cutoff date.


def _q_sql_text_surface(spark, sf_dir):
    for name in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, name).createOrReplaceTempView(f"v_{name}")
    # revenue in exact integer cents (floor(x*100 + 0.5) per line, then
    # an order-free BIGINT sum) — a raw double sum differs at the cent
    # between engines on ~0.4% of groups purely from partition order
    return spark.sql(
        """
        SELECT l.l_orderkey AS orderkey,
               CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                                   * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
                 AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o.o_orderpriority AS priority
        FROM v_customer c
        JOIN v_orders o ON c.c_custkey = o.o_custkey
        JOIN v_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        """
    )


register(
    TEXT,
    "sql_text_surface",
    _q_sql_text_surface,
    """
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                               * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority AS priority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    """,
)


# --------------------------------------------------------------------------
# GENERIC covering-cell spatial join (operators/spatial_join.py): points
# x arbitrary polygons, zero broadcast, zero Python (Catalyst polyfill
# + higher-order-function PIP). Run against the tile quads it must
# reproduce exactly the broadcast kernel's PIP hits — the oracle is the
# shared assign CTE restricted to method='pip'.


def _q_spatial_join_generic(spark, sf_dir):
    from .operators.assign import build_tile_index
    from .operators.spatial_join import spatial_join_points_polys
    from .pipelines.assign_tiles import web_pages_from_documents

    pages = E.with_geotag(web_pages_from_documents(spark, sf_dir)).select(
        "url", "lat", "lon"
    )
    ix = build_tile_index()
    q = ix.quad_corners  # (T, 4, 2) open quads -> closed rings
    rows = []
    for k, tid in enumerate(ix.ids):
        # Python floats + an explicit DDL schema: the driver's vanilla
        # session has Arrow coercion off, and schema inference cannot
        # handle numpy.float64 inside a list (r4 driver crash:
        # CANNOT_INFER_TYPE_FOR_FIELD coords_flat).
        ring = [float(v) for v in q[k].ravel()] + [
            float(q[k, 0, 0]),
            float(q[k, 0, 1]),
        ]
        rows.append(
            (
                int(tid),
                ring,
                float(q[k, :, 0].min()),
                float(q[k, :, 1].min()),
                float(q[k, :, 0].max()),
                float(q[k, :, 1].max()),
            )
        )
    polys = spark.createDataFrame(
        rows,
        schema=(
            "tile_id long, coords_flat array<double>, "
            "xmin double, ymin double, xmax double, ymax double"
        ),
    )
    out = spatial_join_points_polys(
        pages, polys, res=0, pip="convex",
        xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax",
    )
    return out.select("url", "tile_id")


register(
    GEO,
    "spatial_join_generic",
    _q_spatial_join_generic,
    f"""
    {oracles.assign_cte()}
    SELECT url, tile_id FROM asg WHERE method = 'pip'
    """,
)


# --------------------------------------------------------------------------
# HyperLogLog distinct sketch (operators/sketch.py) — the brief's
# "novel sketch" slot. One pass + one 256-row shuffle; the oracle
# evaluates the identical modular hash / CASE ranks / exact harmonic
# sum, so even the ESTIMATE compares bit-for-bit (round 4 absorbs the
# single libm ln in the small-range correction).


def _q_hll_distinct(spark, sf_dir):
    from .operators.sketch import hll_estimate

    d = _t(spark, sf_dir, "documents")
    return hll_estimate(d, "doc_id")


from .operators.sketch import hll_estimate_sql as _hll_sql  # noqa: E402

register(TEXT, "hll_distinct", _q_hll_distinct, _hll_sql("documents", "doc_id"))


# --------------------------------------------------------------------------
# Row-level MERGE (icelite.merge — Iceberg MERGE INTO, copy-on-write):
# base table + an update set that bumps every third doc's n_chars; the
# read-back aggregate must equal the oracle's CASE arithmetic, and the
# pre-merge snapshot stays time-travelable (pytest).


def _q_icelite_merge(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("merge_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t = IceliteTable(root, "docs_m")
    t.write(d, stage="base", fingerprint="b", lineage_key="doc_id")
    updates = d.filter(F.col("doc_id") % 3 == 0).withColumn(
        "n_chars", F.col("n_chars") + F.lit(1000)
    )
    t.merge(spark, updates, "doc_id", fingerprint="m1")
    back = t.read(spark)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


register(
    TEXT,
    "icelite_merge",
    _q_icelite_merge,
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 3 = 0 THEN n_chars + 1000
                         ELSE n_chars END) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    """,
)


# --------------------------------------------------------------------------
# Compaction (icelite.compact — Iceberg rewrite_data_files): three
# append snapshots accumulate three data dirs; compact rewrites them
# into one. The aggregate over the compacted table must equal the
# oracle; dir/snapshot counts ride as literals.


def _q_icelite_compact(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("compact_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = IceliteTable(root, "docs_c")
    for i in range(3):
        t.write(
            d.filter(F.col("doc_id") % 3 == i),
            stage="load", fingerprint=f"part{i}",
            mode="append" if i else "overwrite", lineage_key="doc_id",
        )
    dirs_before = len(t.current_snapshot()["data_paths"])
    t.compact(spark)
    dirs_after = len(t.current_snapshot()["data_paths"])
    back = t.read(spark)
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).select(
        "*",
        F.lit(dirs_before).cast("long").alias("dirs_before"),
        F.lit(dirs_after).cast("long").alias("dirs_after"),
    )


register(
    TEXT,
    "icelite_compact",
    _q_icelite_compact,
    """
    SELECT count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(3 AS BIGINT) AS dirs_before,
           CAST(1 AS BIGINT) AS dirs_after
    FROM documents
    """,
)


# --------------------------------------------------------------------------
# Stream-STREAM interval join (§2.10 depth): click events joined to the
# same user's view events within the preceding hour, both sides
# watermarked (the condition references the event-time columns
# directly, which is what lets Spark bound and clean the join state —
# the production shape for correlating two live feeds). Oracle = the
# batch inequality join.


def _q_stream_stream_join(spark, sf_dir):
    import os
    import uuid

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src = _fresh_dir("ssj_src_")
    os.symlink(path, os.path.join(src, "events.parquet"))

    def feed():
        return spark.readStream.schema(schema).parquet(src)

    views = (
        feed()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").cast("timestamp").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    clicks = (
        feed()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").cast("timestamp").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("v_ts") <= F.col("c_ts"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("click_id", "view_id")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


register(
    TEXT,
    "stream_stream_join",
    _q_stream_stream_join,
    """
    SELECT c.event_id AS click_id, v.event_id AS view_id
    FROM events c JOIN events v
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
    """,
)


# --------------------------------------------------------------------------
# The input-hint invariant as a FULL-CYCLE query (BASELINE.json:15
# "byte-identical extracted text per url"): build the html binary the
# hint describes, extract text back out of the markup JVM-side
# (regexp, no Python), and prove byte identity via sha256 — the
# extraction stage a Common-Crawl pipeline runs, verified end-to-end.


def _q_html_extract_text(spark, sf_dir):
    from .operators.multimodal import attach_html_binary
    from .pipelines.assign_tiles import web_pages_from_documents

    pages = attach_html_binary(web_pages_from_documents(spark, sf_dir))
    extracted = F.regexp_replace(F.decode(F.col("html"), "utf-8"), "<[^>]*>", "")
    return pages.select(
        "url",
        F.sha2(F.col("text"), 256).alias("sha_text"),
        F.sha2(extracted, 256).alias("sha_extracted"),
        (F.sha2(extracted, 256) == F.sha2(F.col("text"), 256)).alias("byte_identical"),
    )


register(
    TEXT,
    "html_extract_text",
    _q_html_extract_text,
    """
    WITH pages AS (
        SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR)
                 || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
               text,
               '<html><body>' || text || '</body></html>' AS html
        FROM documents
    )
    SELECT url,
           sha256(text) AS sha_text,
           sha256(regexp_replace(html, '<[^>]*>', '', 'g')) AS sha_extracted,
           sha256(regexp_replace(html, '<[^>]*>', '', 'g')) = sha256(text)
             AS byte_identical
    FROM pages
    """,
)


_BAND_S = 21600.0  # 6 h follower band


def _q_range_join(spark, sf_dir):
    """Banded range join (self): per anchor event, the count/value-sum
    of same-user events in the following 6 h — inequality band turned
    into a (user, time-bucket) equi-join + exact refine."""
    from .operators.temporal import range_join_bucketed

    ev = _t(spark, sf_dir, "events")
    a = ev.select(
        F.col("event_id").alias("anchor_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    b = ev.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"),
    )
    pairs = range_join_bucketed(a, b, "a_user", "b_user", "a_ts", "b_ts", _BAND_S)
    return pairs.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.round(F.sum("b_value"), 2).alias("sum_follow"),
    )


register(
    TEXT,
    "range_join_followers",
    _q_range_join,
    f"""
    SELECT a.event_id AS anchor_id,
           count(*) AS n_follow,
           round(sum(b.value), 2) AS sum_follow
    FROM events a JOIN events b
      ON b.user_id = a.user_id
     AND epoch(b.ts) > epoch(a.ts)
     AND epoch(b.ts) <= epoch(a.ts) + {_BAND_S!r}
    GROUP BY a.event_id
    """,
)
