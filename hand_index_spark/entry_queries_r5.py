"""Round-5 registry batch.

Same contract as every other batch: each query is (a) an idiomatic
Spark program and (b) a DuckDB oracle with identical column names and
arithmetic, registered through registry.register.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# F9: Douglas-Peucker simplification (reference load.py:155-156,
# ST_Simplify at 100 m) — the mapInPandas NumPy kernel in
# operators/simplify.py, with all derived stats (counts, shoelace area,
# vertex sums) computed JVM-side from the simplified ring.
#
# Oracle design (closed-form, exact): 64 deterministic octagons built
# from the integer template (2,0),(4,0),(6,2),(6,4),(4,6),(2,6),(0,4),
# (0,2), scaled by s=1+k%4, translated by (11k,7k), with the first 7
# edges subdivided into S=2 (even k) or 4 (odd k) dyadic parts — every
# inserted vertex is EXACTLY collinear (dyadic rationals: coordinates,
# cross products and deviations are all exact in float64), so DP at
# tol=0.5 provably keeps exactly the 8 corners (+closure): corner
# sagitta >= 0.894*s > 0.5 >> the ~0 subdivision deviation. Counts,
# shoelace area (28*s*s) and corner-coordinate sums (24s+88k, 24s+56k)
# are integer-valued doubles -> bit-exact vs DuckDB arithmetic.

_SIMPLIFY_TEMPLATE = [(2, 0), (4, 0), (6, 2), (6, 4), (4, 6), (2, 6), (0, 4), (0, 2)]
_SIMPLIFY_N = 64
_SIMPLIFY_TOL = 0.5


def _simplify_fixture_rows():
    rows = []
    for k in range(_SIMPLIFY_N):
        s = 1 + k % 4
        sub = 2 if k % 2 == 0 else 4
        dx, dy = 11.0 * k, 7.0 * k
        cs = [(s * x + dx, s * y + dy) for x, y in _SIMPLIFY_TEMPLATE]
        flat: list[float] = []
        for i in range(7):  # last edge left unsubdivided (keeps pts[-1] a corner)
            x0, y0 = cs[i]
            x1, y1 = cs[i + 1]
            for j in range(sub):
                t = j / sub  # dyadic: exact in float64
                flat += [x0 + t * (x1 - x0), y0 + t * (y1 - y0)]
        flat += [cs[7][0], cs[7][1], cs[0][0], cs[0][1]]  # corner 7 + closure
        rows.append((k, flat))
    return rows


def _q_simplify_ring(spark, sf_dir):
    from .operators.simplify import simplify_rings

    rings = spark.createDataFrame(
        _simplify_fixture_rows(), schema="ring_id long, coords_flat array<double>"
    )
    out = simplify_rings(rings, tol=_SIMPLIFY_TOL)
    n = (F.size("simplified") / 2).cast("long")  # closed-ring point count
    xs = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.element_at("simplified", (i * 2 + 1).cast("int")),
    )
    ys = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.element_at("simplified", (i * 2 + 2).cast("int")),
    )
    # shoelace over the closed ring: left-assoc fold, exact integer terms
    shoelace = F.aggregate(
        F.sequence(F.lit(0), n - 2),  # one term per edge of the closed ring
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at("simplified", (i * 2 + 1).cast("int"))
            * F.element_at("simplified", (i * 2 + 4).cast("int"))
            - F.element_at("simplified", (i * 2 + 3).cast("int"))
            * F.element_at("simplified", (i * 2 + 2).cast("int"))
        ),
    )
    return out.select(
        "ring_id",
        (F.size("coords_flat") / 2).cast("long").alias("n_in"),
        n.alias("n_out"),
        (F.abs(shoelace) / F.lit(2.0)).alias("area"),
        F.aggregate(xs, F.lit(0.0), lambda a, x: a + x).alias("sx"),
        F.aggregate(ys, F.lit(0.0), lambda a, y: a + y).alias("sy"),
    )


register(
    GEO,
    "simplify_ring",
    _q_simplify_ring,
    f"""
    SELECT CAST(k AS BIGINT) AS ring_id,
           CAST(7 * (CASE WHEN k % 2 = 0 THEN 2 ELSE 4 END) + 2 AS BIGINT) AS n_in,
           CAST(9 AS BIGINT) AS n_out,
           CAST(28 * (1 + k % 4) * (1 + k % 4) AS DOUBLE) AS area,
           CAST(24 * (1 + k % 4) + 88 * k AS DOUBLE) AS sx,
           CAST(24 * (1 + k % 4) + 56 * k AS DOUBLE) AS sy
    FROM range({_SIMPLIFY_N}) t(k)
    """,
)


# --------------------------------------------------------------------------
# A1 (overlap regime): the round-5 planar-overlay union kernel
# (geo/polygon.overlay_union via operators/union_agg.union_branches)
# driven through the oracle contract. Fixture: per branch, two integer
# axis-aligned squares offset diagonally so they GENUINELY overlap
# (edge cancellation rejects them); the union is the L-shaped octagon
# whose area/bbox/vertex count are closed-form: side s=4+k%3, offset
# d=1+k%2, translation (17k, 9k) -> area 2*s^2-(s-d)^2, bbox
# [0,s+d]^2 + t. Every coordinate is an exact small integer, so the
# shoelace over the overlay output is bit-exact vs DuckDB arithmetic.

_OVL_N = 40


def _q_union_overlap(spark, sf_dir):
    import numpy as np

    from .geo import wkb as W
    from .operators.union_agg import union_branches

    rows = []
    for k in range(_OVL_N):
        s = 4 + k % 3
        d = 1 + k % 2
        tx, ty = 17.0 * k, 9.0 * k
        sq = lambda x0, y0: np.array(
            [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]], float
        )
        for ring in (sq(tx, ty), sq(tx + d, ty + d)):
            rows.append((f"ovl/{k:03d}/", bytearray(W.polygon_to_wkb([ring]))))
    df = spark.createDataFrame(rows, schema="branch_path string, geom binary")
    out = union_branches(df, simplify_tol=0.0)
    n = (F.size("coords_flat") / 2).cast("long")  # OPEN outer ring
    # shoelace over the open ring (wrap via modular successor), exact ints
    shoelace = F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at("coords_flat", (i * 2 + 1).cast("int"))
            * F.element_at("coords_flat", (((i + 1) % n) * 2 + 2).cast("int"))
            - F.element_at("coords_flat", (((i + 1) % n) * 2 + 1).cast("int"))
            * F.element_at("coords_flat", (i * 2 + 2).cast("int"))
        ),
    )
    return out.select(
        "branch_path",
        "geom_count",
        "union_method",
        n.alias("n_vertices"),
        (F.abs(shoelace) / F.lit(2.0)).alias("area"),
        F.col("xmin"),
        F.col("ymin"),
        F.col("xmax"),
        F.col("ymax"),
    )


register(
    GEO,
    "union_overlap",
    _q_union_overlap,
    f"""
    SELECT concat('ovl/', lpad(CAST(k AS VARCHAR), 3, '0'), '/') AS branch_path,
           CAST(2 AS BIGINT) AS geom_count,
           'overlay' AS union_method,
           CAST(8 AS BIGINT) AS n_vertices,
           CAST(2 * (4 + k % 3) * (4 + k % 3)
                - ((4 + k % 3) - (1 + k % 2)) * ((4 + k % 3) - (1 + k % 2))
                AS DOUBLE) AS area,
           CAST(17 * k AS DOUBLE) AS xmin,
           CAST(9 * k AS DOUBLE) AS ymin,
           CAST(17 * k + (4 + k % 3) + (1 + k % 2) AS DOUBLE) AS xmax,
           CAST(9 * k + (4 + k % 3) + (1 + k % 2) AS DOUBLE) AS ymax
    FROM range({_OVL_N}) t(k)
    """,
)


# --------------------------------------------------------------------------
# CCNet-style LINE-LEVEL deduplication (the published web-corpus
# cleaning step: drop lines/chunks that repeat across documents —
# boilerplate, navigation, headers). The corpus has no newlines, so the
# "line" unit is a fixed 2-token chunk: chunk the text, count DISTINCT
# docs per chunk globally, remove chunks seen in >= 3 docs, reassemble
# the cleaned text preserving chunk order. Pure Catalyst: slice/explode
# -> groupBy count -> join -> ordered conditional re-aggregation. At
# 100 TB this is two keyed shuffles (chunk counts, doc reassembly) —
# the same shape as exact dedup.

_LINE_CHUNK = 3
_LINE_MAXDOCS = 2  # kept iff distinct-doc count <= this


def _q_line_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nchunks = F.ceil(F.size(toks) / F.lit(_LINE_CHUNK)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.array_join(
            F.slice(toks, (i * _LINE_CHUNK + 1).cast("int"), _LINE_CHUNK), " "
        ),
    )
    ex = d.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    counts = ex.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    tagged = ex.join(counts, "chunk").withColumn(
        "kept", F.col("ndocs") <= F.lit(_LINE_MAXDOCS)
    )
    rows = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "chunk", "kept"))
                    ),
                    lambda s: s["kept"],
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("cleaned"),
    )
    return rows


register(
    TEXT,
    "line_dedup",
    _q_line_dedup,
    f"""
    WITH base AS (
        SELECT doc_id,
               list_transform(
                   range(0, CAST(ceil(len(string_split(text, ' '))
                                      / {_LINE_CHUNK}.0) AS BIGINT)),
                   i -> array_to_string(
                       string_split(text, ' ')[i * {_LINE_CHUNK} + 1
                                               : i * {_LINE_CHUNK} + {_LINE_CHUNK}],
                       ' ')
               ) AS cl
        FROM documents
    ), ex AS (
        SELECT doc_id, CAST(u.i AS INTEGER) AS pos, cl[u.i + 1] AS chunk
        FROM base, unnest(range(0, len(cl))) AS u(i)
    ), counts AS (
        SELECT chunk, count(DISTINCT doc_id) AS ndocs FROM ex GROUP BY chunk
    ), tagged AS (
        SELECT ex.doc_id, ex.pos, ex.chunk,
               (c.ndocs <= {_LINE_MAXDOCS}) AS kept
        FROM ex JOIN counts c USING (chunk)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(chunk, ' ' ORDER BY pos)
                        FILTER (WHERE kept), '') AS cleaned
    FROM tagged
    GROUP BY doc_id
    """,
)


# --------------------------------------------------------------------------
# As-of join with a staleness TOLERANCE (pandas merge_asof's
# `tolerance`): the point-in-time lookup only accepts a match within 30
# days of the event; older state is treated as missing. Same one-
# keyed-shuffle union-timeline plan; the tolerance is a post-window
# predicate on the carried match timestamp.

_ASOF_TOL_S = 30 * 86400.0


def _q_asof_tolerance(spark, sf_dir):
    from .operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    out = asof_join(
        ev, orders, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_orderkey", "o_totalprice"],
        tolerance_seconds=_ASOF_TOL_S,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_o_orderkey").alias("asof_orderkey"),
        F.round("asof_o_totalprice", 2).alias("asof_totalprice"),
    )


register(
    TEXT,
    "asof_join_tolerance",
    _q_asof_tolerance,
    f"""
    WITH m AS (
        SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
         AND CAST(epoch(e.ts) AS DOUBLE) - CAST(epoch(o.o_orderdate) AS DOUBLE)
             <= {_ASOF_TOL_S}
    )
    SELECT event_id, user_id,
           o_orderkey AS asof_orderkey,
           round(o_totalprice, 2) AS asof_totalprice
    FROM m WHERE rn = 1
    """,
)


# --------------------------------------------------------------------------
# Gopher/MassiveText repetition quality signals (the published filter:
# drop docs whose duplicate-n-gram fraction is high). Per doc over
# 2-grams: total, distinct, duplicate fraction, top-gram fraction.
# Fractions are one IEEE division of exact ints -> bit-identical.


def _q_repetition_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - F.lit(2)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("t"), (i + 1).cast("int")),
                    F.element_at(F.col("t"), (i + 2).cast("int")),
                ),
            )
        ).alias("bg"),
    )
    per_gram = bi.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        (
            (F.sum("c") - F.count(F.lit(1))).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_frac"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias("top_frac"),
    )


register(
    TEXT,
    "repetition_stats",
    _q_repetition_stats,
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), bi AS (
        SELECT doc_id, u.bg
        FROM toks, unnest(list_transform(
            range(0, len(t) - 1),
            i -> concat(t[i + 1], ' ', t[i + 2])
        )) AS u(bg)
    ), pg AS (
        SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
               AS dup_frac,
           CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
    FROM pg GROUP BY doc_id
    """,
)


# --------------------------------------------------------------------------
# PII scrubbing (the redaction pass every published web-corpus pipeline
# runs before training). The corpus has no PII, so the fixture plants a
# deterministic email + phone per doc in-query, then the scrubber
# replaces both patterns and counts hits — byte-exact output parity
# (simple character-class regexes, identical in Java and RE2).

_PII_EMAIL = "[a-z0-9]+@[a-z]+\\.com"
_PII_PHONE = "\\+1-555-[0-9]{4}"


def _q_pii_scrub(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("raw"),
    )
    return planted.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(_PII_PHONE), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


register(
    TEXT,
    "pii_scrub",
    _q_pii_scrub,
    f"""
    WITH planted AS (
        SELECT doc_id,
               concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                      '@example.com or +1-555-',
                      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(
               regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM planted
    """,
)


# --------------------------------------------------------------------------
# Product-quantization ANN (operators/ann.py pq_adc_topk): the memory
# path for 10^12 vectors — 64-dim floats compress to 8 one-byte codes
# and queries rank by the ADC lookup-table sum without touching raw
# vectors. Codebooks train as ONE joint quantized-Lloyd pipeline over
# (sub, cid) keys (2 passes for all 8 codebooks); the oracle replays
# the identical arithmetic CTE-per-round (ann.pq_oracle_sql).


def _q_ann_pq_adc(spark, sf_dir):
    from .operators.ann import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, F.col("vec_id") < 5, k=3)


from .operators.ann import pq_oracle_sql as _pq_oracle_sql  # noqa: E402

register(
    TEXT,
    "ann_pq_adc",
    _q_ann_pq_adc,
    _pq_oracle_sql("vec_id < 5", k=3, dim=64),
)


# --------------------------------------------------------------------------
# PQ served from the PERSISTED index (pipelines/ann_index.build_pq_index):
# codebooks + one-byte codes live in icelite; queries touch only the
# 32x-smaller code table plus their own raw rows. Bit-compatible with
# ann_pq_adc, so the oracle is shared verbatim.


def _q_ann_pq_indexed(spark, sf_dir):
    from .pipelines.ann_index import build_pq_index, pq_adc_indexed

    root = _fresh_dir("pqidx_")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    build_pq_index(spark, emb, root, fingerprint="q1")
    return pq_adc_indexed(spark, root, F.col("vec_id") < 5, k=3)


register(
    TEXT,
    "ann_pq_indexed",
    _q_ann_pq_indexed,
    _pq_oracle_sql("vec_id < 5", k=3, dim=64),
)


# --------------------------------------------------------------------------
# Composed IVF+PQ (operators/ann.ivfpq_topk) — the FAISS-style
# production shape: the IVF coarse quantizer bounds candidates to the
# query's probed cells, PQ/ADC ranks those candidates from one-byte
# codes. At 10^12 rows a query touches n_probe inverted lists of codes,
# never the raw vector table. Oracle: the IVF CTE chain + a p-prefixed
# PQ CTE chain + candidate-restricted ADC (ann.ivfpq_oracle_sql).


def _q_ann_ivfpq(spark, sf_dir):
    from .operators.ann import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, F.col("vec_id") < 5, k=3)


from .operators.ann import ivfpq_oracle_sql as _ivfpq_oracle_sql  # noqa: E402

register(
    TEXT,
    "ann_ivfpq",
    _q_ann_ivfpq,
    _ivfpq_oracle_sql("vec_id < 5", k=3, dim=64),
)


# --------------------------------------------------------------------------
# FILTERED vector search (metadata-constrained ANN): IVF probe + exact
# re-rank restricted to English documents — the filter is a left-semi
# join on the inverted lists BEFORE re-rank, so disallowed vectors are
# never fetched. Oracle: the shared IVF CTE chain with the lang join
# appended to the candidate CTE.


def _q_ann_ivf_filtered(spark, sf_dir):
    from .operators.ann import ivf_topk_filtered

    emb = _t(spark, sf_dir, "embeddings")
    allowed = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    return ivf_topk_filtered(
        emb, allowed, F.col("vec_id") < 5, k=3, n_centroids=16, n_probe=2, rounds=2
    )


from .operators.ann import ivf_oracle_sql as _ivf_oracle_sql  # noqa: E402

register(
    TEXT,
    "ann_ivf_filtered",
    _q_ann_ivf_filtered,
    _ivf_oracle_sql(
        "vec_id < 5",
        k=3,
        n_centroids=16,
        n_probe=2,
        rounds=2,
        dim=64,
        cand_filter_sql=(
            "JOIN documents d ON d.doc_id = l.vec_id AND d.lang = 'en'"
        ),
    ),
)


# --------------------------------------------------------------------------
# SimHash near-dup PAIRS (Google's web-dedup construction): 16-bit
# simhash per doc (shared arithmetic with `simhash16`), banded into 4x
# 4-bit keys — by pigeonhole any pair within Hamming distance 3 shares
# at least one band — then the exact Hamming verify on band-collision
# candidates only. Same coarse-equi-join + exact-refine shape as the
# MinHash path; never an all-pairs join.
#
# Corpus caveat (measured): these synthetic docs draw from ~40 shared
# words with similar frequencies, and simhash fingerprints the token
# DISTRIBUTION — so collisions are inherently dense here (the banding
# still prunes 78% of pairs; a 32-bit variant measured NO extra
# discrimination, every pair colliding on some band). Real web corpora
# have heavy-tailed vocabularies where 64-bit simhash separates well;
# the operator shape (banded candidates + exact Hamming verify) is the
# production one regardless.

from .operators.dedup import (  # noqa: E402
    TOKEN_HASH_SQL as _SH_HASH_SQL,
    token_hash_col as _sh_hash_col,
)

_SH_MAXHAM = 3


def _q_simhash_dup_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = _sh_hash_col(F.col("tok"))
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
    sigs = agg.select("doc_id", sim.cast("long").alias("sh"))
    bands = sigs.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bb).alias("band"),
                        F.shiftright("sh", 4 * bb)
                        .bitwiseAND(F.lit(15))
                        .alias("bv"),
                    )
                    for bb in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    a = bands.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"), "band", "bv"
    )
    b2 = bands.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"), "band", "bv"
    )
    pairs = (
        a.join(b2, ["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(
            F.col("sh_a").bitwiseXOR(F.col("sh_b"))
        ).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= _SH_MAXHAM)


_sh_sql_sums = ",\n           ".join(
    f"sum(CASE WHEN (({_SH_HASH_SQL.format(t='tok')} >> {b}) & 1) = 1"
    f" THEN 1 ELSE -1 END) AS s{b}"
    for b in range(16)
)
_sh_sql_combine = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
)
register(
    TEXT,
    "simhash_dup_pairs",
    _q_simhash_dup_pairs,
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), agg AS (
        SELECT doc_id, {_sh_sql_sums}
        FROM toks GROUP BY doc_id
    ), sigs AS (
        SELECT doc_id, CAST({_sh_sql_combine} AS BIGINT) AS sh FROM agg
    ), bands AS (
        SELECT doc_id, sh, t.b AS band,
               (sh >> (4 * t.b)) & 15 AS bv
        FROM sigs CROSS JOIN range(0, 4) t(b)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.sh AS sh_a, b.sh AS sh_b
        FROM bands a JOIN bands b
          ON b.band = a.band AND b.bv = a.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {_SH_MAXHAM}
    """,
)


# --------------------------------------------------------------------------
# Composed Gopher-style QUALITY FILTER — the published keep/drop stage
# (Rae et al. rules adapted to this corpus's scale): token count in
# range, mean token length in range, duplicate-2-gram fraction below
# threshold, top-2-gram fraction below threshold. Emits every signal
# plus the verdict so downstream stages filter on `keep` and audits
# read the reasons. One explode + two keyed aggs; fractions are exact
# single divisions (bit parity).

# thresholds sit INSIDE this corpus's signal distributions (n_tokens
# p10=21, dup_frac p90=0.065, top_frac p90=0.069) so the verdict
# actually discriminates — a filter that keeps 100% tests nothing
_QF_MIN_TOK, _QF_MAX_TOK = 25, 100000
_QF_MIN_MWL, _QF_MAX_MWL = 4.0, 12.0
_QF_MAX_DUP, _QF_MAX_TOP = 0.06, 0.07


def _q_quality_filter(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    n_tok = F.size("t").cast("long")
    # mean word length: exact ints divided once (sum of lengths / count)
    len_sum = F.aggregate(
        F.transform("t", lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    base = toks.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (len_sum.cast("double") / n_tok.cast("double")).alias("mean_word_len"),
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - F.lit(2)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("t"), (i + 1).cast("int")),
                        F.element_at(F.col("t"), (i + 2).cast("int")),
                    ),
                )
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (
                (F.sum("c") - F.count(F.lit(1))).cast("double")
                / F.sum("c").cast("double")
            ).alias("dup_frac"),
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_frac"
            ),
        )
    )
    out = base.join(bi, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round(F.coalesce("dup_frac", F.lit(0.0)), 6).alias("dup_frac"),
        F.round(F.coalesce("top_frac", F.lit(0.0)), 6).alias("top_frac"),
    )
    keep = (
        (F.col("n_tokens") >= _QF_MIN_TOK)
        & (F.col("n_tokens") <= _QF_MAX_TOK)
        & (F.col("mean_word_len") >= _QF_MIN_MWL)
        & (F.col("mean_word_len") <= _QF_MAX_MWL)
        & (F.col("dup_frac") <= _QF_MAX_DUP)
        & (F.col("top_frac") <= _QF_MAX_TOP)
    )
    return out.withColumn("keep", keep)


register(
    TEXT,
    "quality_filter",
    _q_quality_filter,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), base AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                    AS DOUBLE) / CAST(len(t) AS DOUBLE) AS mean_word_len
        FROM toks
    ), bi AS (
        SELECT doc_id, u.bg
        FROM (SELECT doc_id, t FROM toks WHERE len(t) >= 2),
             unnest(list_transform(range(0, len(t) - 1),
                    i -> concat(t[i + 1], ' ', t[i + 2]))) AS u(bg)
    ), pg AS (
        SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
    ), rep AS (
        SELECT doc_id,
               CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                   AS dup_frac,
               CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
        FROM pg GROUP BY doc_id
    ), joined AS (
        SELECT b.doc_id, b.n_tokens,
               round(b.mean_word_len, 6) AS mean_word_len,
               round(coalesce(r.dup_frac, 0.0), 6) AS dup_frac,
               round(coalesce(r.top_frac, 0.0), 6) AS top_frac
        FROM base b LEFT JOIN rep r ON r.doc_id = b.doc_id
    )
    SELECT doc_id, n_tokens, mean_word_len, dup_frac, top_frac,
           (n_tokens >= {_QF_MIN_TOK} AND n_tokens <= {_QF_MAX_TOK}
            AND mean_word_len >= {_QF_MIN_MWL!r}
            AND mean_word_len <= {_QF_MAX_MWL!r}
            AND dup_frac <= {_QF_MAX_DUP!r}
            AND top_frac <= {_QF_MAX_TOP!r}) AS keep
    FROM joined
    """,
)


# --------------------------------------------------------------------------
# TF-IDF top terms per document (classic keyword extraction over the
# web corpus; reference has no text stack — this is the LLM-pipeline
# keyword/feature op). Score = tf * ln(N/df): tf and df are exact
# integer counts on both sides, the ln argument is ONE division of
# exact ints-as-doubles, and ranking runs on the ROUNDED score with a
# (score DESC, term) total order so an ulp of libm-ln disagreement can
# never reorder rows.

_TFIDF_TOPK = 3


def _q_tfidf_topterms(spark, sf_dir):
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # tiny exact scalar (bm25 precedent)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").withColumn(
        "score",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df")),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _TFIDF_TOPK)
        .select("doc_id", "rk", "term", "tf", "score")
    )


register(
    TEXT,
    "tfidf_topterms",
    _q_tfidf_topterms,
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               round(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / df.df), 6) AS score
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term, tf, score,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, rk, term, tf, score FROM ranked WHERE rk <= {_TFIDF_TOPK}
    """,
)


# --------------------------------------------------------------------------
# PMI bigram collocations (corpus-level phrase mining — the "new york"
# detector every web-text tokenizer pipeline runs before vocab
# building). pmi = ln(p(ab) / (p(a) p(b))) computed as
# (cab/Nb) / ((ca/Nu) * (cb/Nu)) with every count an exact int and the
# association order pinned on both sides; ranking on the rounded pmi
# with (pmi DESC, ta, tb) total order.

_PMI_MIN_CAB = 5
_PMI_TOPN = 100


def _q_pmi_bigrams(spark, sf_dir):
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    nu = toks.agg(F.sum(F.size("t"))).collect()[0][0]  # total tokens
    nb = (
        toks.filter(F.size("t") >= 2)
        .agg(F.sum(F.size("t") - F.lit(1)))
        .collect()[0][0]
    )  # total bigrams
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - F.lit(2)),
                    lambda i: F.struct(
                        F.element_at(F.col("t"), (i + 1).cast("int")).alias("ta"),
                        F.element_at(F.col("t"), (i + 2).cast("int")).alias("tb"),
                    ),
                )
            ).alias("bg")
        )
        .select("bg.ta", "bg.tb")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= _PMI_MIN_CAB)
    )
    pa = F.col("ca").cast("double") / F.lit(float(nu))
    pb = F.col("cb").cast("double") / F.lit(float(nu))
    pab = F.col("cab").cast("double") / F.lit(float(nb))
    scored = (
        bi.join(uni.select(F.col("tok").alias("ta"), F.col("c").alias("ca")), "ta")
        .join(uni.select(F.col("tok").alias("tb"), F.col("c").alias("cb")), "tb")
        .withColumn("pmi", F.round(F.log(pab / (pa * pb)), 6))
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("ta"), F.col("tb"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _PMI_TOPN)
        .select("rk", "ta", "tb", "cab", "pmi")
    )


register(
    TEXT,
    "pmi_bigrams",
    _q_pmi_bigrams,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), stats AS (
        SELECT (SELECT CAST(sum(len(t)) AS DOUBLE) FROM toks) AS nu,
               (SELECT CAST(sum(len(t) - 1) AS DOUBLE) FROM toks
                WHERE len(t) >= 2) AS nb
    ), uni AS (
        SELECT tok, count(*) AS c
        FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
    ), bi AS (
        SELECT string_split(bg, ' ')[1] AS ta, string_split(bg, ' ')[2] AS tb
        FROM (SELECT t FROM toks WHERE len(t) >= 2),
             unnest(list_transform(range(0, len(t) - 1),
                    i -> concat(t[i + 1], ' ', t[i + 2]))) AS u(bg)
    ), cab AS (
        SELECT ta, tb, count(*) AS cab FROM bi GROUP BY ta, tb
        HAVING count(*) >= {_PMI_MIN_CAB}
    ), scored AS (
        SELECT c.ta, c.tb, c.cab,
               round(ln((CAST(c.cab AS DOUBLE) / s.nb)
                        / ((CAST(ua.c AS DOUBLE) / s.nu)
                           * (CAST(ub.c AS DOUBLE) / s.nu))), 6) AS pmi
        FROM cab c
        JOIN uni ua ON ua.tok = c.ta
        JOIN uni ub ON ub.tok = c.tb
        CROSS JOIN stats s
    ), ranked AS (
        SELECT ta, tb, cab, pmi,
               row_number() OVER (ORDER BY pmi DESC, ta, tb) AS rk
        FROM scored
    )
    SELECT rk, ta, tb, cab, pmi FROM ranked WHERE rk <= {_PMI_TOPN}
    """,
)


# --------------------------------------------------------------------------
# Asymmetric near-containment pairs over the SAME capped LSH candidate
# generation as jaccard_pairs: |A∩B| / min(|A|,|B|) — catches
# quote/mirror/boilerplate-wrapper duplicates whose Jaccard stays low
# because the sizes differ. Candidate CTE prefix is shared verbatim
# with the jaccard_pairs oracle (entry_queries_ext.LSH_CAND_CTE_SQL).

_CONT_THRESHOLD = 0.6
_CONT_EXPR = (
    "round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)"
    " / CAST(least(len(a.ws), len(b.ws)) AS DOUBLE), 6)"
)


def _q_containment_pairs(spark, sf_dir):
    from .entry_queries_ext import _BUCKET_CAP
    from .operators.dedup import (
        capped_candidate_pairs,
        containment_refine,
        dedup_base,
    )

    d = _t(spark, sf_dir, "documents")
    base = dedup_base(d)
    pairs = capped_candidate_pairs(base=base, cap=_BUCKET_CAP)
    return containment_refine(d, pairs, threshold=_CONT_THRESHOLD, base=base)


def _containment_sql() -> str:
    from .entry_queries_ext import LSH_CAND_CTE_SQL

    return f"""{LSH_CAND_CTE_SQL}
    SELECT id_a, id_b, {_CONT_EXPR} AS containment
    FROM cand JOIN s a ON a.doc_id = cand.id_a JOIN s b ON b.doc_id = cand.id_b
    WHERE {_CONT_EXPR} >= {_CONT_THRESHOLD!r}
    """


register(TEXT, "containment_pairs", _q_containment_pairs, _containment_sql())


# --------------------------------------------------------------------------
# PageRank over a deterministic web link graph (the canonical web-scale
# iterative op; reference has no graph stack). Edges are synthesized
# closed-form from doc ids (3 pseudo-random out-links per page, self
# loops dropped, dedup'd). The rank is FIXED-POINT: scale 2^30,
# per-edge contribution rank_q div deg (exact integer), damping
# 0.85/0.15 applied as *85 div 100 on the exact integer sum — so every
# aggregate is an ORDER-FREE integer sum and the 5-iteration result is
# bit-identical on any partitioning (same trick as the quantized-Lloyd
# k-means oracle). Spark runs the classic join-agg loop with the edge
# frame checkpointed once; the oracle unrolls the 5 iterations as
# nested CTEs (lateral-alias rule: one subquery per iteration).

_PR_SCALE = 1 << 30
_PR_ITERS = 5
_PR_FANOUT = 3


def _q_pagerank_links(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(_PR_FANOUT))).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n)
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)  # reused every iteration
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = ((_PR_SCALE * 15) // 100) // n  # exact python ints == SQL //
    init = _PR_SCALE // n
    ranks = nodes.withColumn("rank_q", F.lit(init).cast("long"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_q div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr("(coalesce(s, 0) * 85) div 100")
                ).cast("long").alias("rank_q"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("node").alias("doc_id"), "rank_q")


def _pagerank_sql() -> str:
    js = ", ".join(str(j) for j in range(1, _PR_FANOUT + 1))
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS node FROM documents),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([{js}]) AS u(j)
        ) WHERE dst <> src
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (
        SELECT node,
               CAST(CAST({_PR_SCALE} AS BIGINT) // (SELECT n FROM nn) AS BIGINT) AS rank_q
        FROM nodes
    )"""
    iters = []
    for k in range(1, _PR_ITERS + 1):
        prev = f"r{k - 1}"
        iters.append(f""",
    r{k} AS (
        SELECT nodes.node,
               CAST(((CAST({_PR_SCALE} AS BIGINT) * 15) // 100) // (SELECT n FROM nn)
                    + (coalesce(c.s, 0) * 85) // 100 AS BIGINT) AS rank_q
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum({prev}.rank_q // d.deg) AS s
            FROM edges e
            JOIN {prev} ON {prev}.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) c ON c.node = nodes.node
    )""")
    return (
        head
        + "".join(iters)
        + f"\n    SELECT node AS doc_id, rank_q FROM r{_PR_ITERS}\n    "
    )


register(TEXT, "pagerank_links", _q_pagerank_links, _pagerank_sql())


# --------------------------------------------------------------------------
# Count-Min heavy hitters over a closed-form SKEWED key (the hot-host
# detection problem at crawl scale; reference has no sketch surface).
# Key map: half the events hash into 7 hot keys (~714 hits each at
# sf0.01), the other half spread over a 997-key tail (~5 each) — the
# canonical Zipf-ish head/tail split, synthesized deterministically
# from event_id so both engines derive identical input. CMS (d=4,
# w=512) finds the head with a 2048-counter sketch + broadcast probe
# join; threshold 100 sits two orders above the tail. est >= true_cnt
# ALWAYS (overestimate-only guarantee) and both are exact integers, so
# the oracle hash-matches bit-for-bit. See operators/sketch.py for the
# 100-TB shape notes (fixed-size state, mergeable, broadcast probe).

_CMS_HH_THRESHOLD = 100
_CMS_KEY_SQL = (
    "CASE WHEN event_id % 10 < 5 THEN event_id % 7"
    " ELSE 7 + (event_id % 997) END"
)


def _q_cms_heavy_hitters(spark, sf_dir):
    from .operators.sketch import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(F.col("event_id") % 10 < 5, F.col("event_id") % 7)
        .otherwise(F.lit(7) + F.col("event_id") % 997)
        .alias("k")
    )
    return cms_heavy_hitters(keyed, "k", _CMS_HH_THRESHOLD)


def _cms_heavy_hitters_sql() -> str:
    from .operators.sketch import cms_heavy_hitters_sql

    return cms_heavy_hitters_sql(
        f"SELECT {_CMS_KEY_SQL} AS k FROM events", _CMS_HH_THRESHOLD
    )


register(TEXT, "cms_heavy_hitters", _q_cms_heavy_hitters, _cms_heavy_hitters_sql())


# --------------------------------------------------------------------------
# WARC source roundtrip (sources/warc.py): serialize the input-hint
# pages into Common-Crawl-layout .warc.gz files (one gzip member per
# record, applyInPandas writer — task count == file count), read them
# back through the binaryFile + mapInPandas parser, and prove the
# whole archive cycle preserves every byte: record count, WARC-Date,
# HTTP status/mime, body length, body sha256, and the input_hint's
# byte-identical-extracted-text invariant all recomputed closed-form
# by the oracle straight from the documents table.


def _q_warc_roundtrip(spark, sf_dir):
    from .operators.multimodal import attach_html_binary
    from .pipelines.assign_tiles import web_pages_from_documents
    from .sources.warc import read_warc, write_warc_files

    pages = attach_html_binary(web_pages_from_documents(spark, sf_dir))
    pages = pages.withColumn(
        "warc_ts_iso",
        F.date_format(
            F.expr(
                "timestamp'2025-01-01 00:00:00'"
                " + make_interval(0, 0, 0, 0, 0, 0, doc_id)"
            ),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ),
    )
    out = _fresh_dir("warc_")
    write_warc_files(
        pages.select("doc_id", "url", "warc_ts_iso", "html"), out
    ).collect()  # materialize the archive (tiny manifest frame)
    parsed = read_warc(spark, out + "/*.warc.gz")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    extracted = F.regexp_replace(F.decode(F.col("html"), "utf-8"), "<[^>]*>", "")
    return (
        parsed.withColumn(
            "doc_id", F.regexp_extract("url", r"/d(\d+)$", 1).cast("long")
        )
        .join(docs, "doc_id")
        .select(
            "url",
            "warc_ts",
            F.col("http_status").cast("long").alias("http_status"),
            "mime",
            F.length("html").cast("long").alias("n_bytes"),
            F.sha2(F.decode(F.col("html"), "utf-8"), 256).alias("sha_html"),
            (F.sha2(extracted, 256) == F.sha2(F.col("text"), 256)).alias(
                "byte_identical"
            ),
        )
    )


_WARC_SQL = """
SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR)
         || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
       strftime(TIMESTAMP '2025-01-01 00:00:00'
                + doc_id * INTERVAL 1 SECOND, '%Y-%m-%dT%H:%M:%SZ') AS warc_ts,
       CAST(200 AS BIGINT) AS http_status,
       'text/html' AS mime,
       CAST(12 + length(text) + 14 AS BIGINT) AS n_bytes,
       sha256('<html><body>' || text || '</body></html>') AS sha_html,
       TRUE AS byte_identical
FROM documents
"""


register(TEXT, "warc_roundtrip", _q_warc_roundtrip, _WARC_SQL)


# --------------------------------------------------------------------------
# Positional inverted index + exact phrase search (the search-engine
# core op over crawl text; complements bm25_search which ranks bags of
# words — this one intersects POSITIONS). Postings are (tok, doc_id,
# pos) from one posexplode; the 3-term phrase match is two keyed
# equi-joins on (doc_id, pos+k) — shuffle on the composite key, term
# filters pushed to the scan, no broadcast needed and no
# quadratic blowup: each join's left side is already one term's
# posting list (~1/|V| of the corpus), which is exactly how a
# sharded index intersects postings at 10^12 docs. Spark posexplode
# is 0-based, DuckDB WITH ORDINALITY is 1-based (ord-1 aligns them);
# neither side drops empty tokens so positions agree by construction.

_PHRASE = ("hash", "join", "scan")


def _q_phrase_search(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    t0, t1, t2 = _PHRASE
    a = toks.filter(F.col("tok") == t0).select("doc_id", "pos")
    b = toks.filter(F.col("tok") == t1).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    c = toks.filter(F.col("tok") == t2).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .join(c, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


def _phrase_search_sql() -> str:
    t0, t1, t2 = _PHRASE
    return f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok0 AS (
        -- no WITH ORDINALITY in this DuckDB: positions via
        -- list_transform + unnest (same idiom as the pmi oracle)
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) + 1),
                                     i -> struct_pack(pos := i - 1,
                                                      tok := t[i]))) AS u
        FROM base
    ), toks AS (
        SELECT doc_id, u.tok AS tok, u.pos AS pos FROM tok0
    )
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM toks a
    JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    WHERE a.tok = '{t0}' AND b.tok = '{t1}' AND c.tok = '{t2}'
    GROUP BY a.doc_id
    """


register(TEXT, "phrase_search", _q_phrase_search, _phrase_search_sql())


# --------------------------------------------------------------------------
# Crawl snapshot delta (Common Crawl ships monthly snapshots; the
# first question any consumer asks is "what changed?"). Two snapshots
# are derived closed-form from documents: snapshot B rewrites text for
# doc_id%10==0 (changed), drops doc_id%10==1 (removed), and adds new
# urls (doc_id%10==2 re-keyed past the id range). ONE full-outer
# equi-join on url classifies every row; the output is the per-status
# rollup (count + doc_id checksum) so the compare pins the whole
# classification. Scale shape: a single shuffle on url — the join key
# is unique per side, AQE handles skew, no broadcast required.


def _q_crawl_delta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()
    url = F.concat(F.lit("https://site/d"), F.col("doc_id").cast("string"))
    old = d.select(
        url.alias("url"),
        F.col("doc_id").alias("old_id"),
        F.sha2(F.col("text"), 256).alias("old_sha"),
    )
    new = (
        d.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .filter(F.col("doc_id") % 10 != 1)
        .select("doc_id", "text")
        .union(
            d.filter(F.col("doc_id") % 10 == 2).select(
                (F.col("doc_id") + F.lit(n_docs)).alias("doc_id"), "text"
            )
        )
        .select(
            F.concat(F.lit("https://site/d"), F.col("doc_id").cast("string")).alias(
                "url"
            ),
            F.col("doc_id").alias("new_id"),
            F.sha2(F.col("text"), 256).alias("new_sha"),
        )
    )
    j = old.join(new, "url", "full_outer")
    status = (
        F.when(F.col("old_id").isNull(), F.lit("added"))
        .when(F.col("new_id").isNull(), F.lit("removed"))
        .when(F.col("old_sha") != F.col("new_sha"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), F.coalesce("new_id", "old_id").alias("id"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum("id").cast("long").alias("id_sum"),
        )
    )


_CRAWL_DELTA_SQL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
old AS (
    SELECT 'https://site/d' || CAST(doc_id AS VARCHAR) AS url,
           doc_id AS old_id, sha256(text) AS old_sha
    FROM documents
),
new AS (
    SELECT 'https://site/d' || CAST(doc_id AS VARCHAR) AS url,
           doc_id AS new_id,
           sha256(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END)
             AS new_sha
    FROM documents WHERE doc_id % 10 <> 1
    UNION ALL
    SELECT 'https://site/d' || CAST(doc_id + (SELECT n FROM nn) AS VARCHAR),
           doc_id + (SELECT n FROM nn), sha256(text)
    FROM documents WHERE doc_id % 10 = 2
),
j AS (
    SELECT CASE WHEN old_id IS NULL THEN 'added'
                WHEN new_id IS NULL THEN 'removed'
                WHEN old_sha <> new_sha THEN 'changed'
                ELSE 'unchanged' END AS status,
           coalesce(new_id, old_id) AS id
    FROM old FULL OUTER JOIN new USING (url)
)
SELECT status, count(*) AS n_urls, CAST(sum(id) AS BIGINT) AS id_sum
FROM j GROUP BY status
"""


register(TEXT, "crawl_delta", _q_crawl_delta, _CRAWL_DELTA_SQL)


# --------------------------------------------------------------------------
# robots.txt longest-prefix-match filtering (the crawl-side admission
# op; Googlebot semantics: the MOST SPECIFIC matching rule wins, allow
# wins length ties). Rules are a closed-form per-host dim (3 rules per
# host: default allow '/', even hosts disallow '/d', every host
# re-allows '/d<h%10>'), derived from the same url scheme as the page
# rows — so the dim is tiny relative to pages (the real-world shape:
# ~1 robots.txt per host vs ~10^6 pages per host), and the match join
# broadcasts it: equi-join on host + a startswith residual, then one
# window picks the longest matching prefix per url. No cross join:
# the host equi-key bounds candidates to that host's own rules.


def _q_robots_filter(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://site"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(".example/d"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 97).alias("host"),
        F.concat(F.lit("/d"), F.col("doc_id").cast("string")).alias("path"),
    )
    hosts = pages.select("host").distinct()
    rules = hosts.select(
        "host",
        F.explode(
            F.array(
                F.struct(F.lit("/").alias("prefix"), F.lit("allow").alias("rule")),
                F.struct(F.lit("/d").alias("prefix"), F.lit("disallow").alias("rule")),
                F.struct(
                    F.concat(F.lit("/d"), (F.col("host") % 10).cast("string")).alias(
                        "prefix"
                    ),
                    F.lit("allow").alias("rule"),
                ),
            )
        ).alias("r"),
    ).select("host", F.col("r.prefix").alias("prefix"), F.col("r.rule").alias("rule"))
    rules = rules.filter(
        (F.col("prefix") != F.lit("/d")) | (F.col("host") % 2 == 0)
    )
    m = pages.join(F.broadcast(rules), "host").filter(
        F.col("path").startswith(F.col("prefix"))
    )
    w = (
        Window.partitionBy("url")
        .orderBy(F.length("prefix").desc(), F.col("rule").asc())
    )
    best = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", F.col("rule").alias("verdict"), F.col("prefix").alias("matched_prefix"))
    )
    return best


_ROBOTS_SQL = """
WITH pages AS (
    SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR)
             || '.example/d' || CAST(doc_id AS VARCHAR) AS url,
           doc_id % 97 AS host,
           '/d' || CAST(doc_id AS VARCHAR) AS path
    FROM documents
),
hosts AS (SELECT DISTINCT host FROM pages),
rules AS (
    SELECT host, '/' AS prefix, 'allow' AS rule FROM hosts
    UNION ALL
    SELECT host, '/d', 'disallow' FROM hosts WHERE host % 2 = 0
    UNION ALL
    SELECT host, '/d' || CAST(host % 10 AS VARCHAR), 'allow' FROM hosts
),
m AS (
    SELECT p.url, r.prefix, r.rule,
           row_number() OVER (
               PARTITION BY p.url
               ORDER BY length(r.prefix) DESC, r.rule ASC
           ) AS rn
    FROM pages p JOIN rules r
      ON r.host = p.host AND starts_with(p.path, r.prefix)
)
SELECT url, rule AS verdict, prefix AS matched_prefix FROM m WHERE rn = 1
"""


register(TEXT, "robots_filter", _q_robots_filter, _ROBOTS_SQL)


# --------------------------------------------------------------------------
# Webgraph extraction + anchor-text aggregation: build html WITH
# embedded <a href> anchors closed-form (same 3-out-link formula as
# pagerank_links, so parse -> graph -> rank is one coherent story),
# extract the links back out of the markup JVM-side (regexp_extract_all,
# no Python), and aggregate per target: in-link count, distinct
# referrers, anchor text. The oracle derives the graph INDEPENDENTLY
# from the closed form — it never sees the html — so the regex
# extraction path is what's actually being verified. Scale shape: one
# Generate (explode) + one groupBy shuffle on dst; anchor aggregation
# at 10^12 pages is exactly this plan with the dst key salted if a
# target is viral (salted_histogram covers that variant).


def _q_anchor_agg(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    link = lambda j: F.concat(
        F.lit('<a href="https://site/d'),
        ((F.col("doc_id") * 31 + j * 17) % F.lit(n)).cast("string"),
        F.lit('">anchor d'),
        ((F.col("doc_id") * 31 + j * 17) % F.lit(n)).cast("string"),
        F.lit("</a>"),
    )
    pages = d.select(
        F.col("doc_id").alias("src"),
        F.concat(
            F.lit("<html><body><p>"),
            F.col("text"),
            F.lit("</p>"),
            link(1),
            link(2),
            link(3),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    extracted = pages.select(
        "src",
        F.explode(
            F.expr(
                "regexp_extract_all(html,"
                " '<a href=\"https://site/d(\\\\d+)\">([^<]+)</a>', 1)"
            )
        ).alias("dst_s"),
    ).select("src", F.col("dst_s").cast("long").alias("dst"))
    return (
        extracted.filter(F.col("dst") != F.col("src"))
        .groupBy("dst")
        .agg(
            F.count(F.lit(1)).alias("n_inlinks"),
            F.countDistinct("src").cast("long").alias("n_srcs"),
        )
        .select(
            "dst",
            "n_inlinks",
            "n_srcs",
            F.concat(F.lit("anchor d"), F.col("dst").cast("string")).alias(
                "top_anchor"
            ),
        )
    )


_ANCHOR_SQL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
links AS (
    SELECT doc_id AS src,
           (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
    FROM documents, unnest([1, 2, 3]) AS u(j)
)
SELECT dst,
       count(*) AS n_inlinks,
       CAST(count(DISTINCT src) AS BIGINT) AS n_srcs,
       'anchor d' || CAST(dst AS VARCHAR) AS top_anchor
FROM links WHERE dst <> src
GROUP BY dst
"""


register(TEXT, "anchor_agg", _q_anchor_agg, _ANCHOR_SQL)


# --------------------------------------------------------------------------
# URL canonicalization (functions/urlnorm.py): every doc contributes
# TWO raw variants — a messy one (upper-cased scheme/host, explicit
# :443, /./ or /seg/../ dot-segments, swapped query order, fragment)
# and the clean one — and the proof obligation is that both collapse
# to the SAME canonical string: groupBy(canonical) must count exactly
# 2 for every doc. The oracle writes the canonical form closed-form
# (never running the normalizer) AND independently re-runs the DuckDB
# twin of the normalizer on the messy variant; the query output pins
# both paths.


def _q_url_canonicalize(spark, sf_dir):
    from .functions.urlnorm import canonical_url_col

    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 97).cast("string")
    i = F.col("doc_id").cast("string")
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://Site"), h, F.lit(".Example"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/x/../a/d"), i))
        .otherwise(F.concat(F.lit("/a/./d"), i)),
        F.when(F.col("doc_id") % 2 == 0, F.lit("?b=2&a=1")).otherwise(
            F.lit("?a=1&b=2")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    clean = F.concat(
        F.lit("https://site"), h, F.lit(".example/a/d"), i, F.lit("?a=1&b=2")
    )
    variants = d.select(
        F.col("doc_id"), F.explode(F.array(messy, clean)).alias("url_raw")
    )
    return (
        variants.select("doc_id", canonical_url_col(F.col("url_raw")).alias("canon"))
        .groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").cast("long").alias("doc_id"),
        )
    )


def _url_canonicalize_sql() -> str:
    from .functions.urlnorm import canonical_url_sql

    return f"""
    WITH raw AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
               || '://Site' || CAST(doc_id % 97 AS VARCHAR) || '.Example'
               || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
               || (CASE WHEN doc_id % 4 = 0
                        THEN '/x/../a/d' || CAST(doc_id AS VARCHAR)
                        ELSE '/a/./d' || CAST(doc_id AS VARCHAR) END)
               || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1' ELSE '?a=1&b=2' END)
               || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)
               AS url_messy
        FROM documents
    ),
    variants AS (
        -- twin normalizer applied to the messy variant...
        SELECT doc_id, {canonical_url_sql('url_messy')} AS canon FROM raw
        UNION ALL
        -- ...and the closed-form canonical for the clean variant
        SELECT doc_id,
               'https://site' || CAST(doc_id % 97 AS VARCHAR)
               || '.example/a/d' || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
        FROM documents
    )
    SELECT canon, count(*) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM variants GROUP BY canon
    """


register(TEXT, "url_canonicalize", _q_url_canonicalize, _url_canonicalize_sql())


# --------------------------------------------------------------------------
# Template clustering: group pages by MARKUP STRUCTURE, not content —
# the boilerplate-detection pass a crawl pipeline runs before text
# extraction (pages from one CMS template share a tag sequence even
# though their text differs; content dedup can't see that). The
# structure fingerprint is sha256 over the concatenated tag-name
# sequence (regexp_extract_all '<([a-z]+)' — attributes and text
# stripped), here over html synthesized with 4 closed-form template
# variants. One Generate-free per-row regex pass + one groupBy: the
# same plan at 10^12 pages, with the fingerprint itself the shuffle
# key (uniform by construction of sha).


def _q_template_clusters(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tpl = F.col("doc_id") % 4
    html = F.concat(
        F.lit("<html><head><title>t</title></head><body>"),
        F.when(tpl == 0, F.concat(F.lit("<div><p>"), F.col("text"), F.lit("</p></div>")))
        .when(tpl == 1, F.concat(F.lit("<article><p>"), F.col("text"), F.lit("</p><footer>f</footer></article>")))
        .when(tpl == 2, F.concat(F.lit("<div><span>"), F.col("text"), F.lit("</span><nav>n</nav></div>")))
        .otherwise(F.concat(F.lit("<section><p>"), F.col("text"), F.lit("</p><p>x</p></section>"))),
        F.lit("</body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    fp = F.sha2(
        F.array_join(
            F.expr("regexp_extract_all(html, '<([a-z]+)', 1)"), ","
        ),
        256,
    )
    return (
        pages.select(fp.alias("template_fp"))
        .groupBy("template_fp")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


_TEMPLATE_SQL = """
WITH pages AS (
    SELECT doc_id,
           '<html><head><title>t</title></head><body>'
           || CASE doc_id % 4
                WHEN 0 THEN '<div><p>' || text || '</p></div>'
                WHEN 1 THEN '<article><p>' || text || '</p><footer>f</footer></article>'
                WHEN 2 THEN '<div><span>' || text || '</span><nav>n</nav></div>'
                ELSE '<section><p>' || text || '</p><p>x</p></section>'
              END
           || '</body></html>' AS html
    FROM documents
)
SELECT sha256(array_to_string(regexp_extract_all(html, '<([a-z]+)', 1), ','))
         AS template_fp,
       count(*) AS n_pages
FROM pages GROUP BY 1
"""


register(TEXT, "template_clusters", _q_template_clusters, _TEMPLATE_SQL)


# --------------------------------------------------------------------------
# Grouped HLL: per-event-type distinct-user sketches (the per-segment
# cardinality dashboard at crawl scale: distinct hosts per TLD,
# distinct users per surface, ... — one pass, one (group, bucket)
# shuffle whose exchange is <= 256 rows per group REGARDLESS of
# cardinality). n_true rides along so the driver compare pins both
# the estimate arithmetic and the exact path; the harmonic sum stays
# order-free per group (powers of two), so the estimate hash-matches
# bit-for-bit across any partitioning.


def _q_hll_by_group(spark, sf_dir):
    from .operators.sketch import hll_estimate_grouped

    ev = _t(spark, sf_dir, "events")
    return hll_estimate_grouped(ev, "event_type", "user_id")


def _hll_by_group_sql() -> str:
    from .operators.sketch import hll_estimate_grouped_sql

    return hll_estimate_grouped_sql("events", "event_type", "user_id")


register(TEXT, "hll_by_group", _q_hll_by_group, _hll_by_group_sql())

# --------------------------------------------------------------------------
# Zone maps: per-file min/max column stats written at icelite commit +
# file skipping on read (Iceberg's data-skipping stats rebuilt — the
# prune a hive directory layout alone cannot give, reference's Iceberg
# dependency in SURVEY §2.9). The query writes documents range-clustered
# on doc_id into 4 files, reads back ONLY the files whose [min,max] can
# intersect doc_id BETWEEN 100 AND 199, and proves the skip really
# happened (`pruned`) alongside the data aggregates. Results equal a
# full scan + filter exactly — only the scanned byte count changes —
# so the DuckDB twin is the plain filtered aggregate.


def _q_zonemap_pruned(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_zm_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = IceliteTable(root, "docs")
    t.write(d.repartitionByRange(4, "doc_id"), stats_cols=["doc_id"])
    files, total = t.pruned_files(spark, "doc_id", 100, 199)
    pr = t.read_pruned(spark, "doc_id", 100, 199)
    return pr.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_id"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    ).withColumn("pruned", F.lit(len(files) < total))


register(
    TEXT,
    "zonemap_pruned_read",
    _q_zonemap_pruned,
    """
    SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_id,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars, TRUE AS pruned
    FROM documents WHERE doc_id BETWEEN 100 AND 199
    """,
)

# --------------------------------------------------------------------------
# Z-order clustering (Iceberg OPTIMIZE ... ZORDER BY rebuilt): documents
# become a 32-wide integer grid (x = doc_id % 32, y = doc_id div 32),
# get rewritten Z-order-clustered with zone maps on BOTH columns, and a
# 2-D box read prunes via the conjunctive zone-map planner. The Morton
# key itself rides along (min/max over the box) so the driver compare
# pins the interleave arithmetic bit-for-bit against the SQL twin, not
# just the row set. `pruned` is layout-guaranteed: the box x in [8,15],
# y in [4,7] is an aligned Morton quadrant -> its 32 keys are CONTIGUOUS
# ([96,127]), so they intersect at most 2 of the 8 range-partitioned
# files under ANY range-boundary sampling.


def _q_zorder_pruned(spark, sf_dir):
    from .operators.zorder import cluster_zorder, zorder_key
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_zorder_")
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (F.col("doc_id") % 32).alias("x"),
            F.expr("doc_id div 32").alias("y"),
        )
    )
    t = IceliteTable(root, "grid")
    t.write(cluster_zorder(d, "x", "y", n_files=8), stats_cols=["x", "y"])
    preds = [("x", 8, 15), ("y", 4, 7)]
    files, total = t.pruned_files_multi(spark, preds)
    box = t.read_pruned_multi(spark, preds)
    return box.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_id"),
        F.min(zorder_key(F.col("x"), F.col("y"))).alias("zk_min"),
        F.max(zorder_key(F.col("x"), F.col("y"))).alias("zk_max"),
    ).withColumn("pruned", F.lit(len(files) < total))


def _zorder_pruned_sql() -> str:
    from .operators.zorder import zorder_key_sql

    zk = zorder_key_sql("x", "y")
    return f"""
    WITH pts AS (
      SELECT doc_id, doc_id % 32 AS x, doc_id // 32 AS y FROM documents
    )
    SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_id,
           min({zk}) AS zk_min, max({zk}) AS zk_max, TRUE AS pruned
    FROM pts WHERE x BETWEEN 8 AND 15 AND y BETWEEN 4 AND 7
    """


register(TEXT, "zorder_pruned_read", _q_zorder_pruned, _zorder_pruned_sql())

# --------------------------------------------------------------------------
# Incremental materialized view: a per-lang stats table over an
# append-only icelite fact table, refreshed by reading ONLY the
# directories appended since the last refresh (read_incremental) and
# merging algebraic partials (count/sum add, min/max combine) — refresh
# work is O(delta + |groups|), never O(table). The query drives the
# full cycle (initial refresh on half the docs, append the other half,
# INCREMENTAL refresh, serve) and the oracle is the one-shot aggregate
# over everything: merge(old, delta) == full recompute, exactly.
# delta_rows rides along to pin that the second refresh saw only the
# appended half.


def _q_matview_incremental(spark, sf_dir):
    from .tables.icelite import IceliteTable
    from .tables.matview import MaterializedAgg

    root = _fresh_dir("icelite_mv_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t = IceliteTable(root, "docs")
    t.write(d.filter(F.col("doc_id") < 250))
    mv = MaterializedAgg(
        root,
        "docs_by_lang",
        t,
        ["lang"],
        [("count", "*"), ("sum", "n_chars"), ("min", "n_chars"), ("max", "n_chars")],
    )
    s1 = mv.refresh(spark)
    t.write(d.filter(F.col("doc_id") >= 250), mode="append")
    s2 = mv.refresh(spark)
    assert s1["mode"] == "initial" and s2["mode"] == "incremental", (s1, s2)
    return (
        mv.serve(spark)
        .select(
            "lang",
            "n",
            "sum__n_chars",
            "min__n_chars",
            "max__n_chars",
            F.round("avg__n_chars", 6).alias("avg_chars"),
        )
        .withColumn("delta_rows", F.lit(int(s2["delta_rows"])).cast("long"))
    )


register(
    TEXT,
    "matview_incremental",
    _q_matview_incremental,
    """
    SELECT lang, count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum__n_chars,
           min(n_chars) AS min__n_chars, max(n_chars) AS max__n_chars,
           round(CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*), 6)
             AS avg_chars,
           (SELECT count(*) FROM documents WHERE doc_id >= 250) AS delta_rows
    FROM documents GROUP BY lang
    """,
)

# --------------------------------------------------------------------------
# Runtime Bloom-filter join pruning (operators/bloom.py): lineitem is
# semi-joined to the top-price orders through an m=16384-bit Bloom
# prefilter compiled into the probe scan as pure JVM expressions
# (xxhash64/pmod/element_at/getbit). The oracle is the PLAIN semi-join
# aggregate — the final exact left-semi join makes the output
# independent of Bloom false positives by construction, which is
# exactly the property the driver compare pins.


def _q_bloom_semi_join(spark, sf_dir):
    from .operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 490000.0)
    kept = bloom_semi_join(li, "l_orderkey", big, "o_orderkey")
    return kept.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


register(
    TEXT,
    "bloom_semi_join",
    _q_bloom_semi_join,
    """
    SELECT l_returnflag, count(*) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_totalprice > 490000.0
    )
    GROUP BY l_returnflag
    """,
)

# --------------------------------------------------------------------------
# Exact substring-duplication spans (the character-gram pass of
# "Deduplicating Training Data Makes Language Models Better", Lee et
# al. 2022): a position p in doc d is DUPLICATED if the 16-char gram
# text[p:p+16] occurs >= 2 times across the whole corpus. One explode
# -> groupBy(gram) frequency -> hash-join back; no all-pairs anywhere.
# At 100 TB the gram key would be xxhash64(gram) (8 bytes instead of
# 16+ chars through the shuffle) with a second exact pass inside
# colliding buckets; at oracle scale the raw gram IS the key so DuckDB
# reproduces it verbatim.

_GRAM_L = 16


def _q_substring_dup_spans(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = (
        d.filter(F.length("text") >= _GRAM_L)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.length("text") - _GRAM_L),
                    lambda p: F.substring(F.col("text"), p + 1, _GRAM_L),
                )
            ).alias("g"),
        )
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return (
        grams.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("c") >= 2).cast("long")).alias("n_dup"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup").cast("double") / F.col("n_grams"), 6),
        )
    )


register(
    TEXT,
    "substring_dup_spans",
    _q_substring_dup_spans,
    f"""
    WITH grams AS (
      SELECT doc_id, substr(text, p + 1, {_GRAM_L}) AS g
      FROM (
        SELECT doc_id, text,
               unnest(range(0, greatest(length(text) - {_GRAM_L - 1}, 0))) AS p
        FROM documents
      )
    ), freq AS (SELECT g, count(*) AS c FROM grams GROUP BY g)
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                      AS DOUBLE) / count(*), 6) AS dup_ratio
    FROM grams JOIN freq USING (g)
    GROUP BY doc_id
    """,
)

# --------------------------------------------------------------------------
# Snapshot changelog (Delta CDF / Iceberg changelog scan rebuilt):
# documents v0 -> MERGE (bump n_chars for doc_id < 100) -> DELETE
# (doc_id >= 450), then changes(v0, v2) emits the row-level diff with
# _change_type; the MERGE's updates surface as delete+insert pairs.
# The oracle reconstructs the same 250-row changelog from closed-form
# arithmetic over documents.


def _q_snapshot_changes(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_cdc_")
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    t = IceliteTable(root, "docs")
    t.write(d)
    v0 = t.current_snapshot()["snapshot_id"]
    t.merge(
        spark,
        d.filter(F.col("doc_id") < 100).withColumn(
            "n_chars", F.col("n_chars") + 1
        ),
        key="doc_id",
    )
    t.delete(spark, d.filter(F.col("doc_id") >= 450).select("doc_id"), key="doc_id")
    v2 = t.current_snapshot()["snapshot_id"]
    return t.changes(spark, v0, v2).select("_change_type", "doc_id", "n_chars")


register(
    TEXT,
    "snapshot_changes",
    _q_snapshot_changes,
    """
    SELECT 'insert' AS _change_type, doc_id, n_chars + 1 AS n_chars
    FROM documents WHERE doc_id < 100
    UNION ALL
    SELECT 'delete' AS _change_type, doc_id, n_chars
    FROM documents WHERE doc_id < 100 OR doc_id >= 450
    """,
)

# --------------------------------------------------------------------------
# Streaming ingest driving an INCREMENTALLY-maintained MV (the
# production dashboard loop, end to end): events drain in three
# micro-batches through the exactly-once foreachBatch icelite append
# (batch-id fingerprint guard), and the per-event-type stats MV
# refreshes after every batch — initial once, then strictly
# incremental (each refresh reads only that batch's directory). The
# oracle is the one-shot batch aggregate: three merges of algebraic
# partials == the full recompute exactly. Money-style exactness per
# the integer-cents rule (floor(value*100+0.5) per row, BIGINT sums).


def _q_stream_matview(spark, sf_dir):
    from .tables.icelite import IceliteTable
    from .tables.matview import MaterializedAgg

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        "user_id",
    )
    src = _fresh_dir("stream_mv_src_")
    for i in range(3):
        ev.filter(F.col("user_id") % 3 == i).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    schema = spark.read.parquet(f"{src}/f0").schema
    root = _fresh_dir("stream_mv_tbl_")
    table = IceliteTable(root, "ev")
    mv = MaterializedAgg(
        root,
        "ev_by_type",
        table,
        ["event_type"],
        [("count", "*"), ("sum", "cents"), ("min", "cents"), ("max", "cents")],
    )
    modes: list[str] = []

    def sink(batch_df, batch_id):
        fp = f"batch-{batch_id}"
        if not table.stage_done("stream-append", fp):
            table.write(
                batch_df, stage="stream-append", fingerprint=fp, mode="append"
            )
        modes.append(mv.refresh(spark)["mode"])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", _fresh_dir("stream_mv_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert modes and modes[0] == "initial", modes
    assert all(m == "incremental" for m in modes[1:]), modes
    return mv.serve(spark).select(
        "event_type", "n", "sum__cents", "min__cents", "max__cents"
    )


register(
    TEXT,
    "stream_matview",
    _q_stream_matview,
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum__cents,
           CAST(min(floor(value * 100 + 0.5)) AS BIGINT) AS min__cents,
           CAST(max(floor(value * 100 + 0.5)) AS BIGINT) AS max__cents
    FROM events GROUP BY event_type
    """,
)

# --------------------------------------------------------------------------
# Vector -> raster burn (rasterize, the inverse of the raster-footprint
# ingestion; gdal_rasterize center rule): 64 deterministic CCW octagons
# (the simplify fixture's template, unsubdivided) burned onto a unit
# grid. Exactness: integer vertices and half-integer cell centers make
# every cross product exact in float64, and the oracle's 8 half-plane
# inequalities are the same cross products divided by the positive
# edge-length factor 2s — algebraically identical, boundary-inclusive
# on both sides.


def _q_rasterize_polys(spark, sf_dir):
    from .operators.raster import rasterize

    rows = []
    for k in range(_SIMPLIFY_N):
        s = 1 + k % 4
        dx, dy = 11.0 * k, 7.0 * k
        ring = [
            float(v)
            for x, y in (*_SIMPLIFY_TEMPLATE, _SIMPLIFY_TEMPLATE[0])
            for v in (s * x + dx, s * y + dy)
        ]
        rows.append((k, ring))
    polys = spark.createDataFrame(
        rows, schema="poly_id long, coords_flat array<double>"
    )
    return rasterize(polys, cell=1.0, mode="convex")


register(
    TEXT,
    "rasterize_polys",
    _q_rasterize_polys,
    f"""
    WITH polys AS (
      SELECT CAST(k AS BIGINT) AS poly_id,
             CAST(1 + k % 4 AS DOUBLE) AS s,
             CAST(11 * k AS DOUBLE) AS dx, CAST(7 * k AS DOUBLE) AS dy
      FROM (SELECT unnest(range({_SIMPLIFY_N})) AS k)
    ), c1 AS (
      SELECT poly_id, s, dx, dy,
             unnest(range(CAST(dx AS BIGINT) - 1,
                          CAST(dx + 6 * s AS BIGINT) + 2)) AS col
      FROM polys
    ), c2 AS (
      SELECT poly_id, s, dx, dy, col,
             unnest(range(CAST(dy AS BIGINT) - 1,
                          CAST(dy + 6 * s AS BIGINT) + 2)) AS row
      FROM c1
    )
    SELECT poly_id, CAST(col AS BIGINT) AS col, CAST(row AS BIGINT) AS row
    FROM (
      SELECT poly_id, col, row,
             (col + 0.5) - dx AS w, (row + 0.5) - dy AS z, s FROM c2
    )
    WHERE z >= 0 AND z <= 6 * s AND w >= 0 AND w <= 6 * s
      AND w - z <= 4 * s AND z - w <= 4 * s
      AND w + z >= 2 * s AND w + z <= 10 * s
    """,
)

# --------------------------------------------------------------------------
# Distributed BPE tokenizer training (operators/bpe.py): 6 corpus-level
# merge rounds over documents, each round one pair-count shuffle + one
# scalar winner pick + one map-side merge. The oracle replays all 6
# rounds (pair-count argmax + replace per round, nested CTEs), so the
# compare pins every intermediate corpus state through the per-doc
# final token counts and first tokens.

_BPE_ROUNDS = 6


def _q_bpe_train(spark, sf_dir):
    from .operators.bpe import token_stats, train_bpe

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus, merges = train_bpe(d, "text", rounds=_BPE_ROUNDS)
    assert len(merges) == _BPE_ROUNDS
    return token_stats(corpus)


def _bpe_train_sql() -> str:
    from .operators.bpe import bpe_oracle_sql

    return bpe_oracle_sql("documents", "text", _BPE_ROUNDS)


register(TEXT, "bpe_train", _q_bpe_train, _bpe_train_sql())

# --------------------------------------------------------------------------
# Per-file Bloom point-lookup index (Parquet's column bloom filters
# rebuilt at the table layer): documents keyed by sha256(text) — a
# high-cardinality UNSORTED column where min/max zone maps cannot
# prune — written with bloom_cols, then a point lookup scans only the
# Bloom-surviving files. The oracle is the plain equality filter; fp
# can only add scanned files, never rows (read_point re-filters).


def _q_bloom_point_lookup(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_bloomidx_")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("key"), "n_chars"
    )
    t = IceliteTable(root, "docs")
    t.write(d.repartition(8, "doc_id"), bloom_cols=["key"])
    target = d.filter(F.col("doc_id") == 123).collect()[0]["key"]
    files, total = t.lookup_files(spark, "key", target)
    got = t.read_point(spark, "key", target)
    return got.select("doc_id", "n_chars").withColumn(
        "pruned", F.lit(len(files) < total)
    )


register(
    TEXT,
    "bloom_point_lookup",
    _q_bloom_point_lookup,
    """
    SELECT doc_id, n_chars, TRUE AS pruned
    FROM documents
    WHERE sha256(text) = (SELECT sha256(text) FROM documents WHERE doc_id = 123)
    """,
)

# --------------------------------------------------------------------------
# Zonal statistics (the HAND-domain classic: per-catchment raster
# aggregation — mean elevation per polygon): rasterize() burns each
# octagon to its covered cells, a closed-form "elevation" value
# v(col,row) = (7*col + 13*row) % 100 stands in for the DEM band, and
# the aggregate is one groupBy over the burned cells. The oracle
# regenerates grid + PIP + value rule in SQL, so cell coverage AND the
# aggregation are pinned together. Integer values -> exact sums.


def _q_zonal_stats(spark, sf_dir):
    from .operators.raster import rasterize

    rows = []
    for k in range(_SIMPLIFY_N):
        s = 1 + k % 4
        dx, dy = 11.0 * k, 7.0 * k
        ring = [
            float(v)
            for x, y in (*_SIMPLIFY_TEMPLATE, _SIMPLIFY_TEMPLATE[0])
            for v in (s * x + dx, s * y + dy)
        ]
        rows.append((k, ring))
    polys = spark.createDataFrame(
        rows, schema="poly_id long, coords_flat array<double>"
    )
    cells = rasterize(polys, cell=1.0, mode="convex")
    val = (F.col("col") * 7 + F.col("row") * 13) % 100
    return cells.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(val).cast("long").alias("sum_val"),
        F.min(val).cast("long").alias("min_val"),
        F.max(val).cast("long").alias("max_val"),
    )


register(
    TEXT,
    "zonal_stats",
    _q_zonal_stats,
    f"""
    WITH polys AS (
      SELECT CAST(k AS BIGINT) AS poly_id,
             CAST(1 + k % 4 AS DOUBLE) AS s,
             CAST(11 * k AS DOUBLE) AS dx, CAST(7 * k AS DOUBLE) AS dy
      FROM (SELECT unnest(range({_SIMPLIFY_N})) AS k)
    ), c1 AS (
      SELECT poly_id, s, dx, dy,
             unnest(range(CAST(dx AS BIGINT) - 1,
                          CAST(dx + 6 * s AS BIGINT) + 2)) AS col
      FROM polys
    ), c2 AS (
      SELECT poly_id, s, dx, dy, col,
             unnest(range(CAST(dy AS BIGINT) - 1,
                          CAST(dy + 6 * s AS BIGINT) + 2)) AS row
      FROM c1
    ), burned AS (
      SELECT poly_id, col, row,
             (col * 7 + row * 13) % 100 AS v
      FROM (
        SELECT poly_id, col, row,
               (col + 0.5) - dx AS w, (row + 0.5) - dy AS z, s FROM c2
      )
      WHERE z >= 0 AND z <= 6 * s AND w >= 0 AND w <= 6 * s
        AND w - z <= 4 * s AND z - w <= 4 * s
        AND w + z >= 2 * s AND w + z <= 10 * s
    )
    SELECT poly_id, count(*) AS n_cells,
           CAST(sum(v) AS BIGINT) AS sum_val,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val
    FROM burned GROUP BY poly_id
    """,
)
