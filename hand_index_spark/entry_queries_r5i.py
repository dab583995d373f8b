"""Round-5i registry batch — three new operator families:

- ``pack_chunks``: concat-and-chunk sequence packing — the stage that
  turns a deduped/filtered document corpus into fixed-length training
  chunks (concatenate all token streams in a deterministic document
  order, cut every C tokens; GPT-style packing). The global token
  offset of every document is computed with a DISTRIBUTED TWO-PHASE
  PREFIX SUM: an intra-bucket running sum partitioned on a
  doc-id-range bucket (parallel), plus per-bucket totals offset on a
  tiny #buckets-row frame and broadcast back — NO single-partition
  global window anywhere near corpus-sized data, which is what makes
  the op survive 10^12 documents. All-integer arithmetic, bit-exact
  against a plain window-cumsum oracle.
- ``acf_lags``: per-user autocorrelation (Pearson r at lags 1..3) of
  the event value series — the time-series diagnostic next to the
  EWMA/CUSUM/MAD family. Values quantized to exact integer cents, all
  moment sums BIGINT (exact), one final double expression with
  identical operation order on both engines.
- ``triangulate_mesh``: fan triangulation of convex polygon rings into
  per-triangle rows — the mesh-generation primitive downstream of
  polygon ops (render/area-weighting pipelines). Deterministic
  integer parabola rings; every triangle's doubled signed area is an
  exact integer cross product; the sum-equals-shoelace identity is
  pytest-pinned.

Contract as every batch: identical column names and bit-identical
arithmetic between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
training-data packing, time-series or mesh surface — these extend the
engine along the LLM/web-pipeline and geometry axes the brief names
as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# pack_chunks: documents are concatenated in doc_id order and cut into
# C-token chunks. Offsets via the two-phase scan:
#   bucket   = doc_id div BUCKET_SPAN   (range bucketing preserves the
#              global doc_id order across buckets)
#   intra    = running sum of n_tok within the bucket (parallel window)
#   bucket_off = exclusive prefix over per-bucket totals (a window on a
#              #buckets-row frame — corpus_size / BUCKET_SPAN rows; at
#              10^12 docs pick BUCKET_SPAN so this stays small or
#              recurse the same construction one level)
#   off      = bucket_off + intra - n_tok      (exclusive global offset)
# Each doc then covers chunks off div C .. (off+n-1) div C; the
# per-chunk contribution is a bounded explode (fan-out = n_tok/C + 1,
# never corpus-sized), and the only corpus-scale shuffles are the
# bucket window and the final chunk-keyed aggregate.

_PACK_C = 256  # tokens per training chunk
_PACK_SPAN = 64  # doc_ids per scan bucket


def _q_pack_chunks(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    d = d.withColumn("bucket", F.expr(f"doc_id div {_PACK_SPAN}"))
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("intra", F.sum("n_tok").over(w_intra))
    totals = d.groupBy("bucket").agg(F.sum("n_tok").alias("btot"))
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = totals.withColumn(
        "bucket_off", F.sum("btot").over(w_b) - F.col("btot")
    ).select("bucket", "bucket_off")
    d = d.join(F.broadcast(offs), "bucket").withColumn(
        "off", F.col("bucket_off") + F.col("intra") - F.col("n_tok")
    )
    c = F.lit(_PACK_C)
    spans = d.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.expr(f"off div {_PACK_C}"),
                F.expr(f"(off + n_tok - 1) div {_PACK_C}"),
            )
        ),
    ).withColumn(
        "tok_here",
        F.least((F.col("chunk_id") + 1) * c, F.col("off") + F.col("n_tok"))
        - F.greatest(F.col("chunk_id") * c, F.col("off")),
    )
    return spans.groupBy("chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok_here").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("off") + F.col("n_tok") > (F.col("chunk_id") + 1) * c, 1
            ).otherwise(0)
        ).alias("n_spanning"),
    )


_PACK_SQL = f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), o AS (
      SELECT doc_id, n_tok,
             CAST(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS BIGINT) AS off
      FROM d
    ), spans AS (
      SELECT o.*, unnest(range(off // {_PACK_C},
                               (off + n_tok - 1) // {_PACK_C} + 1)) AS chunk_id
      FROM o
    )
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least((chunk_id + 1) * {_PACK_C}, off + n_tok)
               - greatest(chunk_id * {_PACK_C}, off)) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN off + n_tok > (chunk_id + 1) * {_PACK_C}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
    FROM spans GROUP BY chunk_id
    """

register(TEXT, "pack_chunks", _q_pack_chunks, _PACK_SQL)


# --------------------------------------------------------------------------
# acf_lags: Pearson autocorrelation of the per-user event value series
# at lags 1..3, ordered by (ts, event_id). Values quantized to exact
# cents (the cusum idiom), every moment sum an exact BIGINT (bounds:
# |cents| <= ~5e4, per-user n bounded, so n*Sxx <= ~1e14 << 2^63), and
# the final r is ONE double expression with the same operation order
# in both engines:  r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) *
# (n*Syy - Sy^2)), rounded to 4dp; NULL when either variance is 0.
# Shape: one keyed window (lead), one hash aggregate per lag, a 3-way
# union of per-lag frames — no joins, no Python.

_ACF_LAGS = (1, 2, 3)


def _q_acf_lags(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frames = []
    for k in _ACF_LAGS:
        pairs = e.withColumn("y", F.lead("x", k).over(w)).filter(
            F.col("y").isNotNull()
        )
        agg = pairs.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
        r = F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                4,
            ),
        )
        frames.append(
            agg.select(
                "user_id",
                F.lit(k).cast("long").alias("lag"),
                F.col("n").alias("n_pairs"),
                r.alias("r"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def _acf_sql() -> str:
    parts = []
    for k in _ACF_LAGS:
        parts.append(f"""
    SELECT user_id, CAST({k} AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN (count(*) * sum(x * x) - sum(x) * sum(x)) > 0
                 AND (count(*) * sum(y * y) - sum(y) * sum(y)) > 0
                THEN round(
                  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                  / sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
                         * CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)),
                  4)
           END AS r
    FROM (
      SELECT user_id, x,
             lead(x, {k}) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS y
      FROM (SELECT user_id, ts, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
            FROM events)
    ) WHERE y IS NOT NULL
    GROUP BY user_id""")
    return " UNION ALL ".join(parts)


register(TEXT, "acf_lags", _q_acf_lags, _acf_sql())


# --------------------------------------------------------------------------
# triangulate_mesh: fan triangulation of convex integer rings. Fixture:
# per group g, the closed convex parabola ring v_i = (i, (i - m)^2) for
# i = 0..2m, m = 3 + g%4 (CCW; the closing top edge runs from (2m, m^2)
# back to (0, m^2)). Fan from v_0: triangle t = (v_0, v_t, v_{t+1}),
# doubled signed area = cross(v_t - v_0, v_{t+1} - v_0) — an exact
# integer. The ring and the fan are built column-side from spark.range
# (transform over sequence), exploded with posexplode: pure Catalyst,
# zero Python, zero joins; sum(area2) over the fan equals the ring's
# shoelace area2 (pytest-pinned identity).

_TRI_GROUPS = 24


def _q_triangulate_mesh(spark, sf_dir):
    g = spark.range(_TRI_GROUPS).select(
        F.col("id").alias("group_id"), (3 + F.col("id") % 4).alias("m")
    )
    ring = F.transform(
        F.sequence(F.lit(0), F.col("m") * 2),
        lambda i: F.struct(
            i.cast("double").alias("x"),
            ((i - F.col("m")) * (i - F.col("m"))).cast("double").alias("y"),
        ),
    )
    def _v(t):  # 1-based ring lookup with the INT index element_at wants
        return F.element_at(F.col("ring"), t.cast("int"))

    tri_area2 = F.transform(
        # fan triangles t = 1 .. n-2 (0-based second vertex index)
        F.sequence(F.lit(1), F.col("m") * 2 - 1),
        lambda t: (
            (_v(t + 1).getField("x") - _v(F.lit(1)).getField("x"))
            * (_v(t + 2).getField("y") - _v(F.lit(1)).getField("y"))
            - (_v(t + 2).getField("x") - _v(F.lit(1)).getField("x"))
            * (_v(t + 1).getField("y") - _v(F.lit(1)).getField("y"))
        ),
    )
    return (
        g.withColumn("ring", ring)
        .withColumn("areas", tri_area2)
        .select("group_id", F.posexplode("areas").alias("tri_idx", "area2"))
        .select("group_id", F.col("tri_idx").cast("long").alias("tri_idx"), "area2")
    )


_TRI_SQL = f"""
    WITH g AS (
      SELECT gid AS group_id, 3 + gid % 4 AS m
      FROM (SELECT unnest(range({_TRI_GROUPS})) AS gid)
    ), tris AS (
      SELECT group_id, m, unnest(range(1, 2 * m)) AS t
      FROM g
    )
    SELECT group_id, CAST(t - 1 AS BIGINT) AS tri_idx,
           CAST(
             (t - 0) * (((t + 1) - m) * ((t + 1) - m) - m * m)
             - (t + 1) * ((t - m) * (t - m) - m * m)
           AS DOUBLE) AS area2
    FROM tris
    """

register(GEO, "triangulate_mesh", _q_triangulate_mesh, _TRI_SQL)
