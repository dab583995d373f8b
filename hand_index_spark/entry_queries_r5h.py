"""Round-5h registry batch — four new operator families:

- ``clip_to_tiles``: Sutherland-Hodgman polygon clipping to a tile
  grid, pure Catalyst (higher-order functions over vertex rings, zero
  UDFs, zero joins) — the per-tile clipped-footprint accounting a tile
  manifest builder needs (the reference walks raster footprints per
  tile when assembling its VRT manifests, load.py:94-141). The fixture
  footprints are integer rectangles so the clipped shoelace areas are
  bit-exact against a closed-form box-intersection oracle; the kernel
  itself is general (non-axis-aligned subjects pytest-proven).
- ``buffer_area``: polygon dilation (Minkowski sum with a square
  structuring element) — buffer each convex footprint by r, computed
  by actually CONSTRUCTING the dilated geometry (explode the 4 square
  corners per vertex, convex-hull the point cloud, shoelace it) and
  verified against the closed-form mixed-area identity
  ``area(P (+) K) = area(P) + r * perim_taxicab(P) + 4 r^2``.
- ``dsir_weights``: hashed-unigram importance weights for targeted
  data selection (DSIR, Xie et al. 2023, arXiv:2302.03169): per-doc
  mean log p_target/p_raw over 64 hash buckets, target = the corpus's
  'en' slice. The LLM-pipeline data-mixing stage between dedup and
  sampling; one explode + one 64-row broadcast join + one groupBy.
- ``label_prop_communities``: synchronous label propagation (2
  rounds, most-frequent-neighbor-label with smallest-label
  tie-break) over the same deterministic link graph as
  ``pagerank_links``/``hits_scores`` — community detection, the graph
  family's missing member next to components/k-core/PageRank/HITS.
  All-integer updates, so results are bit-exact on any partitioning.

Contract as every batch: identical column names and bit-identical
arithmetic (or the established round-4dp log slack) between the Spark
program and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# clip_to_tiles: deterministic integer rectangles (one per document,
# the "raster footprint" of the page's asset), exploded to the tiles
# of a 64-unit grid they touch, clipped to each tile's box with the
# general Sutherland-Hodgman kernel, then aggregated per tile. The
# explode fan-out is bounded by footprint extent / tile size (max 3x3
# tiles here), never by corpus size; the only shuffle is the final
# tile-keyed aggregation.

_TILE = 64


def _q_clip_to_tiles(spark, sf_dir):
    from .operators.clip import box_clip_area2

    d = _t(spark, sf_dir, "documents").select("doc_id")
    r = d.select(
        "doc_id",
        ((F.col("doc_id") * 73) % 1000).cast("double").alias("x1"),
        ((F.col("doc_id") * 131) % 1000).cast("double").alias("y1"),
        (8 + (F.col("doc_id") % 5) * 23).cast("double").alias("w"),
        (8 + ((F.col("doc_id") * 7) % 5) * 23).cast("double").alias("h"),
    ).select(
        "doc_id",
        "x1",
        "y1",
        (F.col("x1") + F.col("w")).alias("x2"),
        (F.col("y1") + F.col("h")).alias("y2"),
    )
    t = F.lit(float(_TILE))
    tiles = (
        r.withColumn(
            "tx",
            F.explode(
                F.sequence(
                    F.floor(F.col("x1") / t).cast("long"),
                    F.floor(F.col("x2") / t).cast("long"),
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    F.floor(F.col("y1") / t).cast("long"),
                    F.floor(F.col("y2") / t).cast("long"),
                )
            ),
        )
    )
    # rectangle dispatch (r6, VERDICT r5 item 5): the footprints here
    # are axis-aligned integer rectangles, so the clipped area has the
    # closed interval-intersection form — bit-identical to the
    # Sutherland-Hodgman fold in this integer regime (pinned in
    # tests/test_r6_kernel_fastpaths.py) and ~2 orders of magnitude
    # cheaper (codegen arithmetic vs interpreted HOF fold). General
    # polygon callers still use ring_area2(clip_to_box(...)).
    clipped = tiles.withColumn(
        "piece_area2",
        box_clip_area2(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
            F.col("tx").cast("double") * t,
            (F.col("tx") + 1).cast("double") * t,
            F.col("ty").cast("double") * t,
            (F.col("ty") + 1).cast("double") * t,
        ),
    )
    return (
        clipped.filter(F.col("piece_area2") > 0)
        .groupBy("tx", "ty")
        .agg(
            F.sum("piece_area2").alias("covered_area2"),
            F.count(F.lit(1)).alias("n_pieces"),
        )
    )


_CLIP_SQL = f"""
    WITH r AS (
      SELECT doc_id,
             CAST((doc_id * 73) % 1000 AS DOUBLE) AS x1,
             CAST((doc_id * 131) % 1000 AS DOUBLE) AS y1,
             CAST(8 + (doc_id % 5) * 23 AS DOUBLE) AS w,
             CAST(8 + ((doc_id * 7) % 5) * 23 AS DOUBLE) AS h
      FROM documents
    ), rect AS (
      SELECT doc_id, x1, y1, x1 + w AS x2, y1 + h AS y2 FROM r
    ), tx AS (
      SELECT rect.*, unnest(range(CAST(floor(x1 / {_TILE}) AS BIGINT),
                                  CAST(floor(x2 / {_TILE}) AS BIGINT) + 1)) AS tx
      FROM rect
    ), txy AS (
      SELECT tx.*, unnest(range(CAST(floor(y1 / {_TILE}) AS BIGINT),
                                CAST(floor(y2 / {_TILE}) AS BIGINT) + 1)) AS ty
      FROM tx
    ), pieces AS (
      SELECT tx, ty,
             2.0 * greatest(0.0, least(x2, (tx + 1) * {_TILE}.0)
                                 - greatest(x1, tx * {_TILE}.0))
                 * greatest(0.0, least(y2, (ty + 1) * {_TILE}.0)
                                 - greatest(y1, ty * {_TILE}.0)) AS piece_area2
      FROM txy
    )
    SELECT tx, ty, sum(piece_area2) AS covered_area2,
           CAST(count(*) AS BIGINT) AS n_pieces
    FROM pieces WHERE piece_area2 > 0
    GROUP BY tx, ty
    """

register(GEO, "clip_to_tiles", _q_clip_to_tiles, _CLIP_SQL)


# --------------------------------------------------------------------------
# buffer_area: Minkowski dilation of convex footprints with the square
# [-r, r]^2. Spark constructs the dilated polygon for real (4 shifted
# copies of every vertex, per-group convex hull, shoelace); the oracle
# is the mixed-area identity on the base ring — so the two sides agree
# only if the CONSTRUCTION is geometrically exact. All coordinates are
# integers, so every cross product and shoelace term is exact float64.

_BUF_GROUPS = 16
_BUF_R = 3


def _buffer_base_points(spark):
    rows = []
    for g in range(_BUF_GROUPS):
        m = 3 + g % 4
        for x in range(-m, m + 1):  # convex parabola ring: all on hull
            rows.append((g, float(x + m), float(x * x)))
    return spark.createDataFrame(rows, schema="group_id long, px double, py double")


def _q_buffer_area(spark, sf_dir):
    from .operators.hull import hull_stats

    pts = _buffer_base_points(spark)
    base = hull_stats(pts, "group_id", "px", "py").select(
        "group_id", F.col("hull_area2").alias("base_area2")
    )
    rr = float(_BUF_R)
    corners = F.array(
        *[
            F.struct(
                (F.col("px") + F.lit(sx * rr)).alias("px"),
                (F.col("py") + F.lit(sy * rr)).alias("py"),
            )
            for sx in (-1.0, 1.0)
            for sy in (-1.0, 1.0)
        ]
    )
    dilated = (
        pts.withColumn("c", F.explode(corners))
        .select("group_id", F.col("c.px").alias("px"), F.col("c.py").alias("py"))
    )
    buf = hull_stats(dilated, "group_id", "px", "py").select(
        "group_id", F.col("hull_area2").alias("buf_area2")
    )
    return base.join(buf, "group_id")


_BUFFER_SQL = f"""
    WITH g AS (SELECT unnest(range({_BUF_GROUPS})) AS gid),
    ring AS (
      SELECT gid, 3 + gid % 4 AS m,
             unnest(range(-(3 + gid % 4), 3 + gid % 4 + 1)) AS x
      FROM g
    ), pts AS (
      SELECT gid, x, CAST(x + m AS DOUBLE) AS hx, CAST(x * x AS DOUBLE) AS hy
      FROM ring
    ), ordered AS (
      SELECT gid, hx, hy,
        coalesce(lead(hx) OVER w, first_value(hx) OVER w) AS nx,
        coalesce(lead(hy) OVER w, first_value(hy) OVER w) AS ny
      FROM pts
      WINDOW w AS (PARTITION BY gid ORDER BY x)
    )
    SELECT gid AS group_id,
           sum(hx * ny - nx * hy) AS base_area2,
           sum(hx * ny - nx * hy)
             + 2.0 * {_BUF_R} * sum(abs(nx - hx) + abs(ny - hy))
             + 8.0 * {_BUF_R} * {_BUF_R} AS buf_area2
    FROM ordered GROUP BY gid
    """

register(GEO, "buffer_area", _q_buffer_area, _BUFFER_SQL)


# --------------------------------------------------------------------------
# dsir_weights: hashed-unigram importance weights (DSIR). Target
# distribution = the corpus's lang='en' docs, raw = all docs; features
# are the shared closed-form token hash folded into 64 buckets.
# Smoothed per-bucket probabilities, per-token log-ratio, per-doc
# mean. Shape: two 64-row count tables (broadcast), one token explode,
# one doc-keyed aggregate — the weights then feed weighted_sample_mix
# -style resampling downstream.

_DSIR_B = 64


def _q_dsir_weights(spark, sf_dir):
    from .operators.dedup import token_hash_col

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("b", token_hash_col(F.col("tok")) % F.lit(_DSIR_B))
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot_r = raw.agg(F.sum("cr").alias("tr"))
    tot_t = tgt.agg(F.sum("ct").alias("tt"))
    probs = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "b",
            F.log(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("tt") + _DSIR_B))
                / ((F.col("cr") + 1) / (F.col("tr") + _DSIR_B))
            ).alias("logratio"),
        )
    )
    # Signed-zero parity (VERDICT r5 item 1a): DuckDB's round() keeps
    # the sign of a tiny negative mean (-0.0) while Spark's round()
    # yields +0.0 — bitwise-different, value-equal, driver-hash-red.
    # The oracle SQL is frozen, so replicate DuckDB on the Spark side:
    # a mean that is negative before rounding and zero after it is
    # emitted as -0.0.
    mean = F.sum("logratio") / F.count(F.lit(1))
    rounded = F.round(mean, 4)
    avg_logweight = F.when(
        (rounded == F.lit(0.0)) & (mean < F.lit(0.0)), F.lit(-0.0)
    ).otherwise(rounded)
    return (
        toks.join(F.broadcast(probs), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            avg_logweight.alias("avg_logweight"),
        )
    )


_DSIR_SQL = f"""
    WITH toks AS (
      SELECT doc_id, lang,
             (((length(tok) * 2654435761
                + ascii(substr(tok, 1, 1)) * 65599
                + ascii(substr(tok, length(tok), 1)) * 97) % 1000003)
              % {_DSIR_B}) AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ), raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
    tgt AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
    tots AS (SELECT (SELECT sum(cr) FROM raw) AS tr,
                    (SELECT sum(ct) FROM tgt) AS tt),
    probs AS (
      SELECT raw.b,
             ln(((coalesce(tgt.ct, 0) + 1) / (tots.tt + {_DSIR_B}))
                / ((raw.cr + 1) / (tots.tr + {_DSIR_B}))) AS logratio
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(logratio) / count(*), 4) AS avg_logweight
    FROM toks JOIN probs ON toks.b = probs.b
    GROUP BY doc_id
    """

register(TEXT, "dsir_weights", _q_dsir_weights, _DSIR_SQL)


# --------------------------------------------------------------------------
# label_prop_communities: synchronous LPA over the symmetrized version
# of the deterministic 3-out link graph (same generator as
# pagerank_links / hits_scores). Per round each node takes the most
# frequent label among its neighbors, ties broken to the SMALLEST
# label (classic deterministic LPA). Two keyed equi-joins + two hash
# aggregates per round, label state checkpointed per round — the same
# scale shape as the PageRank/HITS loops; no broadcast of node state.

_LPA_ITERS = 2
_LPA_FANOUT = 3


def _q_label_prop(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n = d.count()
    nodes = d.select(F.col("doc_id").alias("node"))
    out_e = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(_LPA_FANOUT))).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n)
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
    )
    edges = (
        out_e.union(out_e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round
    )
    labels = nodes.withColumn("lbl", F.col("node"))
    for _ in range(_LPA_ITERS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax(c) with smallest-label tie-break, as one order-free
        # max over (count, -label) pairs — no window, no sort
        upd = (
            cnt.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select(F.col("v").alias("node"), (-F.col("m.nl")).alias("new_lbl"))
        )
        labels = (
            labels.join(upd, "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("lbl").alias("community"))


def _lpa_sql() -> str:
    js = ", ".join(str(j) for j in range(1, _LPA_FANOUT + 1))
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS node FROM documents),
    oute AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([{js}]) AS u(j)
        ) WHERE dst <> src
    ),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM oute
            UNION ALL SELECT dst AS src, src AS dst FROM oute
        )
    ),
    l0 AS (SELECT node, node AS lbl FROM nodes)"""
    parts = []
    for k in range(1, _LPA_ITERS + 1):
        parts.append(f""",
    c{k} AS (
        SELECT e.dst AS v, l{k - 1}.lbl, count(*) AS c
        FROM edges e JOIN l{k - 1} ON l{k - 1}.node = e.src
        GROUP BY e.dst, l{k - 1}.lbl
    ),
    m{k} AS (
        SELECT v AS node, lbl FROM c{k}
        QUALIFY row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) = 1
    ),
    l{k} AS (
        SELECT nodes.node, coalesce(m{k}.lbl, l{k - 1}.lbl) AS lbl
        FROM nodes
        JOIN l{k - 1} ON l{k - 1}.node = nodes.node
        LEFT JOIN m{k} ON m{k}.node = nodes.node
    )""")
    return (
        head
        + "".join(parts)
        + f"""
    SELECT node AS doc_id, lbl AS community FROM l{_LPA_ITERS}
    """
    )


register(TEXT, "label_prop_communities", _q_label_prop, _lpa_sql())
