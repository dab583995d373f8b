"""Round-5d registry batch: terrain raster operators (Horn hillshade,
overview pyramids, marching-squares contour extraction) and three
LLM-pipeline text stages (Kneser-Ney LM scoring, weighted corpus-mix
sampling, RAG chunking).

Same contract as every other batch: each query is (a) an idiomatic
Spark program over the driver's parquet tables and (b) a DuckDB oracle
with identical column names and arithmetic. The terrain fixtures share
one closed-form integer DEM derived from ``documents.doc_id`` (25-wide
grid, z in 0..96); float work is confined to correctly-rounded IEEE
ops (sqrt, /, floor — bit-identical across engines from the identical
expression tree; see operators/terrain.py) plus the lm_score-style
round-4dp rule for the one ln() aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# Shared integer DEM grid: doc_id -> (gx, gy) on a 25-wide grid with a
# closed-form surface z in 0..96. Pure integer arithmetic, exact on
# both engines; the oracle rebuilds neighborhoods by JOIN (not by
# re-evaluating the formula at offsets) so cell existence mirrors the
# table exactly at any scale factor.

_GRID_W = 25

_DEM_CELLS_SQL = f"""
    SELECT doc_id % {_GRID_W} AS gx,
           doc_id // {_GRID_W} AS gy,
           (3 * (doc_id % {_GRID_W}) + 5 * (doc_id // {_GRID_W})
            + ((doc_id % {_GRID_W}) * (doc_id // {_GRID_W})) % 7
            + ((doc_id % {_GRID_W}) * (doc_id % {_GRID_W})) % 11) % 97 AS elev
    FROM documents
"""


def _dem_cells(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    gx = F.col("doc_id") % _GRID_W
    gy = F.floor(F.col("doc_id") / _GRID_W).cast("long")
    return d.select(
        gx.alias("gx"),
        gy.alias("gy"),
        (
            (
                F.lit(3) * gx
                + F.lit(5) * gy
                + (gx * gy) % 7
                + (gx * gx) % 11
            )
            % 97
        ).alias("elev"),
    )


# --------------------------------------------------------------------------
# Horn hillshade + aspect octant (operators/terrain.py): one
# neighbor-key shuffle join, kernel folded into two weighted sums; the
# sun vector is integer so shade needs only sqrt//floor — every op
# correctly rounded, hence bit-identical doubles on both engines, no
# trig discretization slack.


def _q_hillshade(spark, sf_dir):
    from .operators.terrain import hillshade_cells

    return hillshade_cells(_dem_cells(spark, sf_dir))


def _hillshade_sql() -> str:
    from .operators.terrain import hillshade_sql, octant_sql

    return f"""
    WITH cells AS ({_DEM_CELLS_SQL}),
    nb AS (
        SELECT c.gx AS gx, c.gy AS gy,
               CAST(sum((n.gx - c.gx) * (2 - abs(n.gy - c.gy)) * n.elev)
                    AS BIGINT) AS dzdx8,
               CAST(sum((n.gy - c.gy) * (2 - abs(n.gx - c.gx)) * n.elev)
                    AS BIGINT) AS dzdy8,
               count(*) AS n
        FROM cells c
        JOIN cells n
          ON n.gx BETWEEN c.gx - 1 AND c.gx + 1
         AND n.gy BETWEEN c.gy - 1 AND c.gy + 1
         AND NOT (n.gx = c.gx AND n.gy = c.gy)
        GROUP BY c.gx, c.gy
    )
    SELECT gx, gy, dzdx8, dzdy8,
           dzdx8 * dzdx8 + dzdy8 * dzdy8 AS slope_sq,
           CAST(({octant_sql('dzdx8', 'dzdy8')}) AS INT) AS octant,
           {hillshade_sql('dzdx8', 'dzdy8')} AS shade_micro
    FROM nb WHERE n = 8
    """


register(GEO, "hillshade_stats", _q_hillshade, _hillshade_sql())


# --------------------------------------------------------------------------
# Overview pyramid (operators/terrain.py): levels 1-3 of 2x-block
# reductions carrying BIGINT-exact sum/cnt/min/max. Spark computes the
# pyramid HIERARCHICALLY (level L reduces level L-1 — at 10^12 cells
# the naive per-level base rescan reads the table L times); the oracle
# reduces the base directly per level, which must agree exactly since
# integer sum/min/max compose.


def _q_overviews(spark, sf_dir):
    from .operators.terrain import overview_pyramid

    return overview_pyramid(_dem_cells(spark, sf_dir), levels=3)


_OVR_LEVEL_SQL = """
        SELECT CAST({lvl} AS INT) AS lvl,
               gx // {blk} AS gx, gy // {blk} AS gy,
               CAST(sum(elev) AS BIGINT) AS z_sum,
               count(*) AS z_cnt,
               min(elev) AS z_min, max(elev) AS z_max
        FROM cells GROUP BY gx // {blk}, gy // {blk}
"""

register(
    GEO,
    "raster_overviews",
    _q_overviews,
    f"""
    WITH cells AS ({_DEM_CELLS_SQL})
    {_OVR_LEVEL_SQL.format(lvl=1, blk=2)}
    UNION ALL {_OVR_LEVEL_SQL.format(lvl=2, blk=4)}
    UNION ALL {_OVR_LEVEL_SQL.format(lvl=3, blk=8)}
    """,
)


# --------------------------------------------------------------------------
# Marching-squares contour extraction at z = 48 (operators/terrain.py)
# — full raster->vector isolines (the reference only vectorizes
# footprints). Segment endpoints are linear interpolations along
# crossed edges, emitted as floor(1000 * coord): the single division
# is correctly rounded, so the milli-coordinates are engine-exact.

_CONTOUR_T = 48


def _q_contours(spark, sf_dir):
    from .operators.terrain import contour_segments

    return contour_segments(_dem_cells(spark, sf_dir), _CONTOUR_T)


def _contour_sql() -> str:
    t = _CONTOUR_T
    # seg 0 edge pairs per case (operators/terrain.py CASE_SEGMENTS)
    e1_0 = {1: 3, 2: 0, 3: 3, 4: 1, 5: 3, 6: 0, 7: 3, 8: 2, 9: 0, 10: 0,
            11: 1, 12: 3, 13: 0, 14: 3}
    e2_0 = {1: 0, 2: 1, 3: 1, 4: 2, 5: 0, 6: 2, 7: 2, 8: 3, 9: 2, 10: 1,
            11: 2, 12: 1, 13: 1, 14: 0}

    def case_expr(m):
        arms = " ".join(f"WHEN {k} THEN {v}" for k, v in m.items())
        return f"CASE ms_case {arms} END"

    def coord(axis, e):
        # edge crossing coordinate, same op tree as the Spark column:
        # gx_double + (T_double - za_double) / CAST(zb - za AS DOUBLE)
        exprs = {
            ("x", 0): f"CAST(gx AS DOUBLE) + ({t}.0 - CAST(z00 AS DOUBLE))"
                      " / CAST(z10 - z00 AS DOUBLE)",
            ("x", 1): "CAST(gx AS DOUBLE) + 1.0",
            ("x", 2): f"CAST(gx AS DOUBLE) + ({t}.0 - CAST(z01 AS DOUBLE))"
                      " / CAST(z11 - z01 AS DOUBLE)",
            ("x", 3): "CAST(gx AS DOUBLE)",
            ("y", 0): "CAST(gy AS DOUBLE)",
            ("y", 1): f"CAST(gy AS DOUBLE) + ({t}.0 - CAST(z10 AS DOUBLE))"
                      " / CAST(z11 - z10 AS DOUBLE)",
            ("y", 2): "CAST(gy AS DOUBLE) + 1.0",
            ("y", 3): f"CAST(gy AS DOUBLE) + ({t}.0 - CAST(z00 AS DOUBLE))"
                      " / CAST(z01 - z00 AS DOUBLE)",
        }
        return exprs[(axis, e)]

    def mil(axis, edge_sel):
        arms = " ".join(
            f"WHEN {e} THEN CAST(floor(1000.0 * ({coord(axis, e)})) AS BIGINT)"
            for e in range(4)
        )
        return f"CASE {edge_sel} {arms} END"

    seg0_cases = ",".join(str(c) for c in sorted(e1_0))
    return f"""
    WITH cells AS ({_DEM_CELLS_SQL}),
    sq AS (
        SELECT c.gx AS gx, c.gy AS gy, c.elev AS z00, r.elev AS z10,
               u.elev AS z01, d.elev AS z11
        FROM cells c
        JOIN cells r ON r.gx = c.gx + 1 AND r.gy = c.gy
        JOIN cells u ON u.gx = c.gx AND u.gy = c.gy + 1
        JOIN cells d ON d.gx = c.gx + 1 AND d.gy = c.gy + 1
    ),
    cased AS (
        SELECT *, CAST(
            (CASE WHEN z00 >= {t} THEN 1 ELSE 0 END)
            + 2 * (CASE WHEN z10 >= {t} THEN 1 ELSE 0 END)
            + 4 * (CASE WHEN z11 >= {t} THEN 1 ELSE 0 END)
            + 8 * (CASE WHEN z01 >= {t} THEN 1 ELSE 0 END) AS INT) AS ms_case
        FROM sq
    ),
    segs AS (
        SELECT gx, gy, ms_case, z00, z10, z01, z11,
               CAST(0 AS INT) AS seg_idx,
               CAST({case_expr(e1_0)} AS INT) AS e1,
               CAST({case_expr(e2_0)} AS INT) AS e2
        FROM cased WHERE ms_case IN ({seg0_cases})
        UNION ALL
        SELECT gx, gy, ms_case, z00, z10, z01, z11,
               CAST(1 AS INT) AS seg_idx,
               CAST(CASE ms_case WHEN 5 THEN 1 WHEN 10 THEN 2 END AS INT)
                 AS e1,
               CAST(CASE ms_case WHEN 5 THEN 2 WHEN 10 THEN 3 END AS INT)
                 AS e2
        FROM cased WHERE ms_case IN (5, 10)
    )
    SELECT gx, gy, ms_case, seg_idx, e1, e2,
           {mil('x', 'e1')} AS x1_mil,
           {mil('y', 'e1')} AS y1_mil,
           {mil('x', 'e2')} AS x2_mil,
           {mil('y', 'e2')} AS y2_mil
    FROM segs
    """


register(GEO, "contour_segments", _q_contours, _contour_sql())


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring (the production LM-filter
# smoothing, vs lm_score's add-one): discount D = 0.75 (exactly
# representable), continuation probability from bigram-type counts.
# P(w2|w1) = (max(c12 - D, 0) + D * n1f(w1) * (n1b(w2) / T)) / c1
# with n1f = distinct followers of w1, n1b = distinct predecessors of
# w2, T = total distinct bigram types. All counts integer-exact; the
# per-doc mean of ln() terms rounds to 4dp (lm_score's float rule).


def _q_kneser_ney(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
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
    fwd = bc.groupBy("w1").agg(F.count(F.lit(1)).alias("n1f"))
    back = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    types = bc.agg(F.count(F.lit(1)).alias("tt"))
    p = (
        F.greatest(F.col("c2") - F.lit(0.75), F.lit(0.0))
        + F.lit(0.75) * F.col("n1f") * (F.col("n1b") / F.col("tt"))
    ) / F.col("c1")
    scored = (
        bi.join(bc, ["w1", "w2"])
        .join(ctx, "w1")
        .join(fwd, "w1")
        .join(back, "w2")
        .crossJoin(types)
        .withColumn("logp", F.log(p))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("logp") / F.count(F.lit(1)), 4).alias("avg_logprob"),
    )


register(
    TEXT,
    "kneser_ney_score",
    _q_kneser_ney,
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bi0 AS (
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
    ), fwd AS (
        SELECT w1, count(*) AS n1f FROM bc GROUP BY w1
    ), back AS (
        SELECT w2, count(*) AS n1b FROM bc GROUP BY w2
    ), types AS (
        SELECT count(*) AS tt FROM bc
    )
    SELECT bi.doc_id,
           count(*) AS n_bigrams,
           round(sum(ln((greatest(bc.c2 - 0.75, 0.0)
                         + 0.75 * fwd.n1f * (back.n1b / types.tt))
                        / ctx.c1)) / count(*), 4) AS avg_logprob
    FROM bi
    JOIN bc ON bc.w1 = bi.w1 AND bc.w2 = bi.w2
    JOIN ctx ON ctx.w1 = bi.w1
    JOIN fwd ON fwd.w1 = bi.w1
    JOIN back ON back.w2 = bi.w2
    CROSS JOIN types
    GROUP BY bi.doc_id
    """,
)


# --------------------------------------------------------------------------
# Weighted corpus-mix sampling (priority sampling, Duffield et al.):
# per-language mix weights, deterministic hash uniform u, keep the
# k = 200 docs with the smallest u / w. The Spark plan is
# sort-limit -> TakeOrderedAndProject (per-partition top-k + driver
# merge of k rows), NOT a single-partition global window — the 100 TB
# shape. The one division is correctly rounded -> identical order on
# both engines; doc_id breaks exact rational ties.

_MIX_K = 200
_MIX_W = "CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 4 WHEN 'es' THEN 3 WHEN 'de' THEN 2 ELSE 1 END"


def _q_weighted_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "en", 5)
        .when(F.col("lang") == "zh", 4)
        .when(F.col("lang") == "es", 3)
        .when(F.col("lang") == "de", 2)
        .otherwise(1)
    )
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1000003)
    wd = d.select(
        "doc_id",
        "lang",
        u.alias("u"),
        w.cast("long").alias("w"),
    ).withColumn("pr", F.col("u").cast("double") / F.col("w"))
    return (
        wd.orderBy("pr", "doc_id")
        .limit(_MIX_K)
        .select(
            "doc_id",
            "lang",
            "u",
            "w",
            F.floor(F.lit(1000000.0) * F.col("pr")).cast("long").alias("pr_micro"),
        )
    )


register(
    TEXT,
    "weighted_sample_mix",
    _q_weighted_sample,
    f"""
    WITH wdocs AS (
        SELECT doc_id, lang,
               (doc_id * 2654435761) % 1000003 AS u,
               CAST({_MIX_W} AS BIGINT) AS w
        FROM documents
    ), ranked AS (
        SELECT *, CAST(u AS DOUBLE) / w AS pr,
               row_number() OVER (ORDER BY CAST(u AS DOUBLE) / w, doc_id)
                 AS rk
        FROM wdocs
    )
    SELECT doc_id, lang, u, w,
           CAST(floor(1000000.0 * pr) AS BIGINT) AS pr_micro
    FROM ranked WHERE rk <= {_MIX_K}
    """,
)


# --------------------------------------------------------------------------
# RAG chunking: overlapping token windows (size 40, stride 30) with a
# per-chunk content sha — the retrieval-corpus prep stage. Pure
# Catalyst (sequence of window starts -> explode -> slice); the oracle
# replays it with list_slice. sha256 hex agrees across engines.

_CHUNK_W, _CHUNK_S = 40, 30


def _q_text_chunks(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(0), F.size("t") - F.lit(1), F.lit(_CHUNK_S))
        ).alias("start"),
    )
    chunk = F.slice(F.col("t"), F.col("start") + 1, _CHUNK_W)
    return starts.select(
        "doc_id",
        F.expr(f"start div {_CHUNK_S}").cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.element_at(chunk, 1).alias("first_tok"),
        F.element_at(chunk, F.size(chunk)).alias("last_tok"),
        F.sha2(F.array_join(chunk, " "), 256).alias("chunk_sha"),
    )


register(
    TEXT,
    "text_chunks",
    _q_text_chunks,
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), starts AS (
        SELECT doc_id, t,
               unnest(range(0, greatest(len(t), 1), {_CHUNK_S})) AS start
        FROM toks
    ), chunks AS (
        SELECT doc_id, start,
               list_slice(t, start + 1, start + {_CHUNK_W}) AS c
        FROM starts
    )
    SELECT doc_id,
           start // {_CHUNK_S} AS chunk_idx,
           CAST(len(c) AS INT) AS n_tokens,
           c[1] AS first_tok,
           c[len(c)] AS last_tok,
           sha256(array_to_string(c, ' ')) AS chunk_sha
    FROM chunks
    """,
)


# --------------------------------------------------------------------------
# Map matching (operators/mapmatch.py): snap each geotagged page to the
# nearest road segment within R = 800 grid meters. Grid candidate join
# (segments explode to R-expanded-bbox cells, one shuffled-hash
# equi-join), exact rational refine (num/len2 BIGINTs), argmin by the
# correctly-rounded double num/len2 with seg_id tiebreak — the oracle
# replays the identical arithmetic over the brute-force pair set.

_SNAP_R = 800
_SNAP_NSEG = 80


def _snap_segments(spark):
    s = F.col("id")
    return spark.range(_SNAP_NSEG).select(
        s.alias("seg_id"),
        ((s * 2711) % 9001).alias("x1"),
        ((s * 3571) % 9001).alias("y1"),
        ((s * 2711) % 9001 + 500 + (s * 97) % 1500).alias("x2"),
        ((s * 3571) % 9001 + (s * 131) % 2400 - 1200).alias("y2"),
    )


def _q_snap_points(spark, sf_dir):
    from .operators.mapmatch import snap_to_segments

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        F.col("doc_id").alias("p_id"),
        ((F.col("doc_id") * 7919) % 10001).alias("px"),
        ((F.col("doc_id") * 104729) % 10001).alias("py"),
    )
    return snap_to_segments(pts, _snap_segments(spark), _SNAP_R)


register(
    GEO,
    "snap_points",
    _q_snap_points,
    f"""
    WITH pts AS (
        SELECT doc_id AS p_id,
               (doc_id * 7919) % 10001 AS px,
               (doc_id * 104729) % 10001 AS py
        FROM documents
    ), segs AS (
        SELECT s AS seg_id,
               (s * 2711) % 9001 AS x1, (s * 3571) % 9001 AS y1,
               (s * 2711) % 9001 + 500 + (s * 97) % 1500 AS x2,
               (s * 3571) % 9001 + (s * 131) % 2400 - 1200 AS y2
        FROM range(0, {_SNAP_NSEG}) t(s)
    ), cand AS (
        SELECT p.p_id, s.seg_id, s.x1, s.y1, s.x2, s.y2,
               (s.x2 - s.x1) * (s.x2 - s.x1)
                 + (s.y2 - s.y1) * (s.y2 - s.y1) AS len2,
               (p.px - s.x1) * (s.x2 - s.x1)
                 + (p.py - s.y1) * (s.y2 - s.y1) AS dot,
               (p.px - s.x1) * (p.px - s.x1)
                 + (p.py - s.y1) * (p.py - s.y1) AS w2,
               (p.px - s.x2) * (p.px - s.x2)
                 + (p.py - s.y2) * (p.py - s.y2) AS v2
        FROM pts p CROSS JOIN segs s
    ), hits AS (
        SELECT *,
               CASE WHEN dot <= 0 THEN w2 * len2
                    WHEN dot >= len2 THEN v2 * len2
                    ELSE w2 * len2 - dot * dot END AS num,
               greatest(0, least(dot, len2)) AS tcl
        FROM cand
    ), filt AS (
        SELECT *, CAST(num AS DOUBLE) / CAST(len2 AS DOUBLE) AS d2d
        FROM hits WHERE num <= {_SNAP_R * _SNAP_R} * len2
    ), best AS (
        SELECT *, row_number() OVER (PARTITION BY p_id
                                     ORDER BY d2d, seg_id) AS rk
        FROM filt
    )
    SELECT p_id, seg_id,
           CAST(floor(1000000.0 * d2d) AS BIGINT) AS d2_micro,
           CAST(floor(1000000.0 * (CAST(tcl AS DOUBLE)
                                   / CAST(len2 AS DOUBLE))) AS BIGINT)
             AS t_micro,
           CAST(floor(1000.0 * (CAST(x1 AS DOUBLE)
                 + (CAST(tcl AS DOUBLE) / CAST(len2 AS DOUBLE))
                   * CAST(x2 - x1 AS DOUBLE))) AS BIGINT) AS sx_mil,
           CAST(floor(1000.0 * (CAST(y1 AS DOUBLE)
                 + (CAST(tcl AS DOUBLE) / CAST(len2 AS DOUBLE))
                   * CAST(y2 - y1 AS DOUBLE))) AS BIGINT) AS sy_mil
    FROM best WHERE rk = 1
    """,
)


# --------------------------------------------------------------------------
# Geodesic polygon area (geo/sphere.py): Chamberlain-Duquette spherical
# shoelace over pos-ordered milli-degree rings — 40 rectangle-perimeter
# rings (8 vertices each) derived from ring_id arithmetic. One groupBy,
# left-assoc ordered term sum (the IDW rule), floor whole square
# meters; the oracle replays the identical trig expression tree.


def _q_geodesic_area(spark, sf_dir):
    from .geo.sphere import spherical_ring_area

    d = _t(spark, sf_dir, "documents")
    r = F.col("r")
    par = (
        d.select((F.col("doc_id") % 40).alias("r"))
        .distinct()
        .select(
            "r",
            (F.lit(20000) + (r * 997) % 30000).alias("phs"),
            (F.lit(1000) + F.lit(2) * ((r * 131) % 2000)).alias("h"),
            (F.lit(-120000) + (r * 7919) % 60000).alias("lw"),
            (F.lit(1000) + F.lit(2) * ((r * 211) % 2500)).alias("wd"),
        )
    )
    v = par.select(
        F.col("r").alias("ring_id"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("pos"),
        "phs", "h", "lw", "wd",
    )
    p = F.col("pos")
    lat = (
        F.when(p <= 2, F.col("phs"))
        .when((p == 3) | (p == 7), F.col("phs") + F.expr("h div 2"))
        .otherwise(F.col("phs") + F.col("h"))
    )
    lon = (
        F.when((p == 0) | (p == 6) | (p == 7), F.col("lw"))
        .when((p == 1) | (p == 5), F.col("lw") + F.expr("wd div 2"))
        .otherwise(F.col("lw") + F.col("wd"))
    )
    rings = v.select(
        "ring_id", "pos", lat.alias("lat_md"), lon.alias("lon_md")
    )
    return spherical_ring_area(rings)


def _geodesic_area_sql() -> str:
    from .geo.sphere import spherical_ring_area_sql_terms

    return f"""
    WITH rid AS (SELECT DISTINCT doc_id % 40 AS r FROM documents),
    par AS (
        SELECT r, 20000 + (r * 997) % 30000 AS phs,
               1000 + 2 * ((r * 131) % 2000) AS h,
               -120000 + (r * 7919) % 60000 AS lw,
               1000 + 2 * ((r * 211) % 2500) AS wd
        FROM rid
    ), verts AS (
        SELECT r AS ring_id, p AS pos,
               CASE WHEN p <= 2 THEN phs
                    WHEN p = 3 OR p = 7 THEN phs + h // 2
                    ELSE phs + h END AS lat_md,
               CASE WHEN p = 0 OR p = 6 OR p = 7 THEN lw
                    WHEN p = 1 OR p = 5 THEN lw + wd // 2
                    ELSE lw + wd END AS lon_md
        FROM par, range(0, 8) t(p)
    ), g AS (
        SELECT ring_id,
               list_sort(list(struct_pack(pos := pos, lat_md := lat_md,
                                          lon_md := lon_md))) AS vs
        FROM verts GROUP BY ring_id
    )
    SELECT ring_id, CAST(len(vs) AS BIGINT) AS n_vertices,
           {spherical_ring_area_sql_terms('vs')} AS area_floor_sqm
    FROM g
    """


register(GEO, "geodesic_area", _q_geodesic_area, _geodesic_area_sql())


# --------------------------------------------------------------------------
# Streaming windowed top-k (hot users per day): the production
# two-stage shape — a continuous streaming aggregation (counts per
# day/user through the file-stream source, availableNow) materialized
# to the serving layer, then ranked there (ranking is not a streaming
# operator; the serving-side row_number over the ALREADY-REDUCED
# aggregate is the 100 TB pattern). Batch-parity oracle.


def _q_stream_topk(spark, sf_dir):
    import os
    import uuid

    from pyspark.sql import Window

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = _fresh_dir("stream_topk_src_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    agg = (
        stream.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"stream_topk_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        spark.table(name)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("day", "user_id", "n", F.col("rnk").cast("long").alias("rnk"))
    )


register(
    TEXT,
    "stream_topk",
    _q_stream_topk,
    """
    WITH c AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, count(*) AS n
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY day
                                     ORDER BY n DESC, user_id) AS rnk
        FROM c
    )
    SELECT day, user_id, n, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3
    """,
)


# --------------------------------------------------------------------------
# DEM hillshade THROUGH THE REAL PNG DECODE PATH (codecs x terrain
# integration, the dem_slope_stats pattern): synthesize an elevation
# tile per doc, encode with the from-scratch PNG codec, decode it back,
# and run the Horn kernel vectorized in the Arrow batch. Per-doc
# outputs are integer (max slope_sq, count of steep interior cells), so
# parity is exact; the oracle recomputes the surface arithmetic at the
# 8 closed-form neighbor offsets — proof that real decoded bytes feed
# the terrain kernel.

_DHS_STEEP = 512


def _q_dem_hillshade_stats(spark, sf_dir):
    import pandas as _pd

    from .functions import codecs as C

    d = _t(spark, sf_dir, "documents")

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 9 + did % 5
                h = 9 + did % 3
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
                # Horn 8x derivatives on the interior (vectorized slices;
                # gy is the ROW axis here, increasing "north")
                c_, f_, i_ = z[2:, 2:], z[1:-1, 2:], z[:-2, 2:]
                a_, d_, g_ = z[2:, :-2], z[1:-1, :-2], z[:-2, :-2]
                b_, h_ = z[2:, 1:-1], z[:-2, 1:-1]
                dzdx8 = (c_ + 2 * f_ + i_) - (a_ + 2 * d_ + g_)
                dzdy8 = (a_ + 2 * b_ + c_) - (g_ + 2 * h_ + i_)
                s2 = dzdx8 * dzdx8 + dzdy8 * dzdy8
                rows.append(
                    (
                        int(did),
                        int(z.shape[1]),
                        int(z.shape[0]),
                        int(s2.size),
                        int(s2.max()),
                        int((s2 >= _DHS_STEEP).sum()),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["doc_id", "w", "h", "n_interior", "max_slope_sq",
                         "steep_cells"],
            )

    return payloads.mapInPandas(
        stats,
        schema=(
            "doc_id long, w int, h int, n_interior long, max_slope_sq long, "
            "steep_cells long"
        ),
    )


def _dem_hillshade_sql() -> str:
    # z at closed-form offsets; the Horn kernel inlined per neighbor
    def z(dx, dy):
        xx = f"(t1.x + {dx})" if dx else "t1.x"
        yy = f"(t2.y + {dy})" if dy else "t2.y"
        return (f"(3 * {xx} + 5 * {yy} + ({xx} * {yy}) % 7 + d.doc_id) % 256")

    dzdx8 = (
        f"(({z(1,1)}) + 2 * ({z(1,0)}) + ({z(1,-1)}))"
        f" - (({z(-1,1)}) + 2 * ({z(-1,0)}) + ({z(-1,-1)}))"
    )
    dzdy8 = (
        f"(({z(-1,1)}) + 2 * ({z(0,1)}) + ({z(1,1)}))"
        f" - (({z(-1,-1)}) + 2 * ({z(0,-1)}) + ({z(1,-1)}))"
    )
    return f"""
    WITH dims AS (
        SELECT doc_id, 9 + doc_id % 5 AS w, 9 + doc_id % 3 AS h
        FROM documents
    ), s AS (
        SELECT d.doc_id, d.w, d.h,
               ({dzdx8}) * ({dzdx8}) + ({dzdy8}) * ({dzdy8}) AS s2
        FROM dims d, range(0, 14) t1(x), range(0, 12) t2(y)
        WHERE t1.x >= 1 AND t1.x < d.w - 1 AND t2.y >= 1 AND t2.y < d.h - 1
    )
    SELECT doc_id, CAST(max(w) AS INTEGER) AS w, CAST(max(h) AS INTEGER) AS h,
           count(*) AS n_interior,
           CAST(max(s2) AS BIGINT) AS max_slope_sq,
           CAST(sum(CASE WHEN s2 >= {_DHS_STEEP} THEN 1 ELSE 0 END) AS BIGINT)
             AS steep_cells
    FROM s GROUP BY doc_id
    """


register(TEXT, "dem_hillshade_stats", _q_dem_hillshade_stats,
          _dem_hillshade_sql())


# --------------------------------------------------------------------------
# Trajectory resampling (operators/interpolate.py): a point every 500
# units of arc length along each pos-ordered track. Cumulative lengths
# are left-assoc folds of PREFIX SLICES of the segment-length list on
# both engines (list_sum([]) is NULL in DuckDB, hence the coalesce),
# so segment selection and the interpolation parameter are
# bit-identical.

_RS_SP = 500


def _q_resample_traj(spark, sf_dir):
    from .operators.interpolate import resample_polyline

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        (F.col("doc_id") % 20).alias("traj_id"),
        F.floor(F.col("doc_id") / 20).cast("long").alias("pos"),
        (
            F.lit(100) * F.floor(F.col("doc_id") / 20).cast("long")
            + (F.col("doc_id") * 37) % 50
        ).alias("x"),
        ((F.col("doc_id") * 73) % 400).alias("y"),
    )
    return resample_polyline(pts, _RS_SP)


def _resample_sql() -> str:
    sp = float(_RS_SP)

    def cum(j):
        return f"coalesce(list_sum(list_slice(lens, 1, {j})), 0.0)"

    def coord(ax):
        return (
            f"CAST(floor(1000.0 * (CAST(vs[j + 1].{ax} AS DOUBLE)"
            f" + ((ksp - {cum('j')}) / lens[j + 1])"
            f" * CAST(vs[j + 2].{ax} - vs[j + 1].{ax} AS DOUBLE)))"
            " AS BIGINT)"
        )

    return f"""
    WITH p AS (
        SELECT doc_id % 20 AS traj_id, doc_id // 20 AS pos,
               100 * (doc_id // 20) + (doc_id * 37) % 50 AS x,
               (doc_id * 73) % 400 AS y
        FROM documents
    ), g0 AS (
        SELECT traj_id,
               list_sort(list(struct_pack(pos := pos, x := x, y := y))) AS vs
        FROM p GROUP BY traj_id
    ), g AS (
        SELECT traj_id, vs,
               list_transform(range(0, len(vs) - 1), i ->
                   sqrt(CAST((vs[i + 2].x - vs[i + 1].x)
                               * (vs[i + 2].x - vs[i + 1].x)
                             + (vs[i + 2].y - vs[i + 1].y)
                               * (vs[i + 2].y - vs[i + 1].y) AS DOUBLE))
               ) AS lens
        FROM g0 WHERE len(vs) >= 2
    ), tot AS (
        SELECT *, list_sum(lens) AS total FROM g
    ), s AS (
        SELECT traj_id, vs, lens,
               unnest(range(0, CAST(floor(total / {sp!r}) AS INT) + 1)) AS k
        FROM tot
    ), sj AS (
        SELECT *, CAST(k AS DOUBLE) * {sp!r} AS ksp,
               len(list_filter(range(0, len(lens)), i ->
                   coalesce(list_sum(list_slice(lens, 1, i)), 0.0)
                     <= CAST(k AS DOUBLE) * {sp!r})) - 1 AS j
        FROM s
    )
    SELECT traj_id, CAST(k AS BIGINT) AS k, CAST(j AS BIGINT) AS seg_idx,
           {coord('x')} AS sx_mil,
           {coord('y')} AS sy_mil
    FROM sj
    """


register(GEO, "resample_traj", _q_resample_traj, _resample_sql())


# --------------------------------------------------------------------------
# Contour POLYGONIZATION (topology assembly): marching-squares segments
# -> closed isoline loops, composed from two verified pieces — the
# contour extractor and min-label connected components (path halving,
# operators/dedup.py). Segments sharing an exact milli-coordinate
# endpoint are edges; each component is one isoline; open_ends counts
# degree-1 endpoints (0 = closed loop; >0 = clipped at the grid edge).
# The oracle embeds the contour oracle and replays the closure as a
# recursive CTE (the dedup_clusters technique).

_EP_PACK = 1 << 22


def _q_contour_loops(spark, sf_dir):
    from .operators.dedup import min_label_components
    from .operators.terrain import contour_segments

    segs = contour_segments(_dem_cells(spark, sf_dir), _CONTOUR_T)
    sid = ((F.col("gx") * F.lit(1 << 21) + F.col("gy")) * 2 + F.col("seg_idx"))
    segs = segs.select(
        sid.alias("sid"), "x1_mil", "y1_mil", "x2_mil", "y2_mil"
    ).localCheckpoint(eager=True)  # components iterate; cut the lineage
    eps = segs.select(
        "sid", (F.col("x1_mil") * _EP_PACK + F.col("y1_mil")).alias("ep")
    ).unionByName(
        segs.select(
            "sid", (F.col("x2_mil") * _EP_PACK + F.col("y2_mil")).alias("ep")
        )
    )
    e1 = eps.select(F.col("sid").alias("a"), "ep")
    e2 = eps.select(F.col("sid").alias("b"), "ep")
    edges = (
        e1.hint("shuffle_hash")
        .join(e2, "ep")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    comp = min_label_components(segs.select(F.col("sid").alias("node")), edges)
    deg = eps.groupBy("ep").agg(F.count(F.lit(1)).alias("deg"))
    open_eps = (
        eps.join(deg.where(F.col("deg") == 1), "ep")
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    per_seg = comp.join(
        open_eps, comp.node == open_eps.sid, "left"
    ).select(
        F.col("label").alias("loop_id"),
        F.coalesce(F.col("n_open"), F.lit(0)).alias("n_open"),
    )
    return per_seg.groupBy("loop_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("n_open").cast("long").alias("open_ends"),
    )


def _contour_loops_sql() -> str:
    contour = _contour_sql()
    return f"""
    WITH RECURSIVE segs0 AS ({contour}),
    segs AS (
        SELECT (gx * {1 << 21} + gy) * 2 + seg_idx AS sid,
               x1_mil, y1_mil, x2_mil, y2_mil
        FROM segs0
    ),
    eps AS (
        SELECT sid, x1_mil * {_EP_PACK} + y1_mil AS ep FROM segs
        UNION ALL
        SELECT sid, x2_mil * {_EP_PACK} + y2_mil AS ep FROM segs
    ),
    edges0 AS (
        SELECT DISTINCT a.sid AS a, b.sid AS b
        FROM eps a JOIN eps b ON a.ep = b.ep AND a.sid < b.sid
    ),
    edges AS (
        SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND r.a != e.b
    ),
    lbl AS (
        SELECT s.sid,
               least(s.sid, coalesce(min(r.b), s.sid)) AS loop_id
        FROM segs s LEFT JOIN reach r ON r.a = s.sid
        GROUP BY s.sid
    ),
    deg AS (SELECT ep, count(*) AS deg FROM eps GROUP BY ep),
    open_eps AS (
        SELECT e.sid, count(*) AS n_open
        FROM eps e JOIN deg d ON d.ep = e.ep AND d.deg = 1
        GROUP BY e.sid
    )
    SELECT l.loop_id, count(*) AS n_segments,
           CAST(sum(coalesce(o.n_open, 0)) AS BIGINT) AS open_ends
    FROM lbl l LEFT JOIN open_eps o ON o.sid = l.sid
    GROUP BY l.loop_id
    """


register(GEO, "contour_loops", _q_contour_loops, _contour_loops_sql())


# --------------------------------------------------------------------------
# Ray viewshed (operators/terrain.py): line-of-sight visibility from
# the DEM grid's center cell along the 8 cardinal/diagonal rays —
# running-max occlusion with strict-greater visibility. Ray membership
# is a pure filter, the occlusion pass ONE window; max is associative
# so the running maximum is order-exact and the identically-windowed
# oracle is bit-identical.

_VS_OX, _VS_OY = 12, 10


def _q_viewshed(spark, sf_dir):
    from .operators.terrain import ray_viewshed

    return ray_viewshed(_dem_cells(spark, sf_dir), _VS_OX, _VS_OY)


register(
    GEO,
    "ray_viewshed",
    _q_viewshed,
    f"""
    WITH cells AS ({_DEM_CELLS_SQL}),
    z0 AS (SELECT elev AS z0 FROM cells WHERE gx = {_VS_OX} AND gy = {_VS_OY}),
    rays AS (
        SELECT CAST((CASE WHEN c.gx > {_VS_OX} THEN 1
                          WHEN c.gx < {_VS_OX} THEN -1 ELSE 0 END + 1) * 3
                    + (CASE WHEN c.gy > {_VS_OY} THEN 1
                            WHEN c.gy < {_VS_OY} THEN -1 ELSE 0 END + 1)
                    AS INT) AS ray,
               greatest(abs(c.gx - {_VS_OX}), abs(c.gy - {_VS_OY})) AS k,
               c.gx AS gx, c.gy AS gy,
               CAST(c.elev - z0.z0 AS DOUBLE)
                 / CAST(greatest(abs(c.gx - {_VS_OX}),
                                 abs(c.gy - {_VS_OY})) AS DOUBLE) AS angle
        FROM cells c CROSS JOIN z0
        WHERE NOT (c.gx = {_VS_OX} AND c.gy = {_VS_OY})
          AND (c.gx = {_VS_OX} OR c.gy = {_VS_OY}
               OR abs(c.gx - {_VS_OX}) = abs(c.gy - {_VS_OY}))
    )
    SELECT ray, k, gx, gy,
           CAST(floor(1000000.0 * angle) AS BIGINT) AS angle_micro,
           CASE WHEN max(angle) OVER (PARTITION BY ray ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL THEN TRUE
                ELSE angle > max(angle) OVER (PARTITION BY ray ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           END AS visible
    FROM rays
    """,
)
