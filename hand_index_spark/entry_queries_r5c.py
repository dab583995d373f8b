"""Round-5c registry batch: geodesic (haversine) band join, spec-exact
Web-Mercator quadkeys, triangle counting, weighted SSSP, IDW
interpolation, Moran's I spatial autocorrelation, sitemap extraction.

Same contract as every other batch: each query is (a) an idiomatic
Spark program over the driver's parquet tables and (b) a DuckDB oracle
with identical column names and arithmetic. All fixtures derive from
``documents.doc_id`` with pure integer arithmetic (exact on both
engines); float work enters only through the engine-wide
discretize-or-ordered-sum rules (geo/sphere.py, operators/
interpolate.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# Geodesic distance-band self-join (geo/sphere.py): all page pairs
# within R great-circle meters. Geotags are integer milli-degrees in a
# mid-latitude window (30-50 degN: inside the |lat| <= 60 cos bound).
# Spark runs the one-shuffle 3x3 lat/lon grid join; the oracle replays
# the O(n^2) definition with the identical haversine expression
# (floor-meter discretization on both sides — the trig ulp rule).

_GEO_RADIUS_M = 100_000


def _q_geodesic_band(spark, sf_dir):
    from .geo.sphere import geodesic_band_pairs

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") * 9176) % 20000 + 30000).alias("lat_md"),
        ((F.col("doc_id") * 30269) % 30000 - 15000).alias("lon_md"),
    )
    return geodesic_band_pairs(pts, "id", "lat_md", "lon_md", _GEO_RADIUS_M)


def _geodesic_band_sql() -> str:
    from .geo.sphere import haversine_floor_meters_sql

    hav = haversine_floor_meters_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
    WITH p AS (
      SELECT doc_id AS id,
             (doc_id * 9176) % 20000 + 30000 AS lat,
             (doc_id * 30269) % 30000 - 15000 AS lon
      FROM documents
    )
    SELECT a.id AS a_id, b.id AS b_id, {hav} AS meters
    FROM p a JOIN p b ON a.id < b.id
    WHERE {hav} <= {_GEO_RADIUS_M}
    """


register(GEO, "geodesic_band_join", _q_geodesic_band, _geodesic_band_sql())


# --------------------------------------------------------------------------
# Spec-exact Web-Mercator XYZ tile + Bing quadkey (geo/quadkey.py) at
# zoom 12 for every geotagged page. Unlike H3 the published spec is
# pure arithmetic, so this is pinned to independent spec vectors in
# tests/test_r5c_ops.py; the oracle recomputes tile and quadkey with
# the identical operation order.

_QK_ZOOM = 12


def _q_quadkey(spark, sf_dir):
    from .geo.quadkey import quadkey, tile_xy

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        "doc_id",
        ((F.col("doc_id") * 9176) % 160000 - 80000).alias("lat_md"),
        ((F.col("doc_id") * 30269) % 360000 - 180000).alias("lon_md"),
    )
    tx, ty = tile_xy(F.col("lat_md"), F.col("lon_md"), _QK_ZOOM)
    out = pts.select("doc_id", tx.alias("tx"), ty.alias("ty"))
    return out.select(
        "doc_id",
        "tx",
        "ty",
        quadkey(F.col("tx"), F.col("ty"), _QK_ZOOM).alias("quadkey"),
    )


def _quadkey_sql() -> str:
    from .geo.quadkey import quadkey_sql, tile_xy_sql

    tx, ty = tile_xy_sql(
        "(doc_id * 9176) % 160000 - 80000",
        "(doc_id * 30269) % 360000 - 180000",
        _QK_ZOOM,
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {tx} AS tx, {ty} AS ty FROM documents
    )
    SELECT doc_id, tx, ty, {quadkey_sql("tx", "ty", _QK_ZOOM)} AS quadkey
    FROM t
    """


register(GEO, "quadkey_encode", _q_quadkey, _quadkey_sql())


# --------------------------------------------------------------------------
# Per-node triangle counts (operators/graph.triangle_node_counts) over
# a link graph with a planted ring (every i-(i+1)-(i+2) closes a
# triangle) plus a hub node for skew. Spark uses the degree-ordered
# wedge join; the oracle replays the a<b<c three-way join definition.


def _q_triangles(spark, sf_dir):
    from .operators.graph import triangle_node_counts

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    ring = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2))).alias("s"),
        )
        .withColumn("dst", (F.col("src") + F.col("s")) % F.lit(n))
        .select("src", "dst")
    )
    hub = d.where(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("src"), F.lit(7).cast("long").alias("dst")
    )
    return triangle_node_counts(ring.union(hub))


_TRIANGLES_SQL = """
    WITH nn AS (SELECT count(*) AS n FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id + s) % (SELECT n FROM nn) AS dst
      FROM documents, unnest([1, 2]) AS u(s)
      UNION ALL
      SELECT doc_id AS src, 7 AS dst FROM documents WHERE doc_id % 97 = 3
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS u, e1.b AS v, e2.b AS w
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles
    FROM (
      SELECT u AS node FROM tri
      UNION ALL SELECT v AS node FROM tri
      UNION ALL SELECT w AS node FROM tri
    )
    GROUP BY node
    """

register(TEXT, "triangle_counts", _q_triangles, _TRIANGLES_SQL)


# --------------------------------------------------------------------------
# Weighted single-source-set shortest paths (operators/graph.
# sssp_rounds): 4 Bellman-Ford relaxation rounds over the deterministic
# link graph with integer weights, from the doc_id % 41 seed set. The
# oracle unrolls the same union+min recurrence one CTE per round, so
# the result is well-defined even where 4 rounds haven't converged.

_SSSP_ROUNDS = 4
_SSSP_SEED_MOD = 41


def _q_sssp(spark, sf_dir):
    from .operators.graph import sssp_rounds

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    edges = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(3))).alias("j"),
        )
        .withColumn(
            "dst", (F.col("src") * F.lit(31) + F.col("j") * F.lit(17)) % F.lit(n)
        )
        .filter(F.col("dst") != F.col("src"))
        .select("src", "dst")
        .distinct()
        .withColumn(
            "w", F.lit(1) + (F.col("src") * F.lit(7) + F.col("dst") * F.lit(11)) % F.lit(9)
        )
        .localCheckpoint(eager=True)
    )
    seeds = d.where(F.col("doc_id") % _SSSP_SEED_MOD == 0).select(
        F.col("doc_id").alias("node")
    )
    return sssp_rounds(edges, seeds, _SSSP_ROUNDS)


def _sssp_sql() -> str:
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    edges AS (
        SELECT src, dst, 1 + (src * 7 + dst * 11) % 9 AS w FROM (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src,
                       (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
                FROM documents, unnest([1, 2, 3]) AS u(j)
            ) WHERE dst <> src
        )
    ),
    r0 AS (
        SELECT doc_id AS node, CAST(0 AS BIGINT) AS dist
        FROM documents WHERE doc_id % {_SSSP_SEED_MOD} = 0
    )"""
    parts = [head]
    for k in range(1, _SSSP_ROUNDS + 1):
        parts.append(f""",
    r{k} AS (
        SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
            SELECT node, dist FROM r{k - 1}
            UNION ALL
            SELECT e.dst AS node, p.dist + e.w AS dist
            FROM edges e JOIN r{k - 1} p ON p.node = e.src
        ) GROUP BY node
    )""")
    parts.append(f"\n    SELECT node, dist FROM r{_SSSP_ROUNDS}\n    ")
    return "".join(parts)


register(TEXT, "sssp_weighted", _q_sssp, _sssp_sql())


# --------------------------------------------------------------------------
# IDW interpolation (operators/interpolate.py): k=4 nearest sites
# within radius 60, queries on the even lattice / sites on the odd
# (d2 > 0 by parity). The oracle replays the O(n*m) kNN then sums the
# identical v/d2 terms in the identical (dist2, s_id) order (ordered
# list + left-assoc list_sum — the engine-wide ordered-sum rule).

_IDW_K = 4
_IDW_RADIUS = 60


def _q_idw(spark, sf_dir):
    from .operators.interpolate import idw_interpolate

    d = _t(spark, sf_dir, "documents")
    q = d.select(
        F.col("doc_id").alias("qid"),
        (F.lit(2) * ((F.col("doc_id") * 7919) % 500)).alias("px"),
        (F.lit(2) * ((F.col("doc_id") * 104729) % 500)).alias("py"),
    )
    s = d.select(
        F.col("doc_id").alias("sid"),
        (F.lit(2) * ((F.col("doc_id") * 7) % 500) + 1).alias("px"),
        (F.lit(2) * ((F.col("doc_id") * 13) % 500) + 1).alias("py"),
        ((F.col("doc_id") * 37) % 1000).alias("v"),
    )
    return idw_interpolate(
        q, "qid", s, "sid", "px", "py", "v", _IDW_K, _IDW_RADIUS
    )


_IDW_SQL = f"""
    WITH q AS (
      SELECT doc_id AS q_id,
             2 * ((doc_id * 7919) % 500) AS px,
             2 * ((doc_id * 104729) % 500) AS py
      FROM documents
    ), s AS (
      SELECT doc_id AS s_id,
             2 * ((doc_id * 7) % 500) + 1 AS px,
             2 * ((doc_id * 13) % 500) + 1 AS py,
             (doc_id * 37) % 1000 AS v
      FROM documents
    ), cand AS (
      SELECT q.q_id, s.s_id,
             CAST((q.px - s.px) * (q.px - s.px)
                + (q.py - s.py) * (q.py - s.py) AS BIGINT) AS dist2,
             s.v
      FROM q JOIN s
        ON (q.px - s.px) * (q.px - s.px) + (q.py - s.py) * (q.py - s.py)
           <= {_IDW_RADIUS * _IDW_RADIUS}
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY dist2, s_id) AS rnk
      FROM cand
    ), top AS (
      SELECT * FROM ranked WHERE rnk <= {_IDW_K}
    ), agg AS (
      SELECT q_id,
             CAST(count(*) AS BIGINT) AS n_sites,
             list(CAST(v AS DOUBLE) / CAST(dist2 AS DOUBLE)
                  ORDER BY dist2, s_id) AS nums,
             list(1.0 / CAST(dist2 AS DOUBLE)
                  ORDER BY dist2, s_id) AS dens
      FROM top GROUP BY q_id
    )
    SELECT q_id, n_sites, list_sum(nums) / list_sum(dens) AS idw FROM agg
    """

register(GEO, "idw_interpolate", _q_idw, _IDW_SQL)


# --------------------------------------------------------------------------
# Global Moran's I (operators/autocorr.py) over a 25x20 occupancy grid
# with a smooth planted trend. All-integer numerator/denominator via
# the n-scaled mean trick; the statistic is ONE IEEE division of two
# exact BIGINTs on both engines (zero rounding slack).


def _q_morans(spark, sf_dir):
    from .operators.autocorr import morans_i

    d = _t(spark, sf_dir, "documents")
    cells = (
        d.groupBy(
            (F.col("doc_id") % 25).alias("gx"),
            F.expr("(doc_id DIV 25) % 20").alias("gy"),
        )
        .agg(F.count("*").alias("c"))
        .select(
            "gx",
            "gy",
            (
                F.col("c")
                + F.expr("gx DIV 5") * F.lit(3)
                + F.expr("gy DIV 5") * F.lit(2)
            ).alias("val"),
        )
    )
    return morans_i(cells, "gx", "gy", "val")


_MORANS_SQL = """
    WITH cells AS (
      SELECT gx, gy,
             CAST(count(*) + (gx // 5) * 3 + (gy // 5) * 2 AS BIGINT) AS x
      FROM (SELECT doc_id % 25 AS gx, (doc_id // 25) % 20 AS gy
            FROM documents)
      GROUP BY gx, gy
    ),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM cells
    ),
    z AS (SELECT gx, gy, n * x - s AS z FROM cells, st),
    pr AS (
      SELECT a.z AS za, b.z AS zb
      FROM z a JOIN z b ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1
    ),
    acc AS (
      SELECT CAST(count(*) AS BIGINT) AS w_pairs,
             CAST(sum(za * zb) AS BIGINT) AS num
      FROM pr
    ),
    dd AS (SELECT CAST(sum(z * z) AS BIGINT) AS den FROM z)
    SELECT st.n AS n, acc.w_pairs, acc.num, dd.den,
           CAST(st.n * acc.num AS DOUBLE)
             / CAST(acc.w_pairs * dd.den AS DOUBLE) AS morans_i
    FROM st, acc, dd
    """

register(GEO, "morans_i_grid", _q_morans, _MORANS_SQL)


# --------------------------------------------------------------------------
# Sitemap extraction: build each page's sitemap XML closed-form, parse
# the <loc> entries back out with regexp_extract_all + posexplode. The
# oracle regenerates (doc_id, pos, loc) from the same arithmetic
# WITHOUT parsing — independent of the markup round-trip (the
# anchor_agg pattern).


def _q_sitemap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    host = F.col("doc_id") % 50
    entry = lambda j: F.concat(  # noqa: E731
        F.lit("<url><loc>https://h"),
        host.cast("string"),
        F.lit(".example/p"),
        F.col("doc_id").cast("string"),
        F.lit("/"),
        j.cast("string"),
        F.lit("</loc><lastmod>2026-01-0"),
        (j % 9 + 1).cast("string"),
        F.lit("</lastmod></url>"),
    )
    xml = F.concat(
        F.lit("<urlset>"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.col("doc_id") % 4),
                lambda j: entry(j),
            ),
            F.lit(""),
            lambda a, x: F.concat(a, x),
        ),
        F.lit("</urlset>"),
    )
    locs = F.regexp_extract_all(xml, F.lit("<loc>([^<]*)</loc>"), 1)
    return d.select(
        "doc_id", F.posexplode(locs).alias("pos", "loc")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "loc")


_SITEMAP_SQL = """
    SELECT doc_id, CAST(j AS BIGINT) AS pos,
           'https://h' || CAST(doc_id % 50 AS VARCHAR)
             || '.example/p' || CAST(doc_id AS VARCHAR)
             || '/' || CAST(j AS VARCHAR) AS loc
    FROM documents, unnest(range(1 + doc_id % 4)) AS u(j)
    """

register(TEXT, "sitemap_extract", _q_sitemap, _SITEMAP_SQL)


# --------------------------------------------------------------------------
# D8 hydrology (operators/hydrology.py) — the reference's namesake
# domain (HAND rasters) computed in Catalyst. Shared DEM fixtures: the
# 25x20 occupancy grid with closed-form integer elevation. The oracle
# rebuilds the complete D8 argmax (steepest descent, the float-free
# 2*drop^2-vs-drop^2 diagonal comparison, ESRI priority tie-break) and
# the identical bounded recurrences.

_DEM_GRID = "SELECT DISTINCT doc_id % 25 AS gx, (doc_id // 25) % 20 AS gy FROM documents"
_VALLEY_SQL = "(gx - 12) * (gx - 12) + 3 * (19 - gy) + (gx * 7 + gy * 13) % 5"
# plateau-rich noise: max D8 path length 6 on the 25x20 grid, so the
# registered _ACC_ROUNDS = 8 is PAST the fixpoint (pytest-pinned)
_NOISE_SQL = "(gx * 53 + gy * 71) % 13"
_HAND_DRAIN = 3
_HAND_J = 5
_ACC_ROUNDS = 8


def _dem_cells(spark, sf_dir, valley: bool):
    d = _t(spark, sf_dir, "documents")
    g = d.select(
        (F.col("doc_id") % 25).alias("gx"),
        F.expr("(doc_id DIV 25) % 20").alias("gy"),
    ).distinct()
    if valley:
        elev = (
            (F.col("gx") - 12) * (F.col("gx") - 12)
            + F.lit(3) * (F.lit(19) - F.col("gy"))
            + (F.col("gx") * 7 + F.col("gy") * 13) % 5
        )
    else:
        elev = (F.col("gx") * 53 + F.col("gy") * 71) % 13
    return g.select("gx", "gy", elev.cast("long").alias("elev"))


def _d8_cte(elev_sql: str) -> str:
    """CTE chain ending in relation ``flowdir``(gx, gy, elev, dir, tx, ty)."""
    return f"""
    cells AS ({_DEM_GRID}),
    dem AS (SELECT gx, gy, CAST({elev_sql} AS BIGINT) AS elev FROM cells),
    dirs AS (
      SELECT * FROM (VALUES
        (1, 0, 1, 2, 0), (1, -1, 2, 1, 1), (0, -1, 4, 2, 2),
        (-1, -1, 8, 1, 3), (-1, 0, 16, 2, 4), (-1, 1, 32, 1, 5),
        (0, 1, 64, 2, 6), (1, 1, 128, 1, 7)
      ) AS d(dx, dy, code, mult, pri)
    ),
    cand AS (
      SELECT a.gx, a.gy, a.elev,
             (a.elev - b.elev) * (a.elev - b.elev) * d.mult AS rnk,
             d.pri, d.code, b.gx AS ngx, b.gy AS ngy
      FROM dem a JOIN dirs d ON TRUE
      JOIN dem b ON b.gx = a.gx + d.dx AND b.gy = a.gy + d.dy
      WHERE a.elev > b.elev
    ),
    best AS (
      SELECT gx, gy, elev, code, ngx, ngy,
             row_number() OVER (PARTITION BY gx, gy
                                ORDER BY rnk DESC, pri ASC) AS rn
      FROM cand
    ),
    flowdir AS (
      SELECT gx, gy, elev, CAST(code AS BIGINT) AS dir,
             ngx AS tx, ngy AS ty
      FROM best WHERE rn = 1
      UNION ALL
      SELECT m.gx, m.gy, m.elev, CAST(0 AS BIGINT), m.gx, m.gy
      FROM dem m
      WHERE NOT EXISTS (SELECT 1 FROM cand c
                        WHERE c.gx = m.gx AND c.gy = m.gy)
    )"""


def _q_d8_flow(spark, sf_dir):
    from .operators.hydrology import d8_flow

    return d8_flow(_dem_cells(spark, sf_dir, valley=True))


_D8_SQL = f"""
    WITH {_d8_cte(_VALLEY_SQL)}
    SELECT gx, gy, elev, dir, tx, ty FROM flowdir
    """

register(GEO, "d8_flow_dir", _q_d8_flow, _D8_SQL)


def _q_flow_acc(spark, sf_dir):
    from .operators.hydrology import d8_flow, flow_accumulation

    return flow_accumulation(
        d8_flow(_dem_cells(spark, sf_dir, valley=False)), _ACC_ROUNDS
    )


def _flow_acc_sql() -> str:
    head = f"""
    WITH {_d8_cte(_NOISE_SQL)},
    e AS (SELECT gx, gy, tx, ty FROM flowdir WHERE dir > 0),
    a0 AS (SELECT gx, gy, CAST(0 AS BIGINT) AS acc FROM dem)"""
    parts = [head]
    for k in range(1, _ACC_ROUNDS + 1):
        parts.append(f""",
    a{k} AS (
      SELECT d.gx, d.gy, CAST(COALESCE(s.inflow, 0) AS BIGINT) AS acc
      FROM dem d LEFT JOIN (
        SELECT e.tx AS gx, e.ty AS gy, sum(p.acc + 1) AS inflow
        FROM e JOIN a{k - 1} p ON p.gx = e.gx AND p.gy = e.gy
        GROUP BY e.tx, e.ty
      ) s ON s.gx = d.gx AND s.gy = d.gy
    )""")
    parts.append(f"\n    SELECT gx, gy, acc FROM a{_ACC_ROUNDS}\n    ")
    return "".join(parts)


register(GEO, "flow_accumulation", _q_flow_acc, _flow_acc_sql())


def _q_hand(spark, sf_dir):
    from .operators.hydrology import d8_flow, hand_height

    return hand_height(
        d8_flow(_dem_cells(spark, sf_dir, valley=True)), _HAND_DRAIN, _HAND_J
    )


def _hand_sql() -> str:
    head = f"""
    WITH {_d8_cte(_VALLEY_SQL)},
    n0 AS (
      SELECT gx * 2097152 + gy AS c, gx, gy, elev,
             elev <= {_HAND_DRAIN} AS drain,
             CASE WHEN elev <= {_HAND_DRAIN} OR dir = 0
                  THEN gx * 2097152 + gy
                  ELSE tx * 2097152 + ty END AS nxt
      FROM flowdir
    ),
    s0 AS (SELECT c, nxt AS r FROM n0)"""
    parts = [head]
    for j in range(1, _HAND_J + 1):
        parts.append(f""",
    s{j} AS (SELECT a.c, b.r FROM s{j - 1} a JOIN s{j - 1} b ON b.c = a.r)""")
    parts.append(f"""
    SELECT n.gx, n.gy, n.elev - d.elev AS hand
    FROM s{_HAND_J} s
    JOIN n0 n ON n.c = s.c
    JOIN n0 d ON d.c = s.r AND d.drain
    """)
    return "".join(parts)


register(GEO, "hand_height", _q_hand, _hand_sql())


# --------------------------------------------------------------------------
# Kernel-density heatmap (Epanechnikov, bandwidth R on a G-spaced cell
# lattice): density(c) = sum over points within R of (R^2 - d2) — all
# exact BIGINT arithmetic. JOIN-FREE shape: each point explodes to its
# bounded candidate-cell window (two nested sequences, <= (2R/G+1)^2
# cells) and one hash aggregate sums the kernel weights — the plan is
# Generate + HashAggregate with no join operator at all (plan-audited),
# so it scales with points * kernel_support, never points^2.

_KDE_G = 25
_KDE_R = 100


def _q_kde(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        ((F.col("doc_id") * 7919) % 2000 + 100).alias("px"),
        ((F.col("doc_id") * 104729) % 2000 + 100).alias("py"),
    )
    g, r = _KDE_G, _KDE_R
    cand = p.select(
        "px",
        "py",
        F.expr(
            f"explode(sequence((px - {r} + {g - 1}) DIV {g}, (px + {r}) DIV {g}))"
        ).alias("cx"),
    ).select(
        "px",
        "py",
        "cx",
        F.expr(
            f"explode(sequence((py - {r} + {g - 1}) DIV {g}, (py + {r}) DIV {g}))"
        ).alias("cy"),
    )
    d2 = (F.col("px") - F.col("cx") * g) * (F.col("px") - F.col("cx") * g) + (
        F.col("py") - F.col("cy") * g
    ) * (F.col("py") - F.col("cy") * g)
    return (
        cand.where(d2 < r * r)
        .groupBy("cx", "cy")
        .agg(F.sum(F.lit(r * r) - d2).cast("long").alias("density"))
    )


_KDE_SQL = f"""
    WITH p AS (
      SELECT (doc_id * 7919) % 2000 + 100 AS px,
             (doc_id * 104729) % 2000 + 100 AS py
      FROM documents
    ),
    cand AS (
      SELECT px, py, cx, cy
      FROM p,
           unnest(range((px - {_KDE_R} + {_KDE_G - 1}) // {_KDE_G},
                        (px + {_KDE_R}) // {_KDE_G} + 1)) AS ux(cx),
           unnest(range((py - {_KDE_R} + {_KDE_G - 1}) // {_KDE_G},
                        (py + {_KDE_R}) // {_KDE_G} + 1)) AS uy(cy)
    )
    SELECT cx, cy,
           CAST(sum({_KDE_R * _KDE_R} -
                    ((px - cx * {_KDE_G}) * (px - cx * {_KDE_G})
                     + (py - cy * {_KDE_G}) * (py - cy * {_KDE_G})))
                AS BIGINT) AS density
    FROM cand
    WHERE (px - cx * {_KDE_G}) * (px - cx * {_KDE_G})
        + (py - cy * {_KDE_G}) * (py - cy * {_KDE_G}) < {_KDE_R * _KDE_R}
    GROUP BY cx, cy
    """

register(GEO, "kde_heatmap", _q_kde, _KDE_SQL)


# --------------------------------------------------------------------------
# Cohort retention over the events stream: cohort = user's first
# activity week (epoch-week, offset-invariant — the engine's
# epoch-cast idiom), cell = distinct users from that cohort active k
# weeks later. Two keyed aggregates + one equi-join on user_id.


def _q_cohort(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = e.select(
        "user_id",
        F.floor(
            F.col("ts").cast("timestamp").cast("double") / F.lit(604800.0)
        )
        .cast("long")
        .alias("week"),
    )
    first = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        w.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


_COHORT_SQL = """
    WITH w AS (
      SELECT user_id,
             CAST(floor(CAST(epoch(ts) AS DOUBLE) / 604800.0) AS BIGINT)
               AS week
      FROM events
    ),
    f AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id)
    SELECT f.cohort, w.week - f.cohort AS weeks_since,
           CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN f ON w.user_id = f.user_id
    GROUP BY f.cohort, w.week - f.cohort
    """

register(TEXT, "cohort_retention", _q_cohort, _COHORT_SQL)


# --------------------------------------------------------------------------
# Trajectory path length: per-user great-circle track length over the
# events stream. Segment distances are FLOOR whole meters (the sphere
# discretize rule), so the per-user total is a sum of exact BIGINTs —
# order-independent, zero float slack. One window (lag) + one
# aggregate; ordering key (ts, event_id) is collision-proof.


def _q_trajectory(spark, sf_dir):
    from pyspark.sql import Window

    from .geo.sphere import haversine_floor_meters

    e = _t(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.lit(40000) + (F.col("event_id") * 991) % 3000).alias("lat"),
        ((F.col("event_id") * 1637) % 4000 - 2000).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = pts.select(
        "user_id",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        "lat",
        "lon",
    ).where(F.col("plat").isNotNull())
    m = haversine_floor_meters(
        F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")
    )
    return seg.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum(m).cast("long").alias("total_m"),
    )


def _trajectory_sql() -> str:
    from .geo.sphere import haversine_floor_meters_sql

    hav = haversine_floor_meters_sql("plat", "plon", "lat", "lon")
    return f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             40000 + (event_id * 991) % 3000 AS lat,
             (event_id * 1637) % 4000 - 2000 AS lon
      FROM events
    ),
    seg AS (
      SELECT user_id,
             lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS plat,
             lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS plon,
             lat, lon
      FROM pts
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum({hav}) AS BIGINT) AS total_m
    FROM seg WHERE plat IS NOT NULL
    GROUP BY user_id
    """


register(GEO, "trajectory_length", _q_trajectory, _trajectory_sql())


# --------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
# scheme): 3-gram token hashes, window w=4, keep the RIGHTMOST minimal
# gram per window, emit the distinct (position, fingerprint) set per
# doc. Guarantee: any shared substring of >= w+k-1 tokens yields a
# shared fingerprint. Spark side is pure WINDOW functions over the
# exploded token stream — grams via two leads, rightmost-argmin via
# max(struct(-v, i)) over a w-row following frame: no joins, no
# higher-order functions (a nested-HOF draft re-derived the gram array
# per element_at — the Catalyst lambda re-evaluation trap — and was
# O(m^2 w); the window form is one partition-sort, streaming frames).
# The oracle computes the same rightmost-min relationally (frame min +
# argmax join) — an independent formulation of the same definition.

_WIN_K = 3
_WIN_W = 4
_WIN_P = 1000003


def _q_winnow(spark, sf_dir):
    from pyspark.sql import Window

    from .operators.dedup import token_hash_col

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= _WIN_K + _WIN_W - 1
    )
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("i", "tok")
    ).select("doc_id", "i", token_hash_col(F.col("tok")).alias("h"))
    w = Window.partitionBy("doc_id").orderBy("i")
    grams = pos.select(
        "doc_id",
        "i",
        (
            (
                F.col("h") * F.lit(961)
                + F.lead("h", 1).over(w) * F.lit(31)
                + F.lead("h", 2).over(w)
            )
            % F.lit(_WIN_P)
        ).alias("v"),
    ).where(F.col("v").isNotNull())
    fr = w.rowsBetween(0, _WIN_W - 1)
    sel = grams.select(
        "doc_id",
        # rightmost argmin: max of (-v, i) -> smallest v, then largest i
        F.max(F.struct((-F.col("v")).alias("nv"), F.col("i").alias("i")))
        .over(fr)
        .alias("s"),
        F.count("*").over(fr).alias("wn"),
    ).where(F.col("wn") == _WIN_W)
    return sel.select(
        "doc_id",
        F.col("s.i").cast("long").alias("pos"),
        (-F.col("s.nv")).cast("long").alias("fp"),
    ).distinct()


def _winnow_sql() -> str:
    from .operators.dedup import TOKEN_HASH_SQL

    h = TOKEN_HASH_SQL.format(t="tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= {_WIN_K + _WIN_W - 1}
    ),
    hs AS (
      SELECT doc_id, unnest(list_transform(t, tok -> {h})) AS h,
             generate_subscripts(t, 1) AS i, len(t) AS n
      FROM toks
    ),
    grams AS (
      SELECT a.doc_id, a.i,
             (a.h * 961 + b.h * 31 + c.h) % {_WIN_P} AS v,
             a.n - {_WIN_K - 1} AS m
      FROM hs a JOIN hs b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN hs c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    wins AS (
      SELECT doc_id, i AS ws, m,
             min(v) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW
                          AND {_WIN_W - 1} FOLLOWING) AS mv
      FROM grams
    ),
    sel AS (
      SELECT w.doc_id, w.ws, w.mv, max(g.i) AS rightmost
      FROM wins w JOIN grams g
        ON g.doc_id = w.doc_id AND g.i BETWEEN w.ws AND w.ws + {_WIN_W - 1}
       AND g.v = w.mv
      WHERE w.ws <= w.m - {_WIN_W - 1}
      GROUP BY w.doc_id, w.ws, w.mv
    )
    SELECT DISTINCT doc_id, CAST(rightmost - 1 AS BIGINT) AS pos,
           CAST(mv AS BIGINT) AS fp
    FROM sel
    """


register(TEXT, "winnow_fingerprints", _q_winnow, _winnow_sql())


# --------------------------------------------------------------------------
# Content-defined chunking (Rabin-style CDC): boundaries where an
# 8-char rolling hash hits H % 64 == 0, so chunk cuts survive inserts/
# deletes (unlike fixed-size blocks) — the sub-document dedup
# granularity storage systems and training-data pipelines use. Pure
# window pipeline over the exploded char stream: 8 leads + step-wise
# Horner mod (intermediates < P*257, no overflow), a running boundary
# sum for chunk ids, then ONE equi-join back to documents to cut the
# chunk text (substr) and sha-identify it. Identical formulation on
# both engines.

_CDC_B = 257
_CDC_P = 1000003
_CDC_W = 8
_CDC_MOD = 64


def _q_cdc_chunks(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.posexplode(F.split("text", "")).alias("i", "ch")
    ).select("doc_id", F.col("i").cast("long").alias("i"), F.ascii("ch").alias("c"))
    w = Window.partitionBy("doc_id").orderBy("i")
    h = F.lead("c", _CDC_W - 1).over(w)
    for j in range(_CDC_W - 2, -1, -1):
        nxt = F.col("c") if j == 0 else F.lead("c", j).over(w)
        h = (h * F.lit(_CDC_B) + nxt) % F.lit(_CDC_P)
    hashed = chars.select("doc_id", "i", h.alias("h"))
    flagged = hashed.select(
        "doc_id",
        "i",
        F.when(
            (F.col("i") > 0) & F.col("h").isNotNull()
            & (F.col("h") % _CDC_MOD == 0),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("b"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    idx = flagged.select(
        "doc_id", "i", F.sum("b").over(wrun).cast("long").alias("chunk_idx")
    )
    chunks = idx.groupBy("doc_id", "chunk_idx").agg(
        F.min("i").alias("start"), F.count("*").cast("long").alias("ln")
    )
    return chunks.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "chunk_idx",
        "start",
        "ln",
        F.sha2(
            F.expr("substring(text, cast(start + 1 AS int), cast(ln AS int))"),
            256,
        ).alias("chunk_sha"),
    )


def _cdc_sql() -> str:
    horner = f"lead(c, {_CDC_W - 1}) OVER win"
    for j in range(_CDC_W - 2, -1, -1):
        nxt = "c" if j == 0 else f"lead(c, {j}) OVER win"
        horner = f"(({horner}) * {_CDC_B} + {nxt}) % {_CDC_P}"
    return f"""
    WITH chars AS (
      SELECT doc_id, generate_subscripts(string_split(text, ''), 1) - 1 AS i,
             ascii(unnest(string_split(text, ''))) AS c
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, i, {horner} AS h
      FROM chars
      WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    flagged AS (
      SELECT doc_id, i,
             CASE WHEN i > 0 AND h IS NOT NULL AND h % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS b
      FROM hashed
    ),
    idx AS (
      SELECT doc_id, i,
             CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS chunk_idx
      FROM flagged
    ),
    chunks AS (
      SELECT doc_id, chunk_idx, min(i) AS start,
             CAST(count(*) AS BIGINT) AS ln
      FROM idx GROUP BY doc_id, chunk_idx
    )
    SELECT c.doc_id, c.chunk_idx, c.start, c.ln,
           sha256(substr(d.text, CAST(c.start + 1 AS INT),
                         CAST(c.ln AS INT))) AS chunk_sha
    FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
    """


register(TEXT, "cdc_chunks", _q_cdc_chunks, _cdc_sql())


# --------------------------------------------------------------------------
# Sparse lexical similarity: TF-IDF cosine pairs through a df-capped
# inverted-index self-join — the classic postings-join shape (and the
# lexical complement of the dense embedding ANN family). Weights are
# INTEGER: w = tf * (1000000 // df) (quantized idf), so dots and norms
# are exact BIGINTs in any order, and the cosine threshold
# cos >= 0.3 becomes the integer test 100*dot^2 >= 9*na2*nb2
# (evaluated in decimal/HUGEINT — no float anywhere). The df <= cap
# prune bounds every posting list (the 100x lever: join fanout is
# sum(df^2) over KEPT tokens, never corpus^2) and drops stopwords for
# free.

_TFIDF_DF_CAP = 50
_TFIDF_SCALE = 1_000_000


def _q_tfidf_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = (
        tf.join(df_.where(F.col("df") <= _TFIDF_DF_CAP), "tok")
        .select(
            "tok",
            "doc_id",
            (F.col("tf") * F.expr(f"{_TFIDF_SCALE} DIV df")).alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("n2")
    )
    a = w.select(F.col("tok"), F.col("doc_id").alias("a"), F.col("w").alias("wa"))
    b = w.select(F.col("tok"), F.col("doc_id").alias("b"), F.col("w").alias("wb"))
    dots = (
        a.hint("shuffle_hash")
        .join(b, "tok")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("b"), F.col("n2").alias("nb2"))
    dec = "decimal(38,0)"
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .where(
            F.lit(100).cast(dec) * F.col("dot").cast(dec) * F.col("dot").cast(dec)
            >= F.lit(9).cast(dec) * F.col("na2").cast(dec) * F.col("nb2").cast(dec)
        )
        .select("a", "b", "dot", "na2", "nb2")
    )


_TFIDF_SQL = f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    w AS (
      SELECT tf.tok, tf.doc_id,
             tf.tf * ({_TFIDF_SCALE} // dfr.df) AS w
      FROM tf JOIN dfr ON dfr.tok = tf.tok
      WHERE dfr.df <= {_TFIDF_DF_CAP}
    ),
    norms AS (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS a, b.doc_id AS b,
             CAST(sum(a.w * b.w) AS BIGINT) AS dot
      FROM w a JOIN w b ON b.tok = a.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.a, d.b, d.dot, na.n2 AS na2, nb.n2 AS nb2
    FROM dots d
    JOIN norms na ON na.doc_id = d.a
    JOIN norms nb ON nb.doc_id = d.b
    WHERE 100 * CAST(d.dot AS HUGEINT) * CAST(d.dot AS HUGEINT)
          >= 9 * CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT)
    """

register(TEXT, "tfidf_cosine_pairs", _q_tfidf_pairs, _TFIDF_SQL)


# --------------------------------------------------------------------------
# k-core decomposition (operators/graph.k_core): synchronous peeling,
# k=3, 8 rounds. Fixture: the ring graph (every node degree 4 — a true
# 3-core) plus a 10-node pendant path anchored to the ring whose peel
# CASCADES inward one hop per round (~5 rounds; 8 is past the
# fixpoint, pytest-pinned). The oracle unrolls the identical peel.

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _q_kcore(spark, sf_dir):
    from .operators.graph import k_core

    d = _t(spark, sf_dir, "documents")
    n = d.count()
    ring = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2))).alias("s"),
        )
        .withColumn("dst", (F.col("src") + F.col("s")) % F.lit(n))
        .select("src", "dst")
    )
    path = d.where(F.col("doc_id") < 9).select(
        (F.col("doc_id") + F.lit(n)).alias("src"),
        (F.col("doc_id") + F.lit(n) + 1).alias("dst"),
    )
    anchors = d.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(n)).alias("src"),
        (F.col("doc_id") * 37 % F.lit(n)).alias("dst"),
    )
    return k_core(ring.union(path).union(anchors), _KCORE_K, _KCORE_ROUNDS)


def _kcore_sql() -> str:
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    raw AS (
      SELECT doc_id AS src, (doc_id + s) % (SELECT n FROM nn) AS dst
      FROM documents, unnest([1, 2]) AS u(s)
      UNION ALL
      SELECT doc_id + (SELECT n FROM nn) AS src,
             doc_id + (SELECT n FROM nn) + 1 AS dst
      FROM documents WHERE doc_id < 9
      UNION ALL
      SELECT doc_id + (SELECT n FROM nn) AS src,
             (doc_id * 37) % (SELECT n FROM nn) AS dst
      FROM documents WHERE doc_id < 10
    ),
    u0 AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst
    )"""
    # every round CTE is MATERIALIZED: DuckDB inlines plain CTEs at
    # parse time, and u{r} references u{r-1} five times (direct + the
    # two IN subqueries through k/d) -> 5^rounds expansion without it
    parts = [head]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
    d{r} AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM u{r - 1}
        UNION ALL SELECT b AS node FROM u{r - 1}
      ) GROUP BY node
    ),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
    u{r} AS MATERIALIZED (
      SELECT a, b FROM u{r - 1}
      WHERE a IN (SELECT node FROM k{r}) AND b IN (SELECT node FROM k{r})
    )""")
    parts.append(f"""
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      SELECT a AS node FROM u{_KCORE_ROUNDS}
      UNION ALL SELECT b AS node FROM u{_KCORE_ROUNDS}
    ) GROUP BY node HAVING count(*) >= {_KCORE_K}
    """)
    return "".join(parts)


register(TEXT, "kcore_nodes", _q_kcore, _kcore_sql())


# --------------------------------------------------------------------------
# DBSCAN (operators/cluster.py): eps-neighborhoods from the grid
# distance-band join, cores by degree, clusters by min-label
# components over CORE-CORE edges, borders attached to their minimum
# core neighbor (the deterministic convention that makes distributed
# DBSCAN a pure function of the point set). Oracle replays the O(n^2)
# neighborhoods + a recursive-CTE closure.

_DBSCAN_EPS = 80
_DBSCAN_MINPTS = 3
_DBSCAN_SPAN = 2000


def _q_dbscan(spark, sf_dir):
    from .operators.cluster import dbscan

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 100003) * 7919 % _DBSCAN_SPAN).alias("px"),
        ((F.col("doc_id") % 99991) * 104729 % _DBSCAN_SPAN).alias("py"),
    )
    return dbscan(pts, "id", "px", "py", _DBSCAN_EPS, _DBSCAN_MINPTS)


_DBSCAN_SQL = f"""
    WITH RECURSIVE pts AS (
      SELECT doc_id AS id,
             ((doc_id % 100003) * 7919) % {_DBSCAN_SPAN} AS px,
             ((doc_id % 99991) * 104729) % {_DBSCAN_SPAN} AS py
      FROM documents
    ),
    p AS (
      SELECT a.id AS a, b.id AS b
      FROM pts a JOIN pts b ON a.id < b.id
      WHERE (a.px - b.px) * (a.px - b.px)
          + (a.py - b.py) * (a.py - b.py) <= {_DBSCAN_EPS * _DBSCAN_EPS}
    ),
    sym AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
    cnt AS (SELECT a AS id, count(*) + 1 AS n FROM sym GROUP BY a),
    core AS (
      SELECT pts.id FROM pts LEFT JOIN cnt ON cnt.id = pts.id
      WHERE coalesce(cnt.n, 1) >= {_DBSCAN_MINPTS}
    ),
    ce AS (
      SELECT s.a, s.b FROM sym s
      WHERE s.a IN (SELECT id FROM core) AND s.b IN (SELECT id FROM core)
    ),
    reach(a, b) AS (
      SELECT a, b FROM ce
      UNION
      SELECT r.a, e.b FROM reach r JOIN ce e ON r.b = e.a AND r.a != e.b
    ),
    lbl AS (
      SELECT c.id, least(c.id, coalesce(min(r.b), c.id)) AS cluster_id
      FROM core c LEFT JOIN reach r ON r.a = c.id
      GROUP BY c.id
    ),
    borders AS (
      SELECT s.a AS id, min(s.b) AS attach FROM sym s
      WHERE s.b IN (SELECT id FROM core)
        AND s.a NOT IN (SELECT id FROM core)
      GROUP BY s.a
    )
    SELECT id, CAST(cluster_id AS BIGINT) AS cluster_id, 'core' AS role
    FROM lbl
    UNION ALL
    SELECT b.id, CAST(l.cluster_id AS BIGINT) AS cluster_id,
           'border' AS role
    FROM borders b JOIN lbl l ON l.id = b.attach
    """

register(GEO, "dbscan_clusters", _q_dbscan, _DBSCAN_SQL)


# --------------------------------------------------------------------------
# Streaming geofence (geo x streaming crossover): a stream of geotagged
# events filtered by an exact integer PIP against a convex fence
# polygon (four CCW half-plane cross products — all BIGINT, the
# engine's PIP idiom), then windowed per day/type. File-stream source +
# availableNow + complete memory sink equals the batch aggregate — the
# engine-wide streaming-oracle pattern.

_FENCE = [(-10000, 41000), (-2000, 40000), (0, 44000), (-8000, 45000)]


def _fence_conds(lon: str, lat: str) -> list[str]:
    conds = []
    n = len(_FENCE)
    for i in range(n):
        x1, y1 = _FENCE[i]
        x2, y2 = _FENCE[(i + 1) % n]
        conds.append(
            f"({x2} - {x1}) * (({lat}) - {y1})"
            f" - ({y2} - {y1}) * (({lon}) - {x1}) >= 0"
        )
    return conds


def _q_stream_geofence(spark, sf_dir):
    import os
    import tempfile
    import uuid

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    src_dir = tempfile.mkdtemp(prefix="stream_fence_")
    os.symlink(path, os.path.join(src_dir, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(src_dir)
    pts = stream.withColumn(
        "lat", F.lit(40000) + (F.col("event_id") * 991) % 6000
    ).withColumn("lon", (F.col("event_id") * 1637) % 12000 - 11000)
    inside = pts.where(F.expr(" AND ".join(_fence_conds("lon", "lat"))))
    agg = (
        inside.withColumn("day", F.date_format(F.col("ts"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_inside"))
    )
    name = f"stream_geofence_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _geofence_sql() -> str:
    conds = " AND ".join(_fence_conds("lon", "lat"))
    return f"""
    WITH pts AS (
      SELECT ts, event_type,
             40000 + (event_id * 991) % 6000 AS lat,
             (event_id * 1637) % 12000 - 11000 AS lon
      FROM events
    )
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_inside
    FROM pts WHERE {conds}
    GROUP BY 1, 2
    """


register(GEO, "stream_geofence", _q_stream_geofence, _geofence_sql())
