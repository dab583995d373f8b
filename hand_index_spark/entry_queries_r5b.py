"""Round-5b registry batch: distance-band join, segment overlay,
convex hull, fixed-vocab BPE encode, time-series gap fill.

Same contract as every other batch: each query is (a) an idiomatic
Spark program over the driver's parquet tables and (b) a DuckDB oracle
with identical column names and arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# Fixed-radius distance-band self-join (operators/distance_join.py):
# every pair of page geotags within R. Points derive from doc_id with
# pure integer arithmetic (exact on both engines); the Spark side runs
# the 3x3-cell grid join, the oracle the O(n^2) definition.

_DB_RADIUS = 60
_DB_SPAN = 2000


def _q_distance_band(spark, sf_dir):
    from .operators.distance_join import distance_band_pairs

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 100003) * 7919 % _DB_SPAN).alias("px"),
        ((F.col("doc_id") % 99991) * 104729 % _DB_SPAN).alias("py"),
    )
    return distance_band_pairs(pts, "id", "px", "py", _DB_RADIUS)


_DISTANCE_BAND_SQL = f"""
    WITH pts AS (
      SELECT doc_id AS id,
             ((doc_id % 100003) * 7919) % {_DB_SPAN} AS px,
             ((doc_id % 99991) * 104729) % {_DB_SPAN} AS py
      FROM documents
    )
    SELECT a.id AS a_id, b.id AS b_id,
           CAST((a.px - b.px) * (a.px - b.px)
              + (a.py - b.py) * (a.py - b.py) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.px - b.px) * (a.px - b.px)
        + (a.py - b.py) * (a.py - b.py) <= {_DB_RADIUS * _DB_RADIUS}
    """

register(GEO, "distance_band_join", _q_distance_band, _DISTANCE_BAND_SQL)


# --------------------------------------------------------------------------
# Segment-segment intersection join (operators/segments.py): two
# derived line sets, covering-cell candidates + exact integer
# orientation refine. Oracle is the O(n*m) definition with the same
# BIGINT cross products.

_SEG_SPAN = 400
_SEG_CELL = 32


def _seg_set(d, pfx: str, mx1: int, my1: int, mdx: int, mdy: int):
    i = F.col("doc_id")
    x1 = (i * mx1 % _SEG_SPAN + 16).alias(f"{pfx}x1")
    y1 = (i * my1 % _SEG_SPAN + 16).alias(f"{pfx}y1")
    x2 = (i * mx1 % _SEG_SPAN + 16 + (i * mdx % 21) - 10).alias(f"{pfx}x2")
    y2 = (i * my1 % _SEG_SPAN + 16 + (i * mdy % 21) - 10).alias(f"{pfx}y2")
    return d.select(i.alias(f"{pfx}_id"), x1, y1, x2, y2)


def _q_segment_intersect(spark, sf_dir):
    from .operators.segments import segment_intersect_join

    d = _t(spark, sf_dir, "documents")
    a = _seg_set(d, "a", 37, 59, 17, 29)
    b = _seg_set(d, "b", 41, 53, 19, 23)
    return segment_intersect_join(a, b, _SEG_CELL)


def _seg_sql_set(pfx: str, mx1: int, my1: int, mdx: int, mdy: int) -> str:
    return (
        f"SELECT doc_id AS {pfx}_id,"
        f" (doc_id * {mx1}) % {_SEG_SPAN} + 16 AS {pfx}x1,"
        f" (doc_id * {my1}) % {_SEG_SPAN} + 16 AS {pfx}y1,"
        f" (doc_id * {mx1}) % {_SEG_SPAN} + 16 + (doc_id * {mdx}) % 21 - 10 AS {pfx}x2,"
        f" (doc_id * {my1}) % {_SEG_SPAN} + 16 + (doc_id * {mdy}) % 21 - 10 AS {pfx}y2"
        f" FROM documents"
    )


_SEGMENT_SQL = f"""
    WITH a AS ({_seg_sql_set("a", 37, 59, 17, 29)}),
    b AS ({_seg_sql_set("b", 41, 53, 19, 23)}),
    d AS (
      SELECT a_id, b_id,
        (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1) AS d1,
        (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1) AS d2,
        (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1) AS d3,
        (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1) AS d4,
        ax1, ay1, ax2, ay2, bx1, by1, bx2, by2
      FROM a, b
    )
    SELECT a_id, b_id FROM d
    WHERE (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
           AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
       OR (d1 = 0 AND ax1 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                  AND ay1 BETWEEN least(by1, by2) AND greatest(by1, by2))
       OR (d2 = 0 AND ax2 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                  AND ay2 BETWEEN least(by1, by2) AND greatest(by1, by2))
       OR (d3 = 0 AND bx1 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                  AND by1 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
       OR (d4 = 0 AND bx2 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                  AND by2 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
    """

register(GEO, "segment_intersect_join", _q_segment_intersect, _SEGMENT_SQL)


# --------------------------------------------------------------------------
# Per-group convex hull (operators/hull.py). Fixture: 16 groups, ring
# points on the strictly convex parabola y = x^2 (no 3 ever collinear,
# all on the hull) plus half-integer interior points strictly inside,
# so the hull vertex set is closed-form: exactly the parabola points.
# The oracle regenerates those points and shoelaces them in x order
# (the CCW boundary order) — every quantity is an exact small
# integer/quarter-integer in float64.

_HULL_GROUPS = 16


def _hull_fixture_rows():
    rows = []
    for g in range(_HULL_GROUPS):
        m = 4 + g % 4
        for x in range(-m, m + 1):  # ring: on the hull
            rows.append((g, float(x + m), float(x * x)))
        for x in range(-(m - 2), m - 2):  # strictly interior
            rows.append((g, x + m + 0.5, x * x + x + 0.75))
    return rows


def _q_convex_hull(spark, sf_dir):
    from .operators.hull import hull_stats

    pts = spark.createDataFrame(
        _hull_fixture_rows(), schema="group_id long, px double, py double"
    )
    return hull_stats(pts, "group_id", "px", "py")


_CONVEX_HULL_SQL = f"""
    WITH g AS (SELECT unnest(range({_HULL_GROUPS})) AS gid),
    ring AS (
      SELECT gid, 4 + gid % 4 AS m,
             unnest(range(-(4 + gid % 4), 4 + gid % 4 + 1)) AS x
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
    SELECT gid AS group_id, CAST(count(*) AS BIGINT) AS hull_n,
           sum(hx * ny - nx * hy) AS hull_area2,
           sum(hx) AS sum_hx, sum(hy) AS sum_hy
    FROM ordered GROUP BY gid
    """

register(GEO, "convex_hull", _q_convex_hull, _CONVEX_HULL_SQL)


# --------------------------------------------------------------------------
# Fixed-vocab BPE encode (the inference half of operators/bpe.py's
# trainer): the vocabulary is a CONSTANT artifact trained once — here
# by a 30-line pure-Python reference trainer on a hardcoded sample with
# the exact tie-break the distributed trainer uses — and applied to the
# whole corpus as a chain of literal replaces on the wrapped-token
# string. That is the realistic 100-TB shape: train on a sample,
# encode everywhere; encoding is embarrassingly parallel map work.

_BPE_SAMPLE = (
    "the web pages the crawler crawls link the web sites and the sites "
    "link pages to the web the pages rank when sites link them"
)
_BPE_ENC_ROUNDS = 12


def _train_merges_py(text: str, rounds: int) -> list[tuple[str, str]]:
    from .operators.bpe import CLOSE, OPEN

    toks = list(text)
    merges: list[tuple[str, str]] = []
    for _ in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for a, b in zip(toks, toks[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        best = min(
            counts.items(),
            key=lambda kv: (
                -kv[1],
                OPEN + kv[0][0] + CLOSE + OPEN + kv[0][1] + CLOSE,
            ),
        )[0]
        merges.append(best)
        a, b = best
        out: list[str] = []
        i = 0
        while i < len(toks):  # left-to-right, non-overlapping == replace()
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return merges


_BPE_MERGES = _train_merges_py(_BPE_SAMPLE, _BPE_ENC_ROUNDS)
assert all("'" not in a + b for a, b in _BPE_MERGES)  # SQL-literal safe


def _q_bpe_encode(spark, sf_dir):
    from .operators.bpe import CLOSE, OPEN, tokens_expr, wrap_chars

    d = _t(spark, sf_dir, "documents").where(F.length("text") >= 1)
    s = wrap_chars(F.col("text"))
    for a, b in _BPE_MERGES:
        s = F.replace(
            s,
            F.lit(OPEN + a + CLOSE + OPEN + b + CLOSE),
            F.lit(OPEN + a + b + CLOSE),
        )
    enc = d.select("doc_id", s.alias("s"))
    t = tokens_expr()
    return enc.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.element_at(t, 1).alias("first_token"),
        F.element_at(t, F.size(t)).alias("last_token"),
    )


def _bpe_encode_sql() -> str:
    expr = "regexp_replace(text, '([\\s\\S])', chr(30)||'\\1'||chr(31), 'g')"
    for a, b in _BPE_MERGES:
        pat = f"chr(30)||'{a}'||chr(31)||chr(30)||'{b}'||chr(31)"
        rep = f"chr(30)||'{a}{b}'||chr(31)"
        expr = f"replace({expr}, {pat}, {rep})"
    toks = "str_split(substr(s, 2, length(s) - 2), chr(31)||chr(30))"
    return f"""
    WITH enc AS (
      SELECT doc_id, {expr} AS s FROM documents WHERE length(text) >= 1
    )
    SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens,
           {toks}[1] AS first_token,
           {toks}[len({toks})] AS last_token
    FROM enc
    """


register(TEXT, "bpe_encode", _q_bpe_encode, _bpe_encode_sql())


# --------------------------------------------------------------------------
# Time-series gap fill + linear interpolation
# (operators/timeseries.py). Observations derive from events with an
# injective (key, t) mapping and a pseudo-random thinning filter so
# every key has real gaps; the oracle replays the identical lead +
# generate_series + one-division interpolation, bit-for-bit.


def _q_gapfill(spark, sf_dir):
    from .operators.timeseries import gapfill_linear

    e = _t(spark, sf_dir, "events")
    obs = e.where(F.col("event_id") % 11 < 3).select(
        (F.col("event_id") % 13).alias("key"),
        F.expr("event_id div 13").alias("t"),
        F.col("event_id").cast("double").alias("v"),
    )
    return gapfill_linear(obs, "key", "t", "v")


_GAPFILL_SQL = """
    WITH obs AS (
      SELECT event_id % 13 AS key, event_id // 13 AS t,
             CAST(event_id AS DOUBLE) AS v
      FROM events WHERE event_id % 11 < 3
    ), br AS (
      SELECT key, t AS t0, v AS v0,
             lead(t) OVER (PARTITION BY key ORDER BY t) AS t1,
             lead(v) OVER (PARTITION BY key ORDER BY t) AS v1
      FROM obs
    ), grid AS (
      SELECT key, t0, v0, t1, v1,
             unnest(range(t0, coalesce(t1, t0 + 1))) AS t
      FROM br
    )
    SELECT key, t,
           CASE WHEN t = t0 THEN v0
                ELSE v0 + (v1 - v0) * (CAST(t - t0 AS DOUBLE)
                                       / CAST(t1 - t0 AS DOUBLE))
           END AS value,
           t <> t0 AS filled
    FROM grid
    """

register(TEXT, "gapfill_interpolate", _q_gapfill, _GAPFILL_SQL)


# --------------------------------------------------------------------------
# Multi-resolution cell pyramid: page counts per h3lite cell at every
# res 5..9 via the CASCADING rollup — aggregate once at the finest res,
# then each coarser level re-aggregates the PREVIOUS level through
# parent_col (hierarchy invariant, `cell_parent`). One full-data
# shuffle total; levels 8..5 shuffle only already-aggregated cell
# counts (at 100 TB: ~5x cheaper than GROUPING SETS' row expansion,
# which replicates every input row per level). The res-9 aggregate is
# localCheckpoint'ed because all five union branches consume it.


def _q_cell_pyramid(spark, sf_dir):
    from .geo import cells as h3lite
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    base = (
        pts.select(h3lite.encode_col(F.col("lat"), F.col("lon"), 9).alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .localCheckpoint(eager=True)
    )
    levels = [base.withColumn("res", F.lit(9).cast("long"))]
    cur = base
    for r in (8, 7, 6, 5):
        cur = (
            cur.groupBy(
                h3lite.parent_col(F.col("cell"), r, r + 1).alias("cell")
            )
            .agg(F.sum("n_pages").alias("n_pages"))
        )
        levels.append(cur.withColumn("res", F.lit(r).cast("long")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.union(lv)
    return out.select("res", "cell", "n_pages")


def _cell_pyramid_sql() -> str:
    from .geo import cells as h3lite
    from .oracles import pts_cte

    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS res,
               {h3lite.encode_sql("lat", "lon", r)} AS cell,
               CAST(count(*) AS BIGINT) AS n_pages
        FROM pts GROUP BY cell"""
        for r in (9, 8, 7, 6, 5)
    ]
    u = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH pts AS ({pts_cte()})
    {u}
    """


register(GEO, "cell_pyramid", _q_cell_pyramid, _cell_pyramid_sql())


# --------------------------------------------------------------------------
# kNN join within a radius (operators/distance_join.knn_join_radius):
# k nearest event sites for every document point, both sides derived
# arithmetically so the O(n*m) oracle replays it exactly. Deterministic
# total order via (dist2, s_id) tie-break.

_KNN_K = 3


def _q_knn_radius(spark, sf_dir):
    from .operators.distance_join import knn_join_radius

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "events")
    q = d.select(
        F.col("doc_id").alias("qid"),
        ((F.col("doc_id") % 100003) * 7919 % _DB_SPAN).alias("x"),
        ((F.col("doc_id") % 99991) * 104729 % _DB_SPAN).alias("y"),
    )
    s = e.select(
        F.col("event_id").alias("sid"),
        ((F.col("event_id") % 100003) * 4409 % _DB_SPAN).alias("x"),
        ((F.col("event_id") % 99991) * 9749 % _DB_SPAN).alias("y"),
    )
    return knn_join_radius(q, "qid", s, "sid", "x", "y", _KNN_K, _DB_RADIUS)


_KNN_RADIUS_SQL = f"""
    WITH q AS (
      SELECT doc_id AS q_id,
             ((doc_id % 100003) * 7919) % {_DB_SPAN} AS x,
             ((doc_id % 99991) * 104729) % {_DB_SPAN} AS y
      FROM documents
    ), s AS (
      SELECT event_id AS s_id,
             ((event_id % 100003) * 4409) % {_DB_SPAN} AS x,
             ((event_id % 99991) * 9749) % {_DB_SPAN} AS y
      FROM events
    ), cand AS (
      SELECT q.q_id, s.s_id,
             CAST((q.x - s.x) * (q.x - s.x)
                + (q.y - s.y) * (q.y - s.y) AS BIGINT) AS dist2
      FROM q JOIN s
        ON (q.x - s.x) * (q.x - s.x) + (q.y - s.y) * (q.y - s.y)
           <= {_DB_RADIUS * _DB_RADIUS}
    ), ranked AS (
      SELECT q_id, s_id, dist2,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY dist2, s_id) AS BIGINT) AS rnk
      FROM cand
    )
    SELECT q_id, s_id, dist2, rnk FROM ranked WHERE rnk <= {_KNN_K}
    """

register(GEO, "knn_radius_join", _q_knn_radius, _KNN_RADIUS_SQL)


# --------------------------------------------------------------------------
# Bounded-depth BFS from a seed set (operators/graph.py) over the same
# deterministic link graph as `pagerank_links`. Oracle unrolls the
# frontier rounds as CTEs (one per hop, anti-join via NOT IN).

_BFS_HOPS = 4
_BFS_SEED_MOD = 37


def _q_bfs_hops(spark, sf_dir):
    from .operators.graph import bfs_levels

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
        .localCheckpoint(eager=True)
    )
    seeds = d.where(F.col("doc_id") % _BFS_SEED_MOD == 0).select(
        F.col("doc_id").alias("node")
    )
    return bfs_levels(edges, seeds, _BFS_HOPS).select("node", "hop")


def _bfs_sql() -> str:
    head = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    edges AS (
        SELECT DISTINCT src, dst FROM (
            SELECT doc_id AS src,
                   (doc_id * 31 + j * 17) % (SELECT n FROM nn) AS dst
            FROM documents, unnest([1, 2, 3]) AS u(j)
        ) WHERE dst <> src
    ),
    h0 AS (
        SELECT doc_id AS node, CAST(0 AS BIGINT) AS hop
        FROM documents WHERE doc_id % {_BFS_SEED_MOD} = 0
    )"""
    parts = [head]
    for k in range(1, _BFS_HOPS + 1):
        parts.append(f""",
    f{k} AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN h{k - 1} p ON p.node = e.src
        WHERE e.dst NOT IN (SELECT node FROM h{k - 1})
    ),
    h{k} AS (
        SELECT node, hop FROM h{k - 1}
        UNION ALL
        SELECT node, CAST({k} AS BIGINT) AS hop FROM f{k}
    )""")
    parts.append(f"\n    SELECT node, hop FROM h{_BFS_HOPS}\n    ")
    return "".join(parts)


register(TEXT, "bfs_hops", _q_bfs_hops, _bfs_sql())


# --------------------------------------------------------------------------
# Geohash encode (geo/geohash.py): the 30-bit interleaved value and the
# 6-char base32 string per geotagged page, all whole-stage codegen.


def _q_geohash_encode(spark, sf_dir):
    from .geo import geohash
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    gh = geohash.encode_int_col(F.col("lat"), F.col("lon"))
    return pts.select(
        "url",
        gh.alias("gh_int"),
        geohash.encode_str_col(gh).alias("geohash"),
    )


def _geohash_sql() -> str:
    from .geo import geohash
    from .oracles import pts_cte

    return f"""
    WITH pts AS ({pts_cte()}),
    enc AS (
      SELECT url, {geohash.encode_int_sql("lat", "lon")} AS gh_int FROM pts
    )
    SELECT url, gh_int, {geohash.encode_str_sql("gh_int")} AS geohash
    FROM enc
    """


register(GEO, "geohash_encode", _q_geohash_encode, _geohash_sql())


# --------------------------------------------------------------------------
# Ring validity (operators/segments.ring_self_intersections): OGC
# simple-ring check — non-adjacent edge pairs must not intersect.
# Fixture: 48 rings; every k % 3 == 2 is a bowtie (one proper
# self-crossing), the rest are convex octagons (valid). The oracle
# rebuilds the identical edges from the same integer arithmetic and
# replays the O(e^2) pair test.

_RING_N = 48
_RING_BOWTIE = [(0, 0), (4, 4), (4, 0), (0, 4)]
_RING_OCTAGON = [(2, 0), (4, 0), (6, 2), (6, 4), (4, 6), (2, 6), (0, 4), (0, 2)]


def _ring_fixture_rows():
    rows = []
    for k in range(_RING_N):
        s = 1 + k % 4
        dx, dy = 20 * k, 10 * k
        tpl = _RING_BOWTIE if k % 3 == 2 else _RING_OCTAGON
        flat: list[float] = []
        for x, y in tpl:
            flat += [float(s * x + dx), float(s * y + dy)]
        rows.append((k, flat))
    return rows


def _q_ring_validity(spark, sf_dir):
    from .operators.segments import ring_self_intersections

    rings = spark.createDataFrame(
        _ring_fixture_rows(), schema="ring_id long, coords_flat array<double>"
    )
    return ring_self_intersections(rings)


def _ring_validity_sql() -> str:
    oct_tpl = "[" + ", ".join(f"[{x}, {y}]" for x, y in _RING_OCTAGON) + "]"
    bow_tpl = "[" + ", ".join(f"[{x}, {y}]" for x, y in _RING_BOWTIE) + "]"
    return f"""
    WITH r AS (SELECT unnest(range({_RING_N})) AS k),
    tpl AS (
      SELECT k, 1 + k % 4 AS s, 20 * k AS dx, 10 * k AS dy,
             CASE WHEN k % 3 = 2 THEN {bow_tpl} ELSE {oct_tpl} END AS t
      FROM r
    ),
    edges AS (
      SELECT k AS ring_id, len(t) AS nv, i,
             s * t[i + 1][1] + dx AS x1, s * t[i + 1][2] + dy AS y1,
             s * t[((i + 1) % len(t)) + 1][1] + dx AS x2,
             s * t[((i + 1) % len(t)) + 1][2] + dy AS y2
      FROM (SELECT *, unnest(range(len(t))) AS i FROM tpl)
    ),
    pr AS (
      SELECT a.ring_id,
        (b.x2 - b.x1) * (a.y1 - b.y1) - (b.y2 - b.y1) * (a.x1 - b.x1) AS d1,
        (b.x2 - b.x1) * (a.y2 - b.y1) - (b.y2 - b.y1) * (a.x2 - b.x1) AS d2,
        (a.x2 - a.x1) * (b.y1 - a.y1) - (a.y2 - a.y1) * (b.x1 - a.x1) AS d3,
        (a.x2 - a.x1) * (b.y2 - a.y1) - (a.y2 - a.y1) * (b.x2 - a.x1) AS d4,
        a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
        b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
      FROM edges a JOIN edges b
        ON a.ring_id = b.ring_id AND b.i > a.i + 1
       AND NOT (a.i = 0 AND b.i = a.nv - 1)
    ),
    hits AS (
      SELECT ring_id,
        CASE WHEN (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                   AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0)))
          OR (d1 = 0 AND ax1 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                     AND ay1 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d2 = 0 AND ax2 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                     AND ay2 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d3 = 0 AND bx1 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by1 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
          OR (d4 = 0 AND bx2 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by2 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
        THEN 1 ELSE 0 END AS hit
      FROM pr
    ),
    counts AS (SELECT ring_id, sum(hit) AS n_bad FROM hits GROUP BY ring_id)
    SELECT r.k AS ring_id,
           CAST(coalesce(c.n_bad, 0) AS BIGINT) AS n_bad,
           coalesce(c.n_bad, 0) = 0 AS is_valid
    FROM r LEFT JOIN counts c ON c.ring_id = r.k
    """


register(GEO, "ring_validity", _q_ring_validity, _ring_validity_sql())


# --------------------------------------------------------------------------
# Interval overlap self-join (operators/temporal.interval_overlap_join):
# the 1-D distance-band analogue for time ranges — "pairs of fetch
# windows that overlapped". Bucketed candidates, one shuffle; each
# overlapping pair surfaces exactly once (at the bucket containing the
# later start). Half-open [st, en) semantics.

_IV_BUCKET = 64


def _q_interval_overlap(spark, sf_dir):
    from .operators.temporal import interval_overlap_join

    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 5 == 0)
    iv = e.select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 7) % 5000).alias("st"),
        ((F.col("event_id") * 7) % 5000 + (F.col("event_id") * 13) % 50 + 1).alias(
            "en"
        ),
    )
    return interval_overlap_join(iv, "id", "st", "en", _IV_BUCKET)


_INTERVAL_SQL = """
    WITH iv AS (
      SELECT event_id AS id,
             (event_id * 7) % 5000 AS st,
             (event_id * 7) % 5000 + (event_id * 13) % 50 + 1 AS en
      FROM events WHERE event_id % 5 = 0
    )
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(least(a.en, b.en) - greatest(a.st, b.st) AS BIGINT) AS ov_len
    FROM iv a JOIN iv b
      ON a.id < b.id AND a.st < b.en AND b.st < a.en
    """

register(TEXT, "interval_overlap_join", _q_interval_overlap, _INTERVAL_SQL)


# --------------------------------------------------------------------------
# Rendezvous (HRW) consistent hashing: shard assignment at N=8 and N=9
# shards. HRW's minimal-movement property — growing the pool only moves
# keys TO the new shard — is pinned by pytest; here both assignments
# and the moved flag are oracle-checked. Score arithmetic is pure
# BIGINT (p = 2^31 - 1 keeps h*h inside int64 on both engines).

_CH_P = 2147483647


def _ch_score(d, s: int):
    h = ((d % _CH_P) * 1000003 + F.lit(s * 9176 + 12345)) % _CH_P
    return (h * h + F.lit(s)) % _CH_P


def _q_consistent_hash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")

    def argmax(n: int):
        arr = F.array(
            *[
                F.struct(_ch_score(doc, s).alias("sc"), F.lit(s).cast("long").alias("s"))
                for s in range(n)
            ]
        )
        return F.array_max(arr).getField("s")

    return d.select(
        "doc_id",
        argmax(8).alias("shard8"),
        argmax(9).alias("shard9"),
        (argmax(8) != argmax(9)).alias("moved"),
    )


def _consistent_hash_sql() -> str:
    def score(s: int) -> str:
        h = f"((doc_id % {_CH_P}) * 1000003 + {s * 9176 + 12345}) % {_CH_P}"
        return f"(({h}) * ({h}) + {s}) % {_CH_P}"

    def argmax(n: int) -> str:
        # max over (score, s) pairs == array_max on struct(sc, s)
        terms = ", ".join(f"({score(s)}, {s})" for s in range(n))
        return (
            f"CAST((SELECT u.p[2] FROM (SELECT unnest([{terms}]) AS p) u "
            f"ORDER BY u.p[1] DESC, u.p[2] DESC LIMIT 1) AS BIGINT)"
        )

    return f"""
    SELECT doc_id,
           {argmax(8)} AS shard8,
           {argmax(9)} AS shard9,
           {argmax(8)} <> {argmax(9)} AS moved
    FROM documents
    """


register(TEXT, "consistent_hash_assign", _q_consistent_hash, _consistent_hash_sql())


# --------------------------------------------------------------------------
# Crawl politeness schedule: per-host fetch slots (row_number over
# priority) times the host's crawl delay — the frontier-scheduling
# step between robots filtering and fetching.


def _q_politeness(spark, sf_dir):
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    host_num = F.col("doc_id") % 50
    w = Window.partitionBy("host").orderBy("priority", "doc_id")
    return (
        d.select(
            "doc_id",
            F.concat(F.lit("h"), host_num.cast("string")).alias("host"),
            ((F.col("doc_id") * 7919) % 100003).alias("priority"),
            (F.lit(2) + host_num % 4).alias("delay"),
        )
        .withColumn("slot", (F.row_number().over(w) - 1).cast("long"))
        .select(
            "doc_id",
            "host",
            "slot",
            (F.col("slot") * F.col("delay")).cast("long").alias("fetch_at"),
        )
    )


_POLITENESS_SQL = """
    WITH q AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
             (doc_id * 7919) % 100003 AS priority,
             2 + (doc_id % 50) % 4 AS delay
      FROM documents
    )
    SELECT doc_id, host,
           CAST(row_number() OVER (PARTITION BY host ORDER BY priority, doc_id)
                - 1 AS BIGINT) AS slot,
           CAST((row_number() OVER (PARTITION BY host ORDER BY priority, doc_id)
                - 1) * delay AS BIGINT) AS fetch_at
    FROM q
    """

register(TEXT, "politeness_schedule", _q_politeness, _POLITENESS_SQL)
