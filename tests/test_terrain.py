"""Round-5d terrain + text-stage operators: Horn hillshade, overview
pyramid, marching-squares contours, Kneser-Ney scoring, weighted-mix
sampling, RAG chunking — brute-force/closed-form kernel checks, plan
audits (no cartesian products, no Python stages), and full oracle
parity for every registered query."""

from __future__ import annotations

import math

import numpy as np
import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def _grid_df(spark, z):
    """(H, W) int array -> cells DataFrame."""
    rows = [
        (int(x), int(y), int(z[y, x]))
        for y in range(z.shape[0])
        for x in range(z.shape[1])
    ]
    return spark.createDataFrame(rows, schema="gx long, gy long, elev long")


# ---------------------------------------------------------------- hillshade


def _horn_py(z, x, y):
    """Brute-force Horn 8x derivatives at interior (x, y); z[y, x]."""
    a, b, c = z[y + 1, x - 1], z[y + 1, x], z[y + 1, x + 1]  # NW N NE
    d, f = z[y, x - 1], z[y, x + 1]  # W E
    g, h, i = z[y - 1, x - 1], z[y - 1, x], z[y - 1, x + 1]  # SW S SE
    dzdx8 = (c + 2 * f + i) - (a + 2 * d + g)
    dzdy8 = (a + 2 * b + c) - (g + 2 * h + i)
    return int(dzdx8), int(dzdy8)


def test_hillshade_matches_bruteforce(spark):
    from hand_index_spark.operators.terrain import SUN, hillshade_cells

    rng = np.random.default_rng(7)
    z = rng.integers(0, 97, size=(6, 7)).astype(np.int64)
    out = {
        (r["gx"], r["gy"]): r
        for r in hillshade_cells(_grid_df(spark, z)).collect()
    }
    assert len(out) == (7 - 2) * (6 - 2)  # interior only
    sx, sy, sz = SUN
    s_norm = math.sqrt(sx * sx + sy * sy + sz * sz)
    for y in range(1, 5):
        for x in range(1, 6):
            dzdx8, dzdy8 = _horn_py(z, x, y)
            r = out[(x, y)]
            assert r["dzdx8"] == dzdx8 and r["dzdy8"] == dzdy8
            assert r["slope_sq"] == dzdx8 * dzdx8 + dzdy8 * dzdy8
            shade = (8 * sz - sx * dzdx8 - sy * dzdy8) / (
                math.sqrt(float(dzdx8 * dzdx8 + dzdy8 * dzdy8 + 64)) * s_norm
            )
            assert r["shade_micro"] == math.floor(1e6 * shade)


def test_hillshade_flat_plane_and_octants(spark):
    from hand_index_spark.operators.terrain import hillshade_cells

    # constant surface: zero gradient, octant 8 (flat), shade =
    # 16 / (8 * sqrt(6)) scaled
    z = np.full((4, 4), 42, dtype=np.int64)
    rows = hillshade_cells(_grid_df(spark, z)).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r["dzdx8"], r["dzdy8"], r["octant"]) == (0, 0, 8)
        assert r["shade_micro"] == math.floor(1e6 * 16 / (8 * math.sqrt(6)))
    # east-rising ramp z = x: dzdx8 = 8 -> downslope vector (-8, 0),
    # theta = 180 deg -> sector 3 ((135, 180])
    zx = np.fromfunction(lambda y, x: x, (4, 4), dtype=np.int64)
    for r in hillshade_cells(_grid_df(spark, zx)).collect():
        assert (r["dzdx8"], r["dzdy8"], r["octant"]) == (8, 0, 3)
    # north-rising ramp (gy north): downslope (0, -8), theta = 270 deg
    # -> sector 5 ((225, 270])
    zy = np.fromfunction(lambda y, x: y, (4, 4), dtype=np.int64)
    for r in hillshade_cells(_grid_df(spark, zy)).collect():
        assert (r["dzdx8"], r["dzdy8"], r["octant"]) == (0, 8, 5)


# ---------------------------------------------------------------- overviews


def test_overview_pyramid_matches_direct(spark):
    from hand_index_spark.operators.terrain import overview_pyramid

    rng = np.random.default_rng(11)
    z = rng.integers(0, 255, size=(9, 13)).astype(np.int64)  # ragged dims
    got = {
        (r["lvl"], r["gx"], r["gy"]): (r["z_sum"], r["z_cnt"], r["z_min"], r["z_max"])
        for r in overview_pyramid(_grid_df(spark, z), levels=3).collect()
    }
    want = {}
    for lvl in (1, 2, 3):
        blk = 1 << lvl
        acc: dict = {}
        for y in range(9):
            for x in range(13):
                k = (lvl, x // blk, y // blk)
                s, c, mn, mx = acc.get(k, (0, 0, 10**9, -(10**9)))
                v = int(z[y, x])
                acc[k] = (s + v, c + 1, min(mn, v), max(mx, v))
        want.update(acc)
    assert got == want


# ---------------------------------------------------------- marching squares


def _ms_bruteforce(z, t):
    """Independent marching-squares implementation (dict-driven, same
    published case table) -> set of output rows."""
    segs_by_case = {
        0: [], 1: [(3, 0)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
        5: [(3, 0), (1, 2)], 6: [(0, 2)], 7: [(3, 2)], 8: [(2, 3)],
        9: [(0, 2)], 10: [(0, 1), (2, 3)], 11: [(1, 2)], 12: [(3, 1)],
        13: [(0, 1)], 14: [(3, 0)], 15: [],
    }
    out = set()
    H, W = z.shape
    for y in range(H - 1):
        for x in range(W - 1):
            z00, z10 = int(z[y, x]), int(z[y, x + 1])
            z01, z11 = int(z[y + 1, x]), int(z[y + 1, x + 1])
            case = (
                (z00 >= t) + 2 * (z10 >= t) + 4 * (z11 >= t) + 8 * (z01 >= t)
            )

            def pt(e):
                if e == 0:
                    return (x + (t - z00) / (z10 - z00), float(y))
                if e == 1:
                    return (x + 1.0, y + (t - z10) / (z11 - z10))
                if e == 2:
                    return (x + (t - z01) / (z11 - z01), y + 1.0)
                return (float(x), y + (t - z00) / (z01 - z00))

            for i, (e1, e2) in enumerate(segs_by_case[case]):
                (x1, y1), (x2, y2) = pt(e1), pt(e2)
                out.add(
                    (x, y, case, i, e1, e2,
                     math.floor(1000 * x1), math.floor(1000 * y1),
                     math.floor(1000 * x2), math.floor(1000 * y2))
                )
    return out


def test_contours_match_bruteforce(spark):
    from hand_index_spark.operators.terrain import contour_segments

    rng = np.random.default_rng(3)
    z = rng.integers(0, 97, size=(8, 9)).astype(np.int64)
    t = 48
    got = {
        (r["gx"], r["gy"], r["ms_case"], r["seg_idx"], r["e1"], r["e2"],
         r["x1_mil"], r["y1_mil"], r["x2_mil"], r["y2_mil"])
        for r in contour_segments(_grid_df(spark, z), t).collect()
    }
    assert got == _ms_bruteforce(z, t)
    assert got  # non-trivial fixture actually crosses the isoline


def test_contours_saddle_rule_separate_corners(spark):
    from hand_index_spark.operators.terrain import contour_segments

    # case 5: z00, z11 above; z10, z01 below -> two segments keeping
    # the inside corners separate: (3,0) and (1,2)
    z = np.array([[100, 0], [0, 100]], dtype=np.int64)
    rows = contour_segments(_grid_df(spark, z), 48).collect()
    assert sorted((r["e1"], r["e2"]) for r in rows) == [(1, 2), (3, 0)]
    assert {r["ms_case"] for r in rows} == {5}
    # case 10 mirrors it
    z10 = np.array([[0, 100], [100, 0]], dtype=np.int64)
    rows = contour_segments(_grid_df(spark, z10), 48).collect()
    assert sorted((r["e1"], r["e2"]) for r in rows) == [(0, 1), (2, 3)]


def test_contours_closed_loop_around_peak(spark):
    from hand_index_spark.operators.terrain import contour_segments

    # single peak in a flat plain: the isoline is one closed loop ->
    # 4 segments forming a diamond with endpoints meeting edge-to-edge
    z = np.zeros((3, 3), dtype=np.int64)
    z[1, 1] = 100
    rows = contour_segments(_grid_df(spark, z), 50).collect()
    assert len(rows) == 4
    pts: dict = {}
    for r in rows:
        for p in [(r["x1_mil"], r["y1_mil"]), (r["x2_mil"], r["y2_mil"])]:
            pts[p] = pts.get(p, 0) + 1
    # closed loop: every vertex is shared by exactly two segments
    assert set(pts.values()) == {2}


# ------------------------------------------------------------- plan audits


def test_terrain_plans_are_scale_safe(spark):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, TEXTOPS as TEXT5D

    for key in ("hillshade_stats", "raster_overviews", "contour_segments",
                "weighted_sample_mix", "text_chunks"):
        fn = GEO5D.get(key) or TEXT5D[key]
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoop" not in plan, key
        assert "EvalPython" not in plan, key
    # the weighted sample must be a distributed TakeOrdered, not a
    # single-partition global sort/window
    plan = TEXT5D["weighted_sample_mix"](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # kneser_ney's only nested-loop is the 1-row scalar broadcast of
    # total bigram types (the lm_score shape): allow it, forbid a
    # cartesian
    plan = TEXT5D["kneser_ney_score"](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------ oracle parity


@pytest.mark.parametrize(
    "key",
    [
        "hillshade_stats",
        "raster_overviews",
        "contour_segments",
        "kneser_ney_score",
        "weighted_sample_mix",
        "text_chunks",
    ],
)
def test_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import (
        GEO_QUERIES as GEO5D,
        ORACLES as ORACLES5D,
        TEXTOPS as TEXT5D,
    )

    fn = GEO5D.get(key) or TEXT5D[key]
    assert_match(fn(spark, SF), ORACLES5D[key], con, key)


# --------------------------------------------------------------- KN kernel


def test_kneser_ney_hand_computed(spark, tmp_path):
    import pandas as pd

    from hand_index_spark.entry_queries_r5d import _q_kneser_ney

    # tiny corpus with known counts: "a b a b" + "a c"
    docs = pd.DataFrame(
        {"doc_id": [0, 1], "text": ["a b a b", "a c"],
         "lang": ["en", "en"], "source": ["s", "s"], "n_chars": [7, 3]}
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {r["doc_id"]: r for r in _q_kneser_ney(spark, str(tmp_path)).collect()}
    # bigrams: (a,b) x2, (b,a) x1, (a,c) x1 -> T = 3 types
    # c1(a) = 3, c1(b) = 1; n1f(a) = 2, n1f(b) = 1
    # n1b(b) = 1, n1b(a) = 1, n1b(c) = 1
    D = 0.75
    T = 3

    def p(c12, c1, n1f, n1b):
        return (max(c12 - D, 0.0) + D * n1f * (n1b / T)) / c1

    p_ab = p(2, 3, 2, 1)
    p_ba = p(1, 1, 1, 1)
    p_ac = p(1, 3, 2, 1)
    exp0 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 4)
    exp1 = round(math.log(p_ac), 4)
    assert out[0]["n_bigrams"] == 3
    assert abs(out[0]["avg_logprob"] - exp0) < 1e-9
    assert out[1]["n_bigrams"] == 1
    assert abs(out[1]["avg_logprob"] - exp1) < 1e-9


def test_text_chunks_windows_and_overlap(spark, tmp_path):
    import pandas as pd

    from hand_index_spark.entry_queries_r5d import _q_text_chunks

    toks = [f"t{i}" for i in range(75)]
    docs = pd.DataFrame(
        {"doc_id": [0, 1], "text": [" ".join(toks), "solo"],
         "lang": ["en", "en"], "source": ["s", "s"],
         "n_chars": [len(" ".join(toks)), 4]}
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    rows = {(r["doc_id"], r["chunk_idx"]): r
            for r in _q_text_chunks(spark, str(tmp_path)).collect()}
    # 75 tokens, window 40, stride 30 -> starts 0, 30, 60
    assert {k for k in rows if k[0] == 0} == {(0, 0), (0, 1), (0, 2)}
    assert rows[(0, 0)]["n_tokens"] == 40
    assert (rows[(0, 0)]["first_tok"], rows[(0, 0)]["last_tok"]) == ("t0", "t39")
    assert rows[(0, 1)]["n_tokens"] == 40
    assert (rows[(0, 1)]["first_tok"], rows[(0, 1)]["last_tok"]) == ("t30", "t69")
    assert rows[(0, 2)]["n_tokens"] == 15
    assert (rows[(0, 2)]["first_tok"], rows[(0, 2)]["last_tok"]) == ("t60", "t74")
    # overlap: chunk 1 re-covers t30..t39
    assert rows[(1, 0)]["n_tokens"] == 1
    assert rows[(1, 0)]["first_tok"] == "solo"


# ------------------------------------------------------------ map matching


def test_snap_to_segments_matches_bruteforce(spark):
    from hand_index_spark.operators.mapmatch import snap_to_segments

    rng = np.random.default_rng(5)
    n_pts, n_segs, R = 120, 25, 700
    pts = [(i, int(rng.integers(0, 8000)), int(rng.integers(0, 8000)))
           for i in range(n_pts)]
    segs = []
    for s in range(n_segs):
        x1, y1 = int(rng.integers(0, 7000)), int(rng.integers(0, 7000))
        segs.append((s, x1, y1, x1 + int(rng.integers(100, 1500)),
                     y1 + int(rng.integers(-1200, 1200))))
    pdf = spark.createDataFrame(pts, schema="p_id long, px long, py long")
    sdf = spark.createDataFrame(
        segs, schema="seg_id long, x1 long, y1 long, x2 long, y2 long"
    )
    got = {r["p_id"]: r for r in snap_to_segments(pdf, sdf, R).collect()}

    def d2_frac(px, py, x1, y1, x2, y2):
        dx, dy = x2 - x1, y2 - y1
        wx, wy = px - x1, py - y1
        len2 = dx * dx + dy * dy
        dot = wx * dx + wy * dy
        if dot <= 0:
            num = (wx * wx + wy * wy) * len2
        elif dot >= len2:
            vx, vy = px - x2, py - y2
            num = (vx * vx + vy * vy) * len2
        else:
            num = (wx * wx + wy * wy) * len2 - dot * dot
        return num, len2, max(0, min(dot, len2))

    for p_id, px, py in pts:
        best = None
        for s, x1, y1, x2, y2 in segs:
            num, len2, tcl = d2_frac(px, py, x1, y1, x2, y2)
            if num > R * R * len2:
                continue
            key = (num / len2, s)
            if best is None or key < best[0]:
                best = (key, s, num, len2, tcl, x1, y1, x2, y2)
        if best is None:
            assert p_id not in got
            continue
        _, s, num, len2, tcl, x1, y1, x2, y2 = best
        r = got[p_id]
        assert r["seg_id"] == s
        assert r["d2_micro"] == math.floor(1e6 * (num / len2))
        assert r["t_micro"] == math.floor(1e6 * (tcl / len2))
        t = tcl / len2
        assert r["sx_mil"] == math.floor(1000.0 * (x1 + t * (x2 - x1)))
        assert r["sy_mil"] == math.floor(1000.0 * (y1 + t * (y2 - y1)))


def test_snap_exact_on_segment_and_endpoint_clamp(spark):
    from hand_index_spark.operators.mapmatch import snap_to_segments

    sdf = spark.createDataFrame(
        [(0, 100, 100, 1100, 100)],
        schema="seg_id long, x1 long, y1 long, x2 long, y2 long",
    )
    pdf = spark.createDataFrame(
        [(0, 600, 100),   # exactly on the segment -> d2 = 0, t = 0.5
         (1, 50, 100),    # west of a -> clamps to a, d2 = 2500
         (2, 1400, 180)], # east of b -> clamps to b
        schema="p_id long, px long, py long",
    )
    out = {r["p_id"]: r for r in snap_to_segments(pdf, sdf, 800).collect()}
    assert out[0]["d2_micro"] == 0 and out[0]["t_micro"] == 500000
    assert out[0]["sx_mil"] == 600000 and out[0]["sy_mil"] == 100000
    assert out[1]["t_micro"] == 0 and out[1]["d2_micro"] == 2500 * 10**6
    assert out[1]["sx_mil"] == 100000
    assert out[2]["t_micro"] == 10**6
    assert out[2]["d2_micro"] == (300**2 + 80**2) * 10**6
    assert out[2]["sx_mil"] == 1100000 and out[2]["sy_mil"] == 100000


def test_snap_candidate_grid_finds_cross_cell_neighbors(spark):
    from hand_index_spark.operators.mapmatch import snap_to_segments

    # point and segment in DIFFERENT R-cells but within R: the
    # R-expanded bbox cell explosion must still pair them
    sdf = spark.createDataFrame(
        [(0, 1000, 1000, 1500, 1000)],
        schema="seg_id long, x1 long, y1 long, x2 long, y2 long",
    )
    pdf = spark.createDataFrame(
        [(0, 2100, 1050)],  # cell (2100 div 700 = 3) vs seg cells 1..2
        schema="p_id long, px long, py long",
    )
    out = snap_to_segments(pdf, sdf, 700).collect()
    assert len(out) == 1 and out[0]["seg_id"] == 0
    # d2 = (2100-1500)^2 + 50^2 (clamped to b), within 700^2
    assert out[0]["d2_micro"] == (600**2 + 50**2) * 10**6


def test_snap_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, ORACLES as ORACLES5D

    assert_match(GEO5D["snap_points"](spark, SF), ORACLES5D["snap_points"],
                 con, "snap_points")


def test_snap_plan_is_scale_safe(spark):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D

    plan = GEO5D["snap_points"](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


# ---------------------------------------------------------- geodesic area


def test_spherical_area_rectangle_analytic(spark):
    from hand_index_spark.geo.sphere import EARTH_RADIUS_M, spherical_ring_area

    # spherical rectangle [phs, phn] x [lw, le]: exact area is
    # R^2 * dlam * (sin(phn) - sin(phs))
    phs, phn, lw, le = 30000, 34000, -100000, -95000
    ring = [(0, 0, phs, lw), (0, 1, phs, le), (0, 2, phn, le), (0, 3, phn, lw)]
    df = spark.createDataFrame(
        ring, schema="ring_id long, pos long, lat_md long, lon_md long"
    )
    out = spherical_ring_area(df).collect()[0]
    rad = math.pi / 180000.0
    exact = (
        EARTH_RADIUS_M ** 2
        * ((le - lw) * rad)
        * (math.sin(phn * rad) - math.sin(phs * rad))
    )
    assert out["n_vertices"] == 4
    assert abs(out["area_floor_sqm"] - exact) / exact < 1e-9


def test_spherical_area_orientation_and_subdivision(spark):
    from hand_index_spark.geo.sphere import spherical_ring_area

    phs, phn, lw, le = 45000, 47000, 10000, 13000
    cw = [(0, 0, phs, lw), (0, 1, phs, le), (0, 2, phn, le), (0, 3, phn, lw)]
    ccw = [(1, i, lat, lon) for i, (_, _, lat, lon) in enumerate(cw[::-1])]
    # subdividing the south edge must not change the area (extra vertex
    # on the same parallel splits one term linearly)
    sub = [(2, 0, phs, lw), (2, 1, phs, (lw + le) // 2), (2, 2, phs, le),
           (2, 3, phn, le), (2, 4, phn, lw)]
    df = spark.createDataFrame(
        cw + ccw + sub, schema="ring_id long, pos long, lat_md long, lon_md long"
    )
    out = {r["ring_id"]: r["area_floor_sqm"]
           for r in spherical_ring_area(df).collect()}
    assert abs(out[0] - out[1]) <= 1  # reversal: same |area| up to 1 ulp-floor
    assert abs(out[0] - out[2]) <= 1


def test_geodesic_area_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, ORACLES as ORACLES5D

    assert_match(GEO5D["geodesic_area"](spark, SF), ORACLES5D["geodesic_area"],
                 con, "geodesic_area")


def test_geodesic_area_plan_join_free(spark):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D

    plan = GEO5D["geodesic_area"](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


# ----------------------------------------------------------- streaming topk


def test_stream_topk_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5D, TEXTOPS as TEXT5D

    assert_match(TEXT5D["stream_topk"](spark, SF), ORACLES5D["stream_topk"],
                 con, "stream_topk")


def test_stream_topk_rank_semantics(spark):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5D

    rows = TEXT5D["stream_topk"](spark, SF).collect()
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r["day"], []).append((r["rnk"], r["n"], r["user_id"]))
    for day, rs in by_day.items():
        rs.sort()
        assert [r[0] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # counts are non-increasing with rank; ties break by user_id asc
        for (r1, n1, u1), (r2, n2, u2) in zip(rs, rs[1:]):
            assert n1 > n2 or (n1 == n2 and u1 < u2)


# -------------------------------------------------- DEM decode-path hillshade


def test_dem_hillshade_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5D, TEXTOPS as TEXT5D

    assert_match(TEXT5D["dem_hillshade_stats"](spark, SF),
                 ORACLES5D["dem_hillshade_stats"], con, "dem_hillshade_stats")


def test_dem_hillshade_matches_grid_operator(spark):
    """The Arrow-batch Horn kernel (through the real PNG decode) and the
    Catalyst hillshade_cells operator must agree on the same surface."""
    from hand_index_spark.operators.terrain import hillshade_cells

    did, w, h = 7, 9 + 7 % 5, 9 + 7 % 3
    rows = [
        (x, y, (3 * x + 5 * y + (x * y) % 7 + did) % 256)
        for x in range(w) for y in range(h)
    ]
    cells = spark.createDataFrame(rows, schema="gx long, gy long, elev long")
    grid = hillshade_cells(cells).collect()
    max_s2 = max(r["slope_sq"] for r in grid)
    steep = sum(1 for r in grid if r["slope_sq"] >= 512)

    from hand_index_spark.entry_queries import TEXTOPS as TEXT5D
    out = {r["doc_id"]: r
           for r in TEXT5D["dem_hillshade_stats"](spark, SF).collect()}
    assert out[did]["max_slope_sq"] == max_s2
    assert out[did]["steep_cells"] == steep
    assert out[did]["n_interior"] == (w - 2) * (h - 2) == len(grid)


# ------------------------------------------------------------- resampling


def test_resample_polyline_straight_line(spark):
    from hand_index_spark.operators.interpolate import resample_polyline

    # straight horizontal track of length 1000, spacing 300:
    # samples at s = 0, 300, 600, 900
    pts = [(0, i, i * 250, 50) for i in range(5)]
    df = spark.createDataFrame(pts, schema="traj_id long, pos long, x long, y long")
    out = sorted((r["k"], r["sx_mil"], r["sy_mil"], r["seg_idx"])
                 for r in resample_polyline(df, 300).collect())
    assert out == [(0, 0, 50000, 0), (1, 300000, 50000, 1),
                   (2, 600000, 50000, 2), (3, 900000, 50000, 3)]


def test_resample_polyline_bruteforce(spark):
    from hand_index_spark.operators.interpolate import resample_polyline

    rng = np.random.default_rng(13)
    trajs = {}
    rows = []
    for t in range(6):
        n = int(rng.integers(3, 12))
        xs = np.cumsum(rng.integers(50, 300, size=n))
        ys = rng.integers(0, 500, size=n)
        trajs[t] = list(zip(xs.tolist(), ys.tolist()))
        rows += [(t, i, int(x), int(y)) for i, (x, y) in enumerate(trajs[t])]
    df = spark.createDataFrame(rows, schema="traj_id long, pos long, x long, y long")
    got = {(r["traj_id"], r["k"]): (r["seg_idx"], r["sx_mil"], r["sy_mil"])
           for r in resample_polyline(df, 200).collect()}
    want = {}
    for t, vs in trajs.items():
        lens = [math.sqrt((vs[i + 1][0] - vs[i][0]) ** 2
                          + (vs[i + 1][1] - vs[i][1]) ** 2)
                for i in range(len(vs) - 1)]
        # left-assoc folds exactly as the operator defines them
        def cum(j):
            a = 0.0
            for x in lens[:j]:
                a = a + x
            return a
        total = cum(len(lens))
        for k in range(int(math.floor(total / 200.0)) + 1):
            ksp = float(k) * 200.0
            j = max(i for i in range(len(lens)) if cum(i) <= ksp)
            tt = (ksp - cum(j)) / lens[j]
            sx = vs[j][0] + tt * (vs[j + 1][0] - vs[j][0])
            sy = vs[j][1] + tt * (vs[j + 1][1] - vs[j][1])
            want[(t, k)] = (j, math.floor(1000.0 * sx), math.floor(1000.0 * sy))
    assert got == want


def test_resample_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, ORACLES as ORACLES5D

    assert_match(GEO5D["resample_traj"](spark, SF), ORACLES5D["resample_traj"],
                 con, "resample_traj")


# ------------------------------------------------------------ polygonization


def _loops_of(spark, z, t):
    from hand_index_spark.operators.dedup import min_label_components
    from hand_index_spark.operators.terrain import contour_segments

    segs = contour_segments(_grid_df(spark, z), t)
    from pyspark.sql import functions as F
    sid = ((F.col("gx") * F.lit(1 << 21) + F.col("gy")) * 2 + F.col("seg_idx"))
    segs = segs.select(sid.alias("sid"), "x1_mil", "y1_mil", "x2_mil",
                       "y2_mil").localCheckpoint(eager=True)
    eps = segs.select("sid", (F.col("x1_mil") * (1 << 22) + F.col("y1_mil"))
                      .alias("ep")).unionByName(
        segs.select("sid", (F.col("x2_mil") * (1 << 22) + F.col("y2_mil"))
                    .alias("ep")))
    edges = (eps.select(F.col("sid").alias("a"), "ep")
             .join(eps.select(F.col("sid").alias("b"), "ep"), "ep")
             .where(F.col("a") < F.col("b")).select("a", "b").distinct())
    comp = min_label_components(segs.select(F.col("sid").alias("node")), edges)
    deg = eps.groupBy("ep").agg(F.count(F.lit(1)).alias("deg"))
    opens = (eps.join(deg.where(F.col("deg") == 1), "ep")
             .groupBy("sid").agg(F.count(F.lit(1)).alias("n_open")))
    per = comp.join(opens, comp.node == opens.sid, "left").select(
        F.col("label").alias("loop_id"),
        F.coalesce(F.col("n_open"), F.lit(0)).alias("n_open"))
    return {r["loop_id"]: (r["n"], r["o"]) for r in
            per.groupBy("loop_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_open").cast("long").alias("o")).collect()}


def test_contour_loops_single_peak_is_one_closed_loop(spark):
    z = np.zeros((3, 3), dtype=np.int64)
    z[1, 1] = 100
    loops = _loops_of(spark, z, 50)
    assert len(loops) == 1
    assert list(loops.values()) == [(4, 0)]  # 4 segments, closed


def test_contour_loops_two_peaks_two_loops(spark):
    z = np.zeros((3, 7), dtype=np.int64)
    z[1, 1] = 100
    z[1, 5] = 100
    loops = _loops_of(spark, z, 50)
    assert len(loops) == 2
    assert sorted(loops.values()) == [(4, 0), (4, 0)]


def test_contour_loops_ramp_is_open_polyline(spark):
    # z = gx ramp: one vertical isoline clipped at the grid edge ->
    # a single open chain with exactly 2 degree-1 endpoints
    z = np.fromfunction(lambda y, x: x, (5, 6), dtype=np.int64)
    loops = _loops_of(spark, z, 3)
    assert len(loops) == 1
    (n, o), = loops.values()
    assert n == 4 and o == 2


def test_contour_loops_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, ORACLES as ORACLES5D

    assert_match(GEO5D["contour_loops"](spark, SF), ORACLES5D["contour_loops"],
                 con, "contour_loops")


# --------------------------------------------------------------- viewshed


def test_viewshed_monotone_ridge_blocks(spark):
    from hand_index_spark.operators.terrain import ray_viewshed

    # flat plain with a wall at x=5: beyond the wall nothing is
    # visible along the east ray; the wall itself is
    z = np.zeros((1, 9), dtype=np.int64)
    z[0, 5] = 100
    out = {(r["ray"], r["k"]): r
           for r in ray_viewshed(_grid_df(spark, z), 2, 0).collect()}
    east = {k: v for (ray, k), v in out.items() if ray == 7}  # +x, dy=0
    assert east[1]["visible"] is True        # flat start visible
    assert east[2]["visible"] is False       # equal angle ties occlude
    assert east[3]["visible"] is True        # the wall towers above
    assert east[4]["visible"] is False       # shadowed behind the wall
    assert east[5]["visible"] is False
    west = {k: v for (ray, k), v in out.items() if ray == 1}
    assert west[1]["visible"] is True and west[2]["visible"] is False


def test_viewshed_rising_staircase_all_visible(spark):
    from hand_index_spark.operators.terrain import ray_viewshed

    # strictly accelerating climb along +x: every step's angle beats
    # the running max, so everything is visible
    z = np.array([[0, 1, 4, 9, 16, 25]], dtype=np.int64)
    out = {(r["ray"], r["k"]): r
           for r in ray_viewshed(_grid_df(spark, z), 0, 0).collect()}
    east = {k: v["visible"] for (ray, k), v in out.items() if ray == 7}
    assert east == {1: True, 2: True, 3: True, 4: True, 5: True}


def test_viewshed_eight_rays_partition(spark):
    from hand_index_spark.operators.terrain import ray_viewshed

    rng = np.random.default_rng(17)
    z = rng.integers(0, 50, size=(9, 9)).astype(np.int64)
    rows = ray_viewshed(_grid_df(spark, z), 4, 4).collect()
    rays = {}
    for r in rows:
        rays.setdefault(r["ray"], []).append(r["k"])
    assert len(rays) == 8 and 4 not in rays  # origin code never appears
    for ks in rays.values():
        assert sorted(ks) == [1, 2, 3, 4]


def test_viewshed_oracle_parity(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5D, ORACLES as ORACLES5D

    assert_match(GEO5D["ray_viewshed"](spark, SF), ORACLES5D["ray_viewshed"],
                 con, "ray_viewshed")
