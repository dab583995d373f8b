"""Round-5b operators: distance-band join, segment overlay, convex
hull, fixed-vocab BPE encode, time-series gap fill — kernel unit tests
plus full oracle parity for each registered query."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ---------------------------------------------------------------- kernels


def test_hull_indices_square_with_interior():
    from hand_index_spark.operators.hull import _hull_indices

    xs = np.array([0.0, 4.0, 4.0, 0.0, 2.0, 1.0, 3.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0, 2.0, 1.0, 3.0])
    idx = _hull_indices(xs, ys)
    assert sorted(idx.tolist()) == [0, 1, 2, 3]
    # CCW shoelace positive
    hx, hy = xs[idx], ys[idx]
    area2 = float(np.sum(hx * np.roll(hy, -1) - np.roll(hx, -1) * hy))
    assert area2 == 32.0  # 2 * 16


def test_hull_indices_drops_collinear():
    from hand_index_spark.operators.hull import _hull_indices

    # collinear midpoints on every edge of a triangle must not be vertices
    xs = np.array([0.0, 4.0, 0.0, 2.0, 2.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 0.0, 2.0, 2.0])
    idx = _hull_indices(xs, ys)
    assert sorted(idx.tolist()) == [0, 1, 2]


def test_distance_band_matches_bruteforce(spark):
    from hand_index_spark.operators.distance_join import distance_band_pairs

    rng = np.random.default_rng(7)
    pts = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(
        rng.integers(0, 300, size=(400, 2))
    )]
    df = spark.createDataFrame(pts, schema="id long, x long, y long")
    got = {
        (r.a_id, r.b_id, r.dist2)
        for r in distance_band_pairs(df, "id", "x", "y", 25).collect()
    }
    want = set()
    for i, xi, yi in pts:
        for j, xj, yj in pts:
            d2 = (xi - xj) ** 2 + (yi - yj) ** 2
            if i < j and d2 <= 625:
                want.add((i, j, d2))
    assert got == want


def test_segment_join_matches_bruteforce(spark):
    from hand_index_spark.operators.segments import segment_intersect_join

    rng = np.random.default_rng(11)

    def mk(n):
        xy = rng.integers(16, 200, size=(n, 2))
        d = rng.integers(0, 17, size=(n, 2))
        return [
            (i, int(x), int(y), int(x + dx - 8), int(y + dy - 8))
            for i, ((x, y), (dx, dy)) in enumerate(zip(xy, d))
        ]

    A, B = mk(120), mk(120)
    a = spark.createDataFrame(A, schema="a_id long, ax1 long, ay1 long, ax2 long, ay2 long")
    b = spark.createDataFrame(B, schema="b_id long, bx1 long, by1 long, bx2 long, by2 long")
    got = {(r.a_id, r.b_id) for r in segment_intersect_join(a, b, 24).collect()}

    def cross(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    def on_bbox(px, py, qx, qy, rx, ry):
        return min(px, qx) <= rx <= max(px, qx) and min(py, qy) <= ry <= max(py, qy)

    def hit(s, t):
        _, ax1, ay1, ax2, ay2 = s
        _, bx1, by1, bx2, by2 = t
        d1 = cross(bx1, by1, bx2, by2, ax1, ay1)
        d2 = cross(bx1, by1, bx2, by2, ax2, ay2)
        d3 = cross(ax1, ay1, ax2, ay2, bx1, by1)
        d4 = cross(ax1, ay1, ax2, ay2, bx2, by2)
        if ((d1 > 0) != (d2 > 0)) and d1 != 0 and d2 != 0 and \
           ((d3 > 0) != (d4 > 0)) and d3 != 0 and d4 != 0:
            return True
        if d1 == 0 and on_bbox(bx1, by1, bx2, by2, ax1, ay1):
            return True
        if d2 == 0 and on_bbox(bx1, by1, bx2, by2, ax2, ay2):
            return True
        if d3 == 0 and on_bbox(ax1, ay1, ax2, ay2, bx1, by1):
            return True
        if d4 == 0 and on_bbox(ax1, ay1, ax2, ay2, bx2, by2):
            return True
        return False

    want = {(s[0], t[0]) for s in A for t in B if hit(s, t)}
    assert got == want
    assert len(want) > 0  # fixture actually exercises the predicate


def test_gapfill_basic(spark):
    from hand_index_spark.operators.timeseries import gapfill_linear

    obs = spark.createDataFrame(
        [(1, 0, 10.0), (1, 4, 18.0), (1, 5, 20.0), (2, 7, 1.0)],
        schema="key long, t long, v double",
    )
    rows = {(r.key, r.t): (r.value, r.filled)
            for r in gapfill_linear(obs, "key", "t", "v").collect()}
    assert rows[(1, 0)] == (10.0, False)
    assert rows[(1, 1)] == (12.0, True)
    assert rows[(1, 2)] == (14.0, True)
    assert rows[(1, 3)] == (16.0, True)
    assert rows[(1, 4)] == (18.0, False)
    assert rows[(1, 5)] == (20.0, False)
    assert rows[(2, 7)] == (1.0, False)
    assert len(rows) == 7


def test_bpe_encode_merges_are_deterministic():
    from hand_index_spark.entry_queries_r5b import _BPE_MERGES, _train_merges_py, _BPE_SAMPLE

    assert _BPE_MERGES == _train_merges_py(_BPE_SAMPLE, 12)
    assert len(_BPE_MERGES) == 12
    # the sample is dominated by 'the ' / ' the' patterns — the first
    # merge must be a space-adjacent pair from it
    assert all(len(a) >= 1 and len(b) >= 1 for a, b in _BPE_MERGES)


def test_geohash_spec_vectors(spark):
    """encode_str_col must reproduce CANONICAL geohashes (Niemeyer spec)
    at 6-char precision — unlike h3lite, this codec is spec-exact."""
    from hand_index_spark.geo import geohash

    vectors = [
        (57.64911, 10.40744, "u4pruy"),   # the classic Jutland example
        (0.0, 0.0, "s00000"),
        (48.858, 2.294, "u09tun"),        # Eiffel tower
        (-33.8587, 151.2140, "r3gx2u"),   # Sydney
    ]
    df = spark.createDataFrame(
        [(la, lo, want) for la, lo, want in vectors],
        schema="lat double, lon double, want string",
    )
    got = df.select(
        geohash.encode_str_col(
            geohash.encode_int_col(F.col("lat"), F.col("lon"))
        ).alias("gh"),
        "want",
    ).collect()
    for r in got:
        assert r.gh == r.want, (r.gh, r.want)


def test_knn_radius_matches_bruteforce(spark):
    from hand_index_spark.operators.distance_join import knn_join_radius

    rng = np.random.default_rng(3)
    Q = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(rng.integers(0, 200, (60, 2)))]
    S = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(rng.integers(0, 200, (300, 2)))]
    qdf = spark.createDataFrame(Q, schema="qid long, x long, y long")
    sdf = spark.createDataFrame(S, schema="sid long, x long, y long")
    got = {(r.q_id, r.s_id, r.dist2, r.rnk)
           for r in knn_join_radius(qdf, "qid", sdf, "sid", "x", "y", 3, 40).collect()}
    want = set()
    for qi, qx, qy in Q:
        cands = sorted(
            ((qx - sx) ** 2 + (qy - sy) ** 2, si)
            for si, sx, sy in S
            if (qx - sx) ** 2 + (qy - sy) ** 2 <= 1600
        )
        for rnk, (d2, si) in enumerate(cands[:3], start=1):
            want.add((qi, si, d2, rnk))
    assert got == want and len(want) > 0


def test_bfs_levels_hand_graph(spark):
    from hand_index_spark.operators.graph import bfs_levels

    # 0 -> 1 -> 2 -> 3 -> 4 (chain), plus shortcut 0 -> 3, island 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)], schema="src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], schema="node long")
    got = {(r.node, r.hop) for r in bfs_levels(edges, seeds, 3).collect()}
    assert got == {(0, 0), (1, 1), (3, 1), (2, 2), (4, 2)}


def test_cell_pyramid_levels_consistent(spark):
    """Every level must sum to the same page total, and coarser levels
    can only merge cells (monotone non-increasing distinct count)."""
    from hand_index_spark.entry_queries_r5b import _q_cell_pyramid

    rows = _q_cell_pyramid(spark, SF).collect()
    by_res: dict[int, list] = {}
    for r in rows:
        by_res.setdefault(r.res, []).append(r)
    totals = {res: sum(r.n_pages for r in rs) for res, rs in by_res.items()}
    assert len(set(totals.values())) == 1, totals
    counts = [len(by_res[res]) for res in (5, 6, 7, 8, 9)]
    assert counts == sorted(counts), counts


def test_ring_validity_classification(spark):
    """Bowties (k % 3 == 2) invalid with exactly one bad pair; octagons
    valid — the closed-form expectation behind the SQL twin."""
    from hand_index_spark.entry_queries_r5b import _q_ring_validity

    for r in _q_ring_validity(spark, SF).collect():
        if r.ring_id % 3 == 2:
            assert not r.is_valid and r.n_bad == 1, r
        else:
            assert r.is_valid and r.n_bad == 0, r


def test_interval_overlap_matches_bruteforce(spark):
    from hand_index_spark.operators.temporal import interval_overlap_join

    rng = np.random.default_rng(5)
    iv = [
        (int(i), int(s), int(s + ln))
        for i, (s, ln) in enumerate(
            zip(rng.integers(0, 400, 200), rng.integers(1, 90, 200))
        )
    ]
    df = spark.createDataFrame(iv, schema="id long, st long, en long")
    got = {
        (r.a_id, r.b_id, r.ov_len)
        for r in interval_overlap_join(df, "id", "st", "en", 64).collect()
    }
    want = {
        (i, j, min(e1, e2) - max(s1, s2))
        for i, s1, e1 in iv
        for j, s2, e2 in iv
        if i < j and s1 < e2 and s2 < e1
    }
    assert got == want and len(want) > 0


def test_consistent_hash_minimal_movement(spark):
    """HRW property: growing 8 -> 9 shards only moves keys TO shard 8,
    and roughly 1/9 of them."""
    from hand_index_spark.entry_queries_r5b import _q_consistent_hash

    rows = _q_consistent_hash(spark, SF).collect()
    moved = [r for r in rows if r.moved]
    assert all(r.shard9 == 8 for r in moved)
    frac = len(moved) / len(rows)
    assert 0.03 < frac < 0.25, frac  # ~1/9 with fixture-size noise
    assert {r.shard8 for r in rows} <= set(range(8))
    assert {r.shard9 for r in rows} <= set(range(9))


# ---------------------------------------------------------------- oracles


@pytest.mark.parametrize(
    "key",
    [
        "distance_band_join",
        "segment_intersect_join",
        "convex_hull",
        "bpe_encode",
        "gapfill_interpolate",
        "cell_pyramid",
        "knn_radius_join",
        "bfs_hops",
        "geohash_encode",
        "ring_validity",
        "interval_overlap_join",
        "consistent_hash_assign",
        "politeness_schedule",
    ],
)
def test_oracle_parity(spark, con, key):
    from hand_index_spark.entry_queries import (
        GEO_QUERIES as GEO5B,
        ORACLES as ORACLES5B,
        TEXTOPS as TEXT5B,
    )

    fn = GEO5B.get(key) or TEXT5B[key]
    assert_match(fn(spark, SF), ORACLES5B[key], con, key)


def test_convex_hull_closed_form(spark):
    """Independent check against the analytic formulas (not just the
    SQL twin): hull_n = 2m+1, sum_hx = (2m+1)m, sum_hy = m(m+1)(2m+1)/3."""
    from hand_index_spark.entry_queries_r5b import _q_convex_hull

    for r in _q_convex_hull(spark, SF).collect():
        m = 4 + r.group_id % 4
        assert r.hull_n == 2 * m + 1
        assert r.sum_hx == (2 * m + 1) * m
        assert r.sum_hy == m * (m + 1) * (2 * m + 1) / 3
        assert r.hull_area2 > 0
