"""Round-5y operators: areal interpolation, discrete Frechet distance
— python replays plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"
TILE = 64


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_areal_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5Y, ORACLES as ORACLES5Y

    assert_match(
        GEO5Y["areal_interpolate"](spark, SF),
        ORACLES5Y["areal_interpolate"],
        con,
        "areal_interpolate",
    )


def test_areal_python_replay_and_conservation(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5Y

    tiles: dict = {}
    total_value_milli = 0
    floor_defect_bound = 0
    for doc_id, n_chars in con.sql(
        "SELECT doc_id, n_chars FROM documents"
    ).fetchall():
        x1 = (doc_id * 73) % 1000
        y1 = (doc_id * 131) % 1000
        w = 8 + (doc_id % 5) * 23
        h = 8 + ((doc_id * 7) % 5) * 23
        x2, y2 = x1 + w, y1 + h
        total = w * h
        total_value_milli += n_chars * 1000
        pieces = 0
        for tx in range(x1 // TILE, x2 // TILE + 1):
            for ty in range(y1 // TILE, y2 // TILE + 1):
                pa = max(0, min(x2, (tx + 1) * TILE) - max(x1, tx * TILE)) * \
                     max(0, min(y2, (ty + 1) * TILE) - max(y1, ty * TILE))
                if pa <= 0:
                    continue
                pieces += 1
                t = tiles.setdefault((tx, ty), [0, 0, 0])
                t[0] += 1
                t[1] += pa
                t[2] += (n_chars * pa * 1000) // total
        floor_defect_bound += pieces
    rows = {(r.tx, r.ty): r
            for r in GEO5Y["areal_interpolate"](spark, SF).collect()}
    assert set(rows) == set(tiles)
    for k, (n, cov, val) in tiles.items():
        r = rows[k]
        assert (r.n_pieces, r.covered_area, r.value_milli) == (n, cov, val)
    # conservation: allocations sum to the total value, short only by
    # the per-piece floor defect (< 1 milli per piece)
    alloc = sum(r.value_milli for r in rows.values())
    assert total_value_milli - floor_defect_bound <= alloc <= total_value_milli


def _frechet(a, b):
    big = 1_000_000_000_000_000
    prev = [0] + [big] * len(b)
    for lat, lon in a:
        new = [big]
        for j in range(1, len(b) + 1):
            d = abs(lat - b[j - 1][0]) + abs(lon - b[j - 1][1])
            new.append(max(d, min(prev[j], new[j - 1], prev[j - 1])))
        prev = new
    return prev[len(b)]


def test_frechet_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5Y, ORACLES as ORACLES5Y

    assert_match(
        GEO5Y["frechet_distance"](spark, SF),
        ORACLES5Y["frechet_distance"],
        con,
        "frechet_distance",
    )


def test_frechet_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5Y
    from hand_index_spark.entry_queries_r5y import _FR_CAP, _FR_M

    b = [((40000 + (j * 977) % 3000), ((j * 1409) % 4000 - 2000))
         for j in range(1, _FR_M + 1)]
    series: dict = {}
    for u, eid in con.sql(
        "SELECT user_id, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        s = series.setdefault(u, [])
        if len(s) < _FR_CAP:
            s.append((40000 + (eid * 991) % 3000, (eid * 1637) % 4000 - 2000))
    rows = {r.user_id: r
            for r in GEO5Y["frechet_distance"](spark, SF).collect()}
    assert set(rows) == set(series)
    for u, a in series.items():
        r = rows[u]
        assert (r.n_a, r.n_b) == (len(a), _FR_M)
        fr = _frechet(a, b)
        assert r.frechet_milli_deg == fr
        # Frechet >= the max-min lower bound: every a-point must couple
        # to some b-point, so fr >= max_i min_j d(i, j)
        lb = max(min(abs(la - lb_) + abs(lo - lo_) for lb_, lo_ in b)
                 for la, lo in a)
        assert fr >= lb
    assert _frechet(b, b) == 0
