"""Round-5ff operators: point-set diameter, time-weighted average —
python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_diameter_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5FF
    from hand_index_spark.queries.geo import _DIAM_CAP

    pts: dict = {}
    for u, eid in con.sql(
        "SELECT user_id, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        s = pts.setdefault(u, [])
        if len(s) < _DIAM_CAP:
            s.append((eid, 40000 + (eid * 991) % 3000,
                      (eid * 1637) % 4000 - 2000))
    rows = {r.user_id: r for r in GEO5FF["point_diameter"](spark, SF).collect()}
    assert set(rows) == {u for u, s in pts.items() if len(s) >= 2}
    for u, s in pts.items():
        if len(s) < 2:
            continue
        best = None
        for i in range(len(s)):
            for j in range(len(s)):
                ei, lati, loni = s[i]
                ej, latj, lonj = s[j]
                if ei >= ej:
                    continue
                d2 = (lati - latj) ** 2 + (loni - lonj) ** 2
                key = (-d2, ei, ej)
                if best is None or key < best[0]:
                    best = (key, ei, ej, d2)
        r = rows[u]
        assert (r.eid_a, r.eid_b, r.diameter2) == (best[1], best[2], best[3])
        # the diameter dominates every pairwise distance by definition
        # and is bounded by the grid's max extent
        assert r.diameter2 <= 3000 ** 2 + 4000 ** 2


def test_twap_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5FF

    evs: dict = {}
    for u, us, v in con.sql(
        "SELECT user_id, epoch_us(ts), value FROM events"
    ).fetchall():
        evs.setdefault(u, []).append((us // 1000, math.floor(v * 100 + 0.5)))
    rows = {r.user_id: r for r in TEXT5FF["twap_value"](spark, SF).collect()}
    for u, pts in evs.items():
        pts.sort()
        t0, t1 = pts[0][0], pts[-1][0]
        if t1 <= t0:
            assert u not in rows
            continue
        ws = sum(
            vc * (pts[i + 1][0] - tms)
            for i, (tms, vc) in enumerate(pts[:-1])
        )
        r = rows[u]
        assert (r.n_events, r.duration_ms, r.weighted_sum) == (
            len(pts), t1 - t0, ws,
        )
        assert r.twap_millicents == 1000 * ws // (t1 - t0)
        # TWAP sits inside the value envelope (x1000)
        vmin = min(vc for _, vc in pts[:-1])
        vmax = max(vc for _, vc in pts[:-1])
        assert 1000 * vmin <= r.twap_millicents <= 1000 * vmax
