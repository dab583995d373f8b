"""Round-5xx operators: route-corridor membership, new-vs-returning
— python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_corridor_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5XX
    from hand_index_spark.queries.geo import _COR_D2, _COR_M, _COR_MOD

    segs = []
    for k in range(1, _COR_M):
        ax, ay = (k * 1409) % 4000 - 2000, 40000 + (k * 977) % 3000
        bx, by = ((k + 1) * 1409) % 4000 - 2000, 40000 + ((k + 1) * 977) % 3000
        segs.append((ax, ay, bx, by))

    def near(px, py, ax, ay, bx, by):
        ux, uy = bx - ax, by - ay
        wx, wy = px - ax, py - ay
        vx, vy = px - bx, py - by
        if wx * ux + wy * uy < 0:
            return wx * wx + wy * wy <= _COR_D2
        if vx * ux + vy * uy > 0:
            return vx * vx + vy * vy <= _COR_D2
        cr = ux * wy - uy * wx
        return cr * cr <= _COR_D2 * (ux * ux + uy * uy)

    rows = {r.doc_id: r
            for r in GEO5XX["corridor_membership"](spark, SF).collect()}
    import math

    for (d,) in con.sql(
        f"SELECT doc_id FROM documents WHERE doc_id % {_COR_MOD} = 0"
    ).fetchall():
        px, py = (d * 1637) % 4000 - 2000, 40000 + (d * 991) % 3000
        flags = [near(px, py, *s) for s in segs]
        r = rows[d]
        assert r.n_segments_near == sum(flags)
        assert r.in_corridor == any(flags)
        # the integer predicate agrees with the true euclidean
        # point-to-segment distance (float cross-check)
        for (ax, ay, bx, by), f in zip(segs, flags):
            ux, uy = bx - ax, by - ay
            t = ((px - ax) * ux + (py - ay) * uy) / (ux * ux + uy * uy)
            t = min(1.0, max(0.0, t))
            qx, qy = ax + t * ux, ay + t * uy
            dist2 = (px - qx) ** 2 + (py - qy) ** 2
            assert f == (dist2 <= _COR_D2 + 1e-6), (d, ax, ay)
    assert any(r.in_corridor for r in rows.values())
    assert not all(r.in_corridor for r in rows.values())


def test_nvr_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5XX

    by_user: dict = {}
    for u, us in con.sql(
        "SELECT user_id, epoch_us(ts) FROM events"
    ).fetchall():
        by_user.setdefault(u, set()).add(us // 86_400_000_000)
    daily_new: dict = {}
    daily_ret: dict = {}
    for u, days in by_user.items():
        first = min(days)
        for d in days:
            if d == first:
                daily_new[d] = daily_new.get(d, 0) + 1
            else:
                daily_ret[d] = daily_ret.get(d, 0) + 1
    rows = {r.day: r for r in TEXT5XX["new_vs_returning"](spark, SF).collect()}
    assert set(rows) == set(daily_new) | set(daily_ret)
    cum = 0
    for d in sorted(rows):
        r = rows[d]
        assert r.new_users == daily_new.get(d, 0)
        assert r.returning_users == daily_ret.get(d, 0)
        cum += r.new_users
        assert r.known_users_cum == cum
    # the cumulative curve ends at the total distinct-user count
    assert cum == len(by_user)
    # day one is all-new
    d0 = min(rows)
    assert rows[d0].returning_users == 0
