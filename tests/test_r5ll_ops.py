"""Round-5ll operators: cross-track deviation, Cohen's kappa —
python replays plus full oracle parity."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_xtrack_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5LL, ORACLES as ORACLES5LL

    assert_match(
        GEO5LL["cross_track_dev"](spark, SF),
        ORACLES5LL["cross_track_dev"],
        con,
        "cross_track_dev",
    )


def test_xtrack_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5LL

    tracks: dict = {}
    for u, eid in con.sql(
        "SELECT user_id, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        tracks.setdefault(u, []).append(
            (eid, (eid * 1637) % 4000 - 2000, 40000 + (eid * 991) % 3000)
        )
    rows = {r.user_id: r for r in GEO5LL["cross_track_dev"](spark, SF).collect()}
    for u, pts in tracks.items():
        if len(pts) < 3:
            assert u not in rows
            continue
        _, ax, ay = pts[0]
        _, bx, by = pts[-1]
        if (ax, ay) == (bx, by):
            assert u not in rows
            continue
        chord2 = (bx - ax) ** 2 + (by - ay) ** 2
        best = None
        for eid, x, y in pts:
            cr = (bx - ax) * (y - ay) - (by - ay) * (x - ax)
            key = (-(cr * cr), eid)
            if best is None or key < best[0]:
                best = (key, eid, cr * cr)
        r = rows[u]
        assert (r.witness_eid, r.max_cross2, r.chord2) == (
            best[1], best[2], chord2,
        )
        # actual perpendicular distance bound: within the grid box,
        # dev = sqrt(max_cross2/chord2) <= the box diagonal
        dev = math.sqrt(r.max_cross2 / r.chord2)
        assert dev <= math.hypot(4000, 3000)


def test_kappa_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5LL, TEXTOPS as TEXT5LL

    assert_match(
        TEXT5LL["cohens_kappa"](spark, SF),
        ORACLES5LL["cohens_kappa"],
        con,
        "cohens_kappa",
    )


def test_kappa_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5LL

    cm: dict = {}
    n = 0
    for (d,) in con.sql("SELECT doc_id FROM documents").fetchall():
        a = (d * 48271) % 4
        b = a if (d * 7919) % 10 < 7 else (d * 104729) % 4
        cm[(a, b)] = cm.get((a, b), 0) + 1
        n += 1
    # fixture guard: every class has a diagonal row (the pe_num sum
    # in the query runs over diagonal rows only)
    classes = {a for a, _ in cm} | {b for _, b in cm}
    assert all((k, k) in cm for k in classes)
    agree = sum(c for (a, b), c in cm.items() if a == b)
    ra = {k: sum(c for (a, _), c in cm.items() if a == k) for k in classes}
    cb = {k: sum(c for (_, b), c in cm.items() if b == k) for k in classes}
    pe_num = sum(ra[k] * cb[k] for k in classes)
    r = TEXT5LL["cohens_kappa"](spark, SF).collect()[0]
    assert (r.n, r.agree, r.pe_num) == (n, agree, pe_num)
    kappa = (agree * n - pe_num) / (n * n - pe_num)
    assert r.kappa_micro == math.floor(1e6 * kappa)
    # the 70%-agreement fixture must beat chance but stay below 1
    assert 0 < r.kappa_micro < 1_000_000
