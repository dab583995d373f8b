"""Round-5ww operators: spatiotemporal co-presence, quantile
transform — python replays plus full oracle parity."""

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


def test_copresence_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5WW, ORACLES as ORACLES5WW

    assert_match(
        GEO5WW["copresence_pairs"](spark, SF),
        ORACLES5WW["copresence_pairs"],
        con,
        "copresence_pairs",
    )


def _tdiv(a, b):
    """Truncating integer division — BOTH Spark's `div` and DuckDB's
    `//` truncate toward zero on negatives (python's // floors)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def test_copresence_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5WW
    from hand_index_spark.entry_queries_r5ww import _CP_CELL

    cells: dict = {}
    for u, eid, us in con.sql(
        "SELECT user_id, event_id, epoch_us(ts) FROM events"
    ).fetchall():
        cy = _tdiv(40000 + (eid * 991) % 3000, _CP_CELL)
        cx = _tdiv((eid * 1637) % 4000 - 2000, _CP_CELL)
        hour = us // 3_600_000_000
        cells.setdefault((cy, cx, hour), set()).add(u)
    expect = {k: (len(v), len(v) * (len(v) - 1) // 2)
              for k, v in cells.items() if len(v) >= 2}
    rows = {(r.cy, r.cx, r.hour): (r.n_users, r.n_pairs)
            for r in GEO5WW["copresence_pairs"](spark, SF).collect()}
    assert rows == expect
    # pair-count identity against an explicit pair enumeration for a
    # few cells
    import itertools

    for k, users in list(cells.items())[:5]:
        if len(users) >= 2:
            n_explicit = sum(1 for _ in itertools.combinations(users, 2))
            assert rows[k][1] == n_explicit


def test_qt_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5WW, TEXTOPS as TEXT5WW

    assert_match(
        TEXT5WW["quantile_transform"](spark, SF),
        ORACLES5WW["quantile_transform"],
        con,
        "quantile_transform",
    )


def test_qt_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5WW

    groups: dict = {}
    for eid, et, v in con.sql(
        "SELECT event_id, event_type, value FROM events"
    ).fetchall():
        groups.setdefault(et, []).append((math.floor(v * 100 + 0.5), eid))
    rows = {r.event_id: r
            for r in TEXT5WW["quantile_transform"](spark, SF).collect()}
    for et, items in groups.items():
        items.sort()
        n = len(items)
        if n <= 1:
            assert all(eid not in rows for _, eid in items)
            continue
        for i, (yc, eid) in enumerate(items, start=1):
            r = rows[eid]
            assert (r.event_type, r.yc, r.rank) == (et, yc, i)
            assert r.pct_ppm == (i - 1) * 1_000_000 // (n - 1)
        # endpoints map exactly to 0 and 1e6, and the transform is
        # monotone in value
        assert rows[items[0][1]].pct_ppm == 0
        assert rows[items[-1][1]].pct_ppm == 1_000_000
