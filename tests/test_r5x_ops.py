"""Round-5x operators: DTW series similarity, z-score normalization —
python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

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


def _daily(con):
    daily: dict = {}
    for u, us, v in con.sql(
        "SELECT user_id, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        yc = math.floor(v * 100 + 0.5)
        daily[(u, day)] = daily.get((u, day), 0) + yc
    return daily


def _dtw(a, b):
    big = 1_000_000_000_000_000
    prev = [0] + [big] * len(b)
    for av in a:
        new = [big]
        for j in range(1, len(b) + 1):
            new.append(abs(av - b[j - 1]) + min(prev[j], new[j - 1], prev[j - 1]))
        prev = new
    return prev[len(b)]


def test_dtw_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5X

    daily = _daily(con)
    series: dict = {}
    day_tot: dict = {}
    for (u, day), s in daily.items():
        series.setdefault(u, []).append((day, s))
        day_tot[day] = day_tot.get(day, 0) + s
    n_users = len(series)
    b = [day_tot[d] // n_users for d in sorted(day_tot)]
    rows = {r.user_id: r for r in TEXT5X["dtw_distance"](spark, SF).collect()}
    assert set(rows) == set(series)
    for u, pts in series.items():
        pts.sort()
        a = [s for _, s in pts]
        r = rows[u]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        assert r.dtw_cents == _dtw(a, b)
        # DTW lower bound: |sum(a) - sum(b)| is NOT a bound, but the
        # single-step alignment bound |a end-to-start| >= 0 is; pin
        # non-negativity and the identity DTW(b, b) = 0
        assert r.dtw_cents >= 0
    assert _dtw(b, b) == 0


def test_zscore_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5X, TEXTOPS as TEXT5X

    assert_match(
        TEXT5X["zscore_normalize"](spark, SF),
        ORACLES5X["zscore_normalize"],
        con,
        "zscore_normalize",
    )


def test_zscore_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5X

    vals: dict = {}
    for eid, et, v in con.sql(
        "SELECT event_id, event_type, value FROM events"
    ).fetchall():
        vals[eid] = (et, math.floor(v * 100 + 0.5))
    stats: dict = {}
    for et, yc in vals.values():
        n, sy, syy = stats.get(et, (0, 0, 0))
        stats[et] = (n + 1, sy + yc, syy + yc * yc)
    rows = {r.event_id: r for r in TEXT5X["zscore_normalize"](spark, SF).collect()}
    kept = {eid for eid, (et, _) in vals.items()
            if stats[et][0] * stats[et][2] - stats[et][1] ** 2 > 0}
    assert set(rows) == kept
    sums: dict = {}
    for eid in kept:
        et, yc = vals[eid]
        n, sy, syy = stats[et]
        z = (yc - sy / n) / math.sqrt((n * syy - sy * sy) / (n * n))
        r = rows[eid]
        assert r.yc == yc
        assert r.z_micro == math.floor(1e6 * z)
        s = sums.setdefault(et, [0, 0])
        s[0] += 1
        s[1] += z
    # per-type z-scores sum to ~0 (floating error only)
    for et, (n, tot) in sums.items():
        assert abs(tot) < 1e-6 * n
