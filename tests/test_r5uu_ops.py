"""Round-5uu operators: X-bar control chart, winsorized mean —
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


def test_spc_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5UU, TEXTOPS as TEXT5UU

    assert_match(
        TEXT5UU["control_chart"](spark, SF),
        ORACLES5UU["control_chart"],
        con,
        "control_chart",
    )


def test_spc_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5UU

    daily: dict = {}
    overall: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        yc = math.floor(v * 100 + 0.5)
        d = daily.setdefault((et, day), [0, 0])
        d[0] += 1
        d[1] += yc
        o = overall.setdefault(et, [0, 0, 0])
        o[0] += 1
        o[1] += yc
        o[2] += yc * yc
    rows = {(r.event_type, r.day): r
            for r in TEXT5UU["control_chart"](spark, SF).collect()}
    assert set(rows) == set(daily)
    n_out = 0
    for (et, day), (n_day, s_day) in daily.items():
        n_all, s_all, ss_all = overall[et]
        r = rows[(et, day)]
        assert r.n_day == n_day
        assert r.day_mean_milli == 1000 * s_day // n_day
        lhs = abs(s_day * n_all - s_all * n_day) / (n_day * n_all)
        sigma = math.sqrt(n_all * ss_all - s_all * s_all) / n_all
        rhs = 3.0 * sigma / math.sqrt(n_day)
        assert r.out_of_control == (lhs > rhs)
        if lhs > rhs:
            n_out += 1
            assert r.signal == (
                "high" if s_day * n_all > s_all * n_day else "low"
            )
        else:
            assert r.signal == "in"
    # at ~30 days x 5 types with 3-sigma limits, most days are in
    # control (binomial expectation << half)
    assert n_out < len(daily) // 2


def test_winsor_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5UU, TEXTOPS as TEXT5UU

    assert_match(
        TEXT5UU["winsorized_mean"](spark, SF),
        ORACLES5UU["winsorized_mean"],
        con,
        "winsorized_mean",
    )


def test_winsor_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5UU

    vals: dict = {}
    for et, v in con.sql(
        "SELECT event_type, value FROM events"
    ).fetchall():
        vals.setdefault(et, []).append(math.floor(v * 100 + 0.5))
    rows = {r.event_type: r
            for r in TEXT5UU["winsorized_mean"](spark, SF).collect()}
    assert set(rows) == set(vals)
    for et, ys in vals.items():
        ys.sort()
        n = len(ys)
        lo = ys[max(1, (50 * n + 999) // 1000) - 1]
        hi = ys[max(1, (950 * n + 999) // 1000) - 1]
        w = [min(max(y, lo), hi) for y in ys]
        r = rows[et]
        assert (r.n, r.p05, r.p95) == (n, lo, hi)
        assert r.wmean_milli == 1000 * sum(w) // n
        # robustness: the winsorized mean sits inside the clip bounds,
        # and clipping moved at most 10% + 2 of the mass
        assert 1000 * lo <= r.wmean_milli <= 1000 * hi
        moved = sum(1 for y in ys if y < lo or y > hi)
        assert moved <= n // 10 + 2
