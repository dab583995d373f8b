"""Round-5u operators: per-group OLS linear trend, Benford first-digit
audit — python replays plus full oracle parity."""

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


def test_linear_trend_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5U, TEXTOPS as TEXT5U

    assert_match(
        TEXT5U["linear_trend"](spark, SF),
        ORACLES5U["linear_trend"],
        con,
        "linear_trend",
    )


def test_linear_trend_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5U

    moments: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        x = us // 86_400_000_000
        y = math.floor(v * 100 + 0.5)
        m = moments.setdefault(et, [0, 0, 0, 0, 0, 0])
        m[0] += 1
        m[1] += x
        m[2] += y
        m[3] += x * x
        m[4] += y * y
        m[5] += x * y
    rows = {r.event_type: r for r in TEXT5U["linear_trend"](spark, SF).collect()}
    expected_types = set()
    for et, (n, sx, sy, sxx, syy, sxy) in moments.items():
        nxx = float(n * sxx - sx * sx)
        nyy = float(n * syy - sy * sy)
        nxy = float(n * sxy - sx * sy)
        if nxx <= 0 or nyy <= 0:
            continue
        expected_types.add(et)
        slope = nxy / nxx
        icept = (float(sy) - slope * float(sx)) / float(n)
        r2 = (nxy * nxy) / (nxx * nyy)
        r = rows[et]
        assert r.n == n
        assert r.slope_micro == math.floor(1e6 * slope)
        assert r.intercept_micro == math.floor(1e6 * icept)
        assert r.r2_micro == math.floor(1e6 * r2)
        # r^2 is a proper coefficient of determination
        assert 0 <= r.r2_micro <= 1_000_000
    assert set(rows) == expected_types


def test_benford_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5U, TEXTOPS as TEXT5U

    assert_match(
        TEXT5U["benford_digits"](spark, SF),
        ORACLES5U["benford_digits"],
        con,
        "benford_digits",
    )


def test_benford_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5U
    from hand_index_spark.entry_queries_r5u import _BENFORD_PPM

    counts = [0] * 10
    total = 0
    for (p,) in con.sql("SELECT o_totalprice FROM orders").fetchall():
        c = math.floor(p * 100 + 0.5)
        if c <= 0:
            continue
        total += 1
        counts[int(str(c)[0])] += 1
    rows = {r.digit: r for r in TEXT5U["benford_digits"](spark, SF).collect()}
    assert sum(r.obs_count for r in rows.values()) == total
    for d, r in rows.items():
        assert 1 <= d <= 9
        assert r.obs_count == counts[d]
        assert r.obs_ppm == 1_000_000 * counts[d] // total
        p = _BENFORD_PPM[d - 1]
        assert r.benford_ppm == p
        dd = float(1_000_000 * counts[d] - total * p)
        chi = (dd * dd) / (1_000_000.0 * total * p)
        assert r.chi_micro == math.floor(1e6 * chi)
        assert r.chi_micro >= 0
    # Benford shares themselves sum to ~1e6 (floor loses < 9 ppm)
    assert 1_000_000 - 9 <= sum(_BENFORD_PPM) <= 1_000_000
