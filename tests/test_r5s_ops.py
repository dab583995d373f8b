"""Round-5s operators: mergeable quantile sketch with carried error,
time-to-convert survival metrics — python replays and the
error-bounded-by-bin-width guarantee plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_quantile_sketch_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5S, TEXTOPS as TEXT5S

    assert_match(
        TEXT5S["quantile_sketch"](spark, SF), ORACLES5S["quantile_sketch"],
        con, "quantile_sketch",
    )


def test_quantile_sketch_error_bound_and_replay(spark, con):
    """Estimate is an upper bound within one bin width of the exact
    nearest-rank quantile (the sketch's guarantee), and both sides
    replay exactly in python."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5S
    from hand_index_spark.entry_queries_r5s import _QS_PCTS, _QS_W

    series: dict = {}
    for et, cents in con.sql(
        "SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) "
        "FROM events"
    ).fetchall():
        series.setdefault(et, []).append(cents)
    rows = TEXT5S["quantile_sketch"](spark, SF).collect()
    assert len(rows) == len(series) * len(_QS_PCTS)
    for r in rows:
        xs = sorted(series[r.event_type])
        n = len(xs)
        assert r.n == n
        target = (r.pct * n + 99) // 100
        exact = xs[target - 1]
        assert r.exact_cents == exact
        # replay the binned estimate
        from collections import Counter

        cumc = Counter(x // _QS_W for x in xs)
        cum = 0
        est = None
        for b in sorted(cumc):
            cum += cumc[b]
            if cum >= target:
                est = (b + 1) * _QS_W
                break
        assert r.est_cents == est
        assert r.err_cents == est - exact
        assert 0 < r.err_cents <= _QS_W  # the guarantee


def test_time_to_convert_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5S, TEXTOPS as TEXT5S

    assert_match(
        TEXT5S["time_to_convert"](spark, SF), ORACLES5S["time_to_convert"],
        con, "time_to_convert",
    )


def test_time_to_convert_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5S

    firsts: dict = {}
    for uid, et, us in con.sql(
        "SELECT user_id, event_type, epoch_us(ts) FROM events "
        "WHERE event_type IN ('signup', 'purchase')"
    ).fetchall():
        d = firsts.setdefault(uid, {})
        d[et] = min(d.get(et, us), us)
    deltas = sorted(
        d["purchase"] - d["signup"]
        for d in firsts.values()
        if "signup" in d and "purchase" in d and d["purchase"] >= d["signup"]
    )
    n = len(deltas)
    assert n > 0
    if n % 2:
        median = float(deltas[n // 2])
    else:
        median = (deltas[n // 2 - 1] + deltas[n // 2]) / 2.0
    p90 = deltas[(9 * n + 9) // 10 - 1]
    r = TEXT5S["time_to_convert"](spark, SF).collect()[0]
    assert r.n_converted == n
    assert r.median_delta_us == median
    assert r.p90_delta_us == p90
    assert r.p90_delta_us >= r.median_delta_us
