"""Round-5nn operators: sweep-line max concurrency, SPRT barrier
crossing — python replays plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_concurrency_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5NN, TEXTOPS as TEXT5NN

    assert_match(
        TEXT5NN["max_concurrency"](spark, SF),
        ORACLES5NN["max_concurrency"],
        con,
        "max_concurrency",
    )


def test_concurrency_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5NN
    from hand_index_spark.entry_queries_r5nn import _SESSION_US

    sweeps: dict = {}
    for et, us, eid in con.sql(
        "SELECT event_type, epoch_us(ts), event_id FROM events"
    ).fetchall():
        s = sweeps.setdefault(et, [])
        s.append((us, 1, eid))
        s.append((us + _SESSION_US, -1, eid))
    rows = {r.event_type: r
            for r in TEXT5NN["max_concurrency"](spark, SF).collect()}
    assert set(rows) == set(sweeps)
    for et, s in sweeps.items():
        s.sort()  # (t, delta, eid): closes (-1) before opens (+1)
        cur = peak = 0
        peak_t = None
        for t, d, _ in s:
            cur += d
            if cur > peak:
                peak, peak_t = cur, t
        r = rows[et]
        assert (r.peak_concurrency, r.peak_at_us) == (peak, peak_t)
        # peak is positive and bounded by the group's event count
        n = sum(1 for _, d, _ in s if d == 1)
        assert 1 <= r.peak_concurrency <= n
        # the running count returns to exactly zero at the end
        assert cur == 0


def test_sprt_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5NN, TEXTOPS as TEXT5NN

    assert_match(
        TEXT5NN["sprt_crossing"](spark, SF),
        ORACLES5NN["sprt_crossing"],
        con,
        "sprt_crossing",
    )


def test_sprt_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5NN
    from hand_index_spark.entry_queries_r5nn import _SPRT_DOWN, _SPRT_UP

    walks: dict = {}
    for u, eid in con.sql(
        "SELECT user_id, event_id FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        step = 2 if (eid * 2654435761) % 100 < 55 else -3
        walks.setdefault(u, []).append(step)
    rows = {r.user_id: r for r in TEXT5NN["sprt_crossing"](spark, SF).collect()}
    assert set(rows) == set(walks)
    for u, steps in walks.items():
        llr = 0
        stop_at = stop_llr = 0
        decision = "continue"
        for i, s in enumerate(steps, start=1):
            llr += s
            if llr >= _SPRT_UP or llr <= _SPRT_DOWN:
                stop_at, stop_llr = i, llr
                decision = "accept" if llr >= _SPRT_UP else "reject"
                break
        r = rows[u]
        assert (r.n_events, r.stop_at, r.stop_llr, r.decision) == (
            len(steps), stop_at, stop_llr, decision,
        )
        # overshoot is bounded by one step: the stopped LLR sits
        # within (barrier, barrier + step]
        if decision == "accept":
            assert _SPRT_UP <= r.stop_llr < _SPRT_UP + 2
        elif decision == "reject":
            assert _SPRT_DOWN - 3 < r.stop_llr <= _SPRT_DOWN
