"""Round-5yy operators: OHLC candles with VWAP, top movers — python
replays plus full oracle parity."""

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


def test_ohlc_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5YY, TEXTOPS as TEXT5YY

    assert_match(
        TEXT5YY["ohlc_candles"](spark, SF),
        ORACLES5YY["ohlc_candles"],
        con,
        "ohlc_candles",
    )


def test_ohlc_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5YY

    candles: dict = {}
    for et, us, eid, v in con.sql(
        "SELECT event_type, epoch_us(ts), event_id, value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        ordk = (us % 86_400_000_000) * 2097152 + eid
        vc = math.floor(v * 100 + 0.5)
        size = 1 + eid % 5
        c = candles.setdefault((et, day), [])
        c.append((ordk, vc, size))
    rows = {(r.event_type, r.day): r
            for r in TEXT5YY["ohlc_candles"](spark, SF).collect()}
    assert set(rows) == set(candles)
    for k, pts in candles.items():
        pts.sort()
        r = rows[k]
        vs = [vc for _, vc, _ in pts]
        assert r.n == len(pts)
        assert (r.open_c, r.close_c) == (pts[0][1], pts[-1][1])
        assert (r.high_c, r.low_c) == (max(vs), min(vs))
        num = sum(vc * s for _, vc, s in pts)
        den = sum(s for _, _, s in pts)
        assert r.vwap_milli == 1000 * num // den
        # candle invariants
        assert r.low_c <= r.open_c <= r.high_c
        assert r.low_c <= r.close_c <= r.high_c
        assert 1000 * r.low_c <= r.vwap_milli <= 1000 * r.high_c


def test_movers_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5YY, TEXTOPS as TEXT5YY

    assert_match(
        TEXT5YY["top_movers"](spark, SF),
        ORACLES5YY["top_movers"],
        con,
        "top_movers",
    )


def test_movers_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5YY
    from hand_index_spark.entry_queries_r5yy import _MOVERS_K

    daily: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        daily[(et, day)] = daily.get((et, day), 0) + math.floor(v * 100 + 0.5)
    deltas: dict = {}
    for (et, day), s in daily.items():
        prev = daily.get((et, day - 1))
        if prev is not None:
            deltas.setdefault(day, []).append((et, s - prev))
    expect = {}
    for day, items in deltas.items():
        items.sort(key=lambda t: (-abs(t[1]), t[0]))
        for rk, (et, dc) in enumerate(items[:_MOVERS_K], start=1):
            expect[(et, day)] = (dc, rk)
    rows = {(r.event_type, r.day): (r.delta_c, r.rk)
            for r in TEXT5YY["top_movers"](spark, SF).collect()}
    assert rows == expect
    # rank-1 movers dominate their day's other deltas in magnitude
    for (et, day), (dc, rk) in expect.items():
        if rk == 1:
            assert all(abs(dc) >= abs(d) for _, d in deltas[day])
