"""Round-5tt operators: business-day arithmetic, dow x hour heatmap
— python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import datetime

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def _bdays(a, b):
    """Weekdays strictly after day a up to and including b; dow 0 =
    Monday via (epoch_day + 3) % 7."""
    n = b - a
    full, rem = divmod(n, 7)
    dow_a = (a + 3) % 7
    extra = sum(1 for k in range(1, rem + 1) if (dow_a + k) % 7 <= 4)
    return full * 5 + extra


def test_bdays_kernel():
    # 1970-01-01 (epoch day 0) was a Thursday -> dow 3
    assert (0 + 3) % 7 == 3
    # cross-check against datetime for a swath of pairs
    base = datetime.date(1970, 1, 1)
    for a in range(0, 40):
        for b in range(a, a + 30):
            expect = sum(
                1 for d in range(a + 1, b + 1)
                if (base + datetime.timedelta(days=d)).weekday() <= 4
            )
            assert _bdays(a, b) == expect, (a, b)


def test_business_days_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5TT

    od = dict(con.sql(
        "SELECT o_orderkey, epoch_us(o_orderdate) // 86400000000"
        " FROM orders").fetchall())
    agg: dict = {}
    for ok, sd in con.sql(
        "SELECT l_orderkey, epoch_us(l_shipdate) // 86400000000"
        " FROM lineitem").fetchall():
        a = od.get(ok)
        if a is None or sd < a:
            continue
        bd = _bdays(a, sd)
        t = agg.setdefault(ok, [0, 0, 0, 0])
        t[0] += 1
        t[1] = max(t[1], sd - a)
        t[2] = max(t[2], bd)
        t[3] += bd
    rows = {r.l_orderkey: r
            for r in TEXT5TT["business_days"](spark, SF).collect()}
    assert set(rows) == set(agg)
    for ok, (n, mc, mb, sb) in agg.items():
        r = rows[ok]
        assert (r.n_items, r.max_cal_days, r.max_business_days,
                r.sum_business_days) == (n, mc, mb, sb)
        # 5/7 envelope: bdays never exceeds calendar days and is at
        # least floor(5/7) of them minus the weekend remainder slack
        assert r.max_business_days <= r.max_cal_days


def test_heatmap_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5TT

    counts: dict = {}
    n = 0
    for (us,) in con.sql("SELECT epoch_us(ts) FROM events").fetchall():
        dow = ((us // 86_400_000_000) + 3) % 7
        hour = (us // 3_600_000_000) % 24
        counts[(dow, hour)] = counts.get((dow, hour), 0) + 1
        n += 1
    rows = {(r.dow, r.hour): r
            for r in TEXT5TT["dow_hour_heatmap"](spark, SF).collect()}
    assert {k: r.n for k, r in rows.items()} == counts
    for k, r in rows.items():
        assert r.share_ppm == 1_000_000 * counts[k] // n
        assert 0 <= k[0] <= 6 and 0 <= k[1] <= 23
    # dow agrees with the calendar for a sample timestamp
    import datetime as _dt

    us0 = con.sql("SELECT epoch_us(min(ts)) FROM events").fetchone()[0]
    d = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us0)
    assert ((us0 // 86_400_000_000) + 3) % 7 == d.weekday()
