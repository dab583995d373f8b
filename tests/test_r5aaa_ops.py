"""Round-5aaa operators: Kaplan-Meier survival, RFM segmentation —
python replays plus full oracle parity."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"

DAY_US = 86_400_000_000
GAP = 8


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_km_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5AAA, TEXTOPS as TEXT5AAA

    assert_match(
        TEXT5AAA["kaplan_meier"](spark, SF),
        ORACLES5AAA["kaplan_meier"],
        con,
        "kaplan_meier",
    )


def test_km_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5AAA

    spans: dict = {}
    for uid, us in con.sql(
        "SELECT user_id, epoch_us(ts) FROM events"
    ).fetchall():
        d = us // DAY_US
        lo, hi = spans.get(uid, (d, d))
        spans[uid] = (min(lo, d), max(hi, d))
    horizon = max(hi for _, hi in spans.values())
    n_users = len(spans)
    per_life: dict = {}
    for lo, hi in spans.values():
        life = hi - lo
        obs = 1 if hi <= horizon - GAP else 0
        a, dth = per_life.get(life, (0, 0))
        per_life[life] = (a + 1, dth + obs)
    rows = {
        r.lifetime_days: r
        for r in TEXT5AAA["kaplan_meier"](spark, SF).collect()
    }
    prod = 1.0
    seen_before = 0
    expect_keys = set()
    for life in sorted(per_life):
        n_all, n_deaths = per_life[life]
        n_risk = n_users - seen_before
        seen_before += n_all
        if n_deaths == 0:
            continue
        prod = prod * ((n_risk - n_deaths) / n_risk)
        expect_keys.add(life)
        r = rows[life]
        assert (r.n_risk, r.n_deaths) == (n_risk, n_deaths)
        assert r.surv_micro == math.floor(1_000_000.0 * prod)
    assert set(rows) == expect_keys
    # survival curve is monotone non-increasing in lifetime
    survs = [rows[k].surv_micro for k in sorted(rows)]
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    # at-risk counts strictly decrease along the curve
    risks = [rows[k].n_risk for k in sorted(rows)]
    assert all(a > b for a, b in zip(risks, risks[1:]))


def test_rfm_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5AAA, TEXTOPS as TEXT5AAA

    assert_match(
        TEXT5AAA["rfm_segments"](spark, SF),
        ORACLES5AAA["rfm_segments"],
        con,
        "rfm_segments",
    )


def test_rfm_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5AAA

    per: dict = {}
    for ck, us, tp in con.sql(
        "SELECT o_custkey, epoch_us(o_orderdate), o_totalprice FROM orders"
    ).fetchall():
        d = us // DAY_US
        cents = math.floor(tp * 100 + 0.5)
        last, freq, mon = per.get(ck, (-(10**18), 0, 0))
        per[ck] = (max(last, d), freq + 1, mon + cents)
    horizon = max(last for last, _, _ in per.values())

    def ntile5(order):
        n = len(order)
        out = {}
        base, rem = divmod(n, 5)
        start = 0
        for b in range(1, 6):
            size = base + (1 if b <= rem else 0)
            for ck in order[start:start + size]:
                out[ck] = b
            start += size
        return out

    recs = {ck: horizon - last for ck, (last, _, _) in per.items()}
    r_t = ntile5(sorted(per, key=lambda c: (recs[c], c)))
    f_t = ntile5(sorted(per, key=lambda c: (per[c][1], c)))
    m_t = ntile5(sorted(per, key=lambda c: (per[c][2], c)))

    rows = {r.custkey: r for r in TEXT5AAA["rfm_segments"](spark, SF).collect()}
    assert set(rows) == set(per)
    for ck, (last, freq, mon) in per.items():
        r = rows[ck]
        assert (r.recency_days, r.freq, r.monetary_cents) == (
            recs[ck], freq, mon,
        )
        assert (r.r_score, r.f_score, r.m_score) == (
            6 - r_t[ck], f_t[ck], m_t[ck],
        )
        rs, fs = 6 - r_t[ck], f_t[ck]
        if rs >= 4 and fs >= 4:
            want = "champion"
        elif rs >= 4 and fs <= 2:
            want = "new"
        elif rs <= 2 and fs >= 4:
            want = "at_risk"
        elif rs <= 2 and fs <= 2:
            want = "lost"
        else:
            want = "regular"
        assert r.segment == want
    # every quintile is populated on this corpus
    assert {r.r_score for r in rows.values()} == {1, 2, 3, 4, 5}
