"""Round-5r operators: market-basket lift, concentration metrics —
python replays and metric identities plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_basket_lift_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5R, TEXTOPS as TEXT5R

    assert_match(
        TEXT5R["basket_lift"](spark, SF), ORACLES5R["basket_lift"], con,
        "basket_lift",
    )


def test_basket_lift_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5R

    baskets: dict = {}
    for uid, et in con.sql(
        "SELECT DISTINCT user_id, event_type FROM events"
    ).fetchall():
        baskets.setdefault(uid, set()).add(et)
    n = len(baskets)
    singles: dict = {}
    both: dict = {}
    for items in baskets.values():
        s = sorted(items)
        for t in s:
            singles[t] = singles.get(t, 0) + 1
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                both[(a, b)] = both.get((a, b), 0) + 1
    rows = TEXT5R["basket_lift"](spark, SF).collect()
    assert {(r.a, r.b) for r in rows} == set(both)
    for r in rows:
        nb = both[(r.a, r.b)]
        assert r.n_both == nb
        assert (r.n_a, r.n_b) == (singles[r.a], singles[r.b])
        assert r.support_ppm == 1000000 * nb // n
        assert r.confidence_ppm == 1000000 * nb // singles[r.a]
        assert r.lift_ppm == 1000000 * n * nb // (singles[r.a] * singles[r.b])
        # identity: confidence = lift * P(b)
        assert r.confidence_ppm <= 1000000


def test_concentration_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5R, TEXTOPS as TEXT5R

    assert_match(
        TEXT5R["concentration_metrics"](spark, SF),
        ORACLES5R["concentration_metrics"],
        con,
        "concentration_metrics",
    )


def test_concentration_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5R

    counts = sorted(
        c for (c,) in con.sql(
            "SELECT count(*) FROM documents GROUP BY source"
        ).fetchall()
    )
    k, n = len(counts), sum(counts)
    hhi = 1000000 * sum(c * c for c in counts) // (n * n)
    top = 1000000 * max(counts) // n
    s_ic = sum((i + 1) * c for i, c in enumerate(counts))
    gini = 1000000 * (2 * s_ic - (k + 1) * n) // (k * n)
    r = TEXT5R["concentration_metrics"](spark, SF).collect()[0]
    assert (r.k, r.n_docs) == (k, n)
    assert r.hhi_ppm == hhi and r.top_share_ppm == top
    assert r.gini_ppm == gini
    # bounds: 1/k <= HHI <= 1; 0 <= Gini < 1; top >= 1/k
    assert 1000000 // k <= r.hhi_ppm <= 1000000
    assert 0 <= r.gini_ppm < 1000000
    assert r.top_share_ppm >= 1000000 // k
