"""Round-5cc operators: NDCG@10 graded ranking eval, seasonal-naive
MASE backtest — python replays plus full oracle parity.

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


def test_ndcg_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5CC, TEXTOPS as TEXT5CC

    assert_match(
        TEXT5CC["ndcg_at_k"](spark, SF),
        ORACLES5CC["ndcg_at_k"],
        con,
        "ndcg_at_k",
    )


def test_ndcg_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5CC
    from hand_index_spark.queries.stats import _NDCG_K

    docs: dict = {}
    for lang, doc_id in con.sql(
        "SELECT lang, doc_id FROM documents"
    ).fetchall():
        score = (doc_id * 2654435761) % 1000000
        rel = (doc_id * 48271) % 4
        docs.setdefault(lang, []).append((doc_id, score, rel))
    rows = {r.lang: r for r in TEXT5CC["ndcg_at_k"](spark, SF).collect()}
    assert set(rows) == set(docs)
    for lang, items in docs.items():
        by_score = sorted(items, key=lambda t: (-t[1], t[0]))
        by_rel = sorted(items, key=lambda t: (-t[2], t[0]))
        dcg = sum(
            (2 ** r - 1) * math.log(2.0) / math.log(p + 2)
            for p, (_, _, r) in enumerate(by_score[:_NDCG_K])
        )
        idcg = sum(
            (2 ** r - 1) * math.log(2.0) / math.log(p + 2)
            for p, (_, _, r) in enumerate(by_rel[:_NDCG_K])
        )
        r = rows[lang]
        assert r.n_docs == len(items)
        assert abs(r.dcg_r - dcg) < 1e-5
        assert abs(r.idcg_r - idcg) < 1e-5
        assert abs(r.ndcg - dcg / idcg) < 1e-5
        # NDCG is a proper ratio: 0 <= ndcg <= 1, and the ideal
        # ranking's own NDCG would be exactly 1
        assert 0.0 <= r.ndcg <= 1.0


def test_mase_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5CC

    daily: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        yc = math.floor(v * 100 + 0.5)
        daily[(et, day)] = daily.get((et, day), 0) + yc
    series: dict = {}
    for (et, day), s in daily.items():
        series.setdefault(et, {})[day] = s
    rows = {r.event_type: r
            for r in TEXT5CC["backtest_mase"](spark, SF).collect()}
    for et, sd in series.items():
        days = sorted(sd)
        # lag-k via the ORDERED SERIES position (k rows back), gated
        # on calendar adjacency — mirrors the window lag semantics
        sae1 = n1 = sae7 = n7 = 0
        for i, d in enumerate(days):
            if i >= 1 and days[i - 1] == d - 1:
                sae1 += abs(sd[d] - sd[days[i - 1]])
                n1 += 1
            if i >= 7 and days[i - 7] == d - 7:
                sae7 += abs(sd[d] - sd[days[i - 7]])
                n7 += 1
        if n1 == 0 or n7 == 0 or sae1 == 0:
            assert et not in rows
            continue
        r = rows[et]
        assert (r.n1, r.n7, r.sae1, r.sae7) == (n1, n7, sae1, sae7)
        assert r.mase_ppm == 1_000_000 * sae7 * n1 // (sae1 * n7)
