"""Round-5w operators: Kendall tau rank agreement, Holt double
exponential smoothing — python replays plus full oracle parity.

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


def test_kendall_tau_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5W, TEXTOPS as TEXT5W

    assert_match(
        TEXT5W["kendall_tau"](spark, SF),
        ORACLES5W["kendall_tau"],
        con,
        "kendall_tau",
    )


def test_kendall_tau_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5W
    from hand_index_spark.queries.stats import _TAU_K

    docs: dict = {}
    for lang, doc_id, text in con.sql(
        "SELECT lang, doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall():
        docs.setdefault(lang, [])
        if len(docs[lang]) < _TAU_K:
            docs[lang].append((doc_id, len(text), len(text.split(" "))))
    rows = {r.lang: r for r in TEXT5W["kendall_tau"](spark, SF).collect()}
    assert set(rows) == set(docs)
    for lang, items in docs.items():
        n = len(items)
        ra = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (t[1], t[0])))}
        rb = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (t[2], t[0])))}
        conc = disc = 0
        ids = [d for d, _, _ in items]
        for i in range(n):
            for j in range(i + 1, n):
                a, b = min(ids[i], ids[j]), max(ids[i], ids[j])
                if (ra[a] - ra[b]) * (rb[a] - rb[b]) > 0:
                    conc += 1
                else:
                    disc += 1
        r = rows[lang]
        assert (r.concordant, r.discordant) == (conc, disc)
        assert r.n_pairs == n * (n - 1) // 2  # tie-free: C + D exhausts
        tau = (conc - disc) / r.n_pairs
        assert r.tau_micro == math.floor(1e6 * tau)
        assert -1_000_000 <= r.tau_micro <= 1_000_000


def test_holt_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5W

    daily: dict = {}
    for et, us, v in con.sql(
        "SELECT event_type, epoch_us(ts), value FROM events"
    ).fetchall():
        day = us // 86_400_000_000
        yc = math.floor(v * 100 + 0.5)
        daily[(et, day)] = daily.get((et, day), 0) + yc
    series: dict = {}
    for (et, day), s in daily.items():
        series.setdefault(et, []).append((day, s))
    rows = {r.event_type: r
            for r in TEXT5W["holt_forecast"](spark, SF).collect()}
    assert set(rows) == set(series)
    for et, pts in series.items():
        pts.sort()
        l = float(pts[0][1])
        t = 0.0
        for _, s in pts[1:]:
            lp = (float(s) + l + t) / 2.0
            t = (lp - l) / 4.0 + 3.0 * t / 4.0
            l = lp
        r = rows[et]
        assert r.n_days == len(pts)
        assert r.level_micro == math.floor(1e6 * l)
        assert r.trend_micro == math.floor(1e6 * t)
        assert r.forecast7_micro == math.floor(1e6 * (l + 7.0 * t))
