"""Round-5ii operators: 1-D Earth Mover's distance, mutual
information — python replays plus full oracle parity."""

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


def test_emd_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5II, TEXTOPS as TEXT5II

    assert_match(
        TEXT5II["emd_1d"](spark, SF),
        ORACLES5II["emd_1d"],
        con,
        "emd_1d",
    )


def test_emd_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5II
    from hand_index_spark.queries.stats import _EMD_BIN

    p: dict = {}
    q: dict = {}
    for et, v in con.sql(
        "SELECT event_type, value FROM events"
        " WHERE event_type IN ('view', 'purchase')"
    ).fetchall():
        b = math.floor(v * 100 + 0.5) // _EMD_BIN
        (p if et == "view" else q)[b] = (p if et == "view" else q).get(b, 0) + 1
    np_, nq = sum(p.values()), sum(q.values())
    bins = sorted(set(p) | set(q))
    cum_p = cum_q = 0
    gap = 0
    for b in bins:
        cum_p += p.get(b, 0)
        cum_q += q.get(b, 0)
        gap += abs(cum_p * nq - cum_q * np_)
    r = TEXT5II["emd_1d"](spark, SF).collect()[0]
    assert (r.n_bins, r.n_view, r.n_purchase, r.sum_gap_x) == (
        len(bins), np_, nq, gap,
    )
    assert r.emd_bins_ppm == 1_000_000 * gap // (np_ * nq)
    # EMD bounds: 0 <= EMD <= n_bins - 1 (mass can move at most the
    # full binned range); the last bin's CDF gap is exactly 0
    assert 0 <= r.emd_bins_ppm <= (len(bins) - 1) * 1_000_000
    assert abs(cum_p * nq - cum_q * np_) == 0


def test_mi_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5II, TEXTOPS as TEXT5II

    assert_match(
        TEXT5II["mutual_information"](spark, SF),
        ORACLES5II["mutual_information"],
        con,
        "mutual_information",
    )


def test_mi_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5II

    obs: dict = {}
    ni: dict = {}
    nj: dict = {}
    n = 0
    for lang, source in con.sql(
        "SELECT lang, source FROM documents"
    ).fetchall():
        obs[(lang, source)] = obs.get((lang, source), 0) + 1
        ni[lang] = ni.get(lang, 0) + 1
        nj[source] = nj.get(source, 0) + 1
        n += 1
    total = 0.0
    for (lang, source) in sorted(obs):
        nij = obs[(lang, source)]
        term = (nij / n) * math.log(nij * n / (ni[lang] * nj[source]))
        total += round(term, 6)
    r = TEXT5II["mutual_information"](spark, SF).collect()[0]
    assert (r.n_total, r.n_cells) == (n, len(obs))
    assert abs(r.mi_nats - total) < 2e-6
    # MI >= 0 up to rounding, and MI <= min(H(lang), H(source)) <=
    # ln(alphabet size)
    assert r.mi_nats >= -1e-4
    assert r.mi_nats <= math.log(min(len(ni), len(nj))) + 1e-6
