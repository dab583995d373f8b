"""Round-5o operators: event-bigram sequence mining, exact equi-width
value histogram — python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_event_bigram_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5O
    from hand_index_spark.queries.timeseries import _MINE_MIN_SUPPORT

    seqs: dict = {}
    for uid, et in con.sql(
        "SELECT user_id, event_type FROM events "
        "ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall():
        seqs.setdefault(uid, []).append(et)
    occ: dict = {}
    sup: dict = {}
    for uid, s in seqs.items():
        seen = set()
        for a, b in zip(s, s[1:]):
            occ[(a, b)] = occ.get((a, b), 0) + 1
            seen.add((a, b))
        for p in seen:
            sup[p] = sup.get(p, 0) + 1
    want = {p for p, u in sup.items() if u >= _MINE_MIN_SUPPORT}
    rows = TEXT5O["event_bigram_mining"](spark, SF).collect()
    assert {(r.a, r.b) for r in rows} == want
    for r in rows:
        assert r.occurrences == occ[(r.a, r.b)]
        assert r.user_support == sup[(r.a, r.b)]


def test_value_histogram_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5O, TEXTOPS as TEXT5O

    assert_match(
        TEXT5O["value_histogram"](spark, SF), ORACLES5O["value_histogram"],
        con, "value_histogram",
    )


def test_value_histogram_conservation(spark, con):
    """Bin counts and sums must reconstruct the per-type totals, and
    every bin's min/max must stay inside the bin's bounds."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5O
    from hand_index_spark.queries.stats import _HIST_W

    rows = TEXT5O["value_histogram"](spark, SF).collect()
    totals: dict = {}
    for r in rows:
        assert _HIST_W * r.bin <= r.min_cents <= r.max_cents
        assert r.max_cents < _HIST_W * (r.bin + 1)
        t = totals.setdefault(r.event_type, [0, 0])
        t[0] += r.n
        t[1] += r.sum_cents
    for et, n, s in con.sql(
        "SELECT event_type, count(*), "
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) "
        "FROM events GROUP BY event_type"
    ).fetchall():
        assert totals[et] == [n, s]
