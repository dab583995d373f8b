"""Round-5oo operators: KMV distinct sketch, audience overlap —
python replays plus full oracle parity.

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


def test_kmv_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5OO, TEXTOPS as TEXT5OO

    assert_match(
        TEXT5OO["kmv_distinct"](spark, SF),
        ORACLES5OO["kmv_distinct"],
        con,
        "kmv_distinct",
    )


def test_kmv_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5OO
    from hand_index_spark.queries.stats import _KMV_K, _KMV_M

    per_lang: dict = {}
    for lang, doc_id in con.sql(
        "SELECT lang, doc_id FROM documents"
    ).fetchall():
        s = per_lang.setdefault(lang, set())
        for i in range(doc_id % 5 + 1):
            s.add(doc_id * 37 + i)
    rows = {r.lang: r for r in TEXT5OO["kmv_distinct"](spark, SF).collect()}
    for lang, xs in per_lang.items():
        hs = sorted({(x * 2654435761 + 12345) % _KMV_M for x in xs})
        if len(hs) < _KMV_K:
            assert lang not in rows
            continue
        h_k = hs[_KMV_K - 1]
        est = (_KMV_K - 1) * _KMV_M // h_k
        r = rows[lang]
        assert (r.k, r.h_k, r.kmv_estimate, r.exact_distinct) == (
            _KMV_K, h_k, est, len(xs),
        )
        assert r.rel_err_ppm == abs(1_000_000 * (est - len(xs))) // len(xs)
        # the KMV estimator is consistent at this k: within ~13%
        # (2/sqrt(k) ~ 0.25 is the 2-sigma bound; assert 3-sigma)
        assert r.rel_err_ppm < 3_000_000 // 8  # 3/sqrt(64) = 0.375
    assert set(rows) == {
        la for la, xs in per_lang.items()
        if len({(x * 2654435761 + 12345) % _KMV_M for x in xs}) >= _KMV_K
    }


def test_overlap_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5OO
    from hand_index_spark.queries.relational import _TYPES

    audiences: dict = {t: set() for t in _TYPES}
    for u, et in con.sql(
        "SELECT user_id, event_type FROM events"
    ).fetchall():
        audiences[et].add(u)
    rows = {(r.type_a, r.type_b): r
            for r in TEXT5OO["audience_overlap"](spark, SF).collect()}
    for i, a in enumerate(_TYPES):
        for b in _TYPES[i + 1:]:
            inter = len(audiences[a] & audiences[b])
            union = len(audiences[a] | audiences[b])
            if union == 0:
                assert (a, b) not in rows
                continue
            r = rows[(a, b)]
            assert (r.n_both, r.n_either) == (inter, union)
            assert r.jaccard_ppm == 1_000_000 * inter // union
            # set-algebra identities
            assert inter <= min(len(audiences[a]), len(audiences[b]))
            assert union <= len(audiences[a]) + len(audiences[b])
    assert len(rows) == 10
