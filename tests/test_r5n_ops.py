"""Round-5n operators: k-anonymity audit, A/B two-proportion z-test,
Heaps-law vocabulary growth — kernel invariants (python risk replay,
scipy-free z replay, first-occurrence growth replay) plus full oracle
parity."""

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


# ------------------------------------------------------------ k-anonymity


def test_k_anonymity_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5N, TEXTOPS as TEXT5N

    assert_match(
        TEXT5N["k_anonymity_audit"](spark, SF),
        ORACLES5N["k_anonymity_audit"],
        con,
        "k_anonymity_audit",
    )


def test_k_anonymity_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5N
    from hand_index_spark.entry_queries_r5n import _KS

    classes: dict = {}
    for lang, src, dec in con.sql(
        "SELECT lang, source, n_chars // 100 FROM documents"
    ).fetchall():
        key = (lang, src, dec)
        classes[key] = classes.get(key, 0) + 1
    n_rows = sum(classes.values())
    rows = {r.k: r for r in TEXT5N["k_anonymity_audit"](spark, SF).collect()}
    assert set(rows) == set(_KS)
    prev_risk = -1
    for k in _KS:
        r = rows[k]
        below = [c for c in classes.values() if c < k]
        assert r.n_classes == len(classes)
        assert r.classes_below_k == len(below)
        assert r.rows_at_risk == sum(below)
        assert r.risk_ppm == 1000000 * sum(below) // n_rows
        assert r.risk_ppm >= prev_risk  # monotone in k
        prev_risk = r.risk_ppm


# -------------------------------------------------------------- A/B test


def test_ab_ztest_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5N, TEXTOPS as TEXT5N

    assert_match(
        TEXT5N["ab_test_ztest"](spark, SF), ORACLES5N["ab_test_ztest"], con,
        "ab_test_ztest",
    )


def test_ab_ztest_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5N
    from hand_index_spark.entry_queries_r5n import _AB_VALUE_MIN

    conv: dict = {}
    for uid, et, v in con.sql(
        "SELECT user_id, event_type, value FROM events"
    ).fetchall():
        conv.setdefault(uid, 0)
        if et == "purchase" and v >= _AB_VALUE_MIN:
            conv[uid] = 1
    n = [0, 0]
    x = [0, 0]
    for uid, c in conv.items():
        a = uid % 2
        n[a] += 1
        x[a] += c
    row = TEXT5N["ab_test_ztest"](spark, SF).collect()[0]
    assert (row.n0, row.x0, row.n1, row.x1) == (n[0], x[0], n[1], x[1])
    assert 0 < x[0] + x[1] < n[0] + n[1]  # fixture is non-degenerate
    p0, p1 = x[0] / n[0], x[1] / n[1]
    p = (x[0] + x[1]) / (n[0] + n[1])
    z = (p1 - p0) / math.sqrt(p * (1 - p) * (1 / n[0] + 1 / n[1]))
    assert row.z_micro == math.floor(z * 1e6)


# --------------------------------------------------------- vocab growth


def test_vocab_growth_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5N, TEXTOPS as TEXT5N

    assert_match(
        TEXT5N["zipf_vocab_growth"](spark, SF),
        ORACLES5N["zipf_vocab_growth"],
        con,
        "zipf_vocab_growth",
    )


def test_vocab_growth_python_replay(spark, con):
    """First-occurrence growth: vocab(k) = |{terms first seen in docs
    0..k-1}|; vocab and tokens are both monotone in k and the
    type/token ratio falls (Heaps sublinearity on this corpus)."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5N
    from hand_index_spark.entry_queries_r5n import _GROWTH_KS

    first: dict = {}
    tokens_at: dict = {k: 0 for k in _GROWTH_KS}
    for doc_id, text in con.sql(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        terms = [t for t in text.split(" ") if len(t) >= 3]
        for k in _GROWTH_KS:
            if doc_id < k:
                tokens_at[k] += len(terms)
        for t in terms:
            if t not in first or doc_id < first[t]:
                first[t] = doc_id
    rows = {r.k: r for r in TEXT5N["zipf_vocab_growth"](spark, SF).collect()}
    assert set(rows) == set(_GROWTH_KS)
    prev_vocab, prev_ppm = -1, None
    for k in _GROWTH_KS:
        r = rows[k]
        want_vocab = sum(1 for d in first.values() if d < k)
        assert r.vocab == want_vocab
        assert r.tokens == tokens_at[k]
        assert r.type_token_ppm == 1000000 * want_vocab // tokens_at[k]
        # non-strict: the synthetic corpus's >=3-char vocabulary
        # saturates early, so the curve may plateau
        assert r.vocab >= prev_vocab
        if prev_ppm is not None:
            assert r.type_token_ppm <= prev_ppm
        prev_vocab, prev_ppm = r.vocab, r.type_token_ppm
