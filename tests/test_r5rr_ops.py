"""Round-5rr operators: KWIC concordance, feature hashing — python
replays plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_kwic_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5RR, TEXTOPS as TEXT5RR

    assert_match(
        TEXT5RR["kwic_concordance"](spark, SF),
        ORACLES5RR["kwic_concordance"],
        con,
        "kwic_concordance",
    )


def test_kwic_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5RR
    from hand_index_spark.entry_queries_r5rr import _KWIC_CTX, _KWIC_TERM

    t, C, L = _KWIC_TERM, _KWIC_CTX, len(_KWIC_TERM)
    expect = {}
    n_docs_with_hit = 0
    for doc_id, text in con.sql(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        p1 = text.find(t) + 1  # 1-based
        if p1 == 0:
            continue
        n_docs_with_hit += 1
        positions = [(1, p1)]
        rest = text.find(t, p1 - 1 + L)
        if rest != -1:
            positions.append((2, rest + 1))
        for occ, pos in positions:
            lo = max(1, pos - C)
            expect[(doc_id, occ)] = (
                pos,
                text[lo - 1:pos - 1],
                text[pos - 1:pos - 1 + L],
                text[pos - 1 + L:pos - 1 + L + C],
            )
    rows = {(r.doc_id, r.occ): (r.pos, r.left_ctx, r.hit, r.right_ctx)
            for r in TEXT5RR["kwic_concordance"](spark, SF).collect()}
    assert rows == expect
    assert n_docs_with_hit > 0
    # every hit is exactly the term
    assert all(h == t for (_, _, h, _) in rows.values())


def test_feature_hashing_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5RR, TEXTOPS as TEXT5RR

    assert_match(
        TEXT5RR["feature_hashing"](spark, SF),
        ORACLES5RR["feature_hashing"],
        con,
        "feature_hashing",
    )


def test_feature_hashing_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5RR
    from hand_index_spark.entry_queries_r5rr import _FH_DIMS

    def dim(tok):
        return (len(tok) * 31 + ord(tok[0]) * 7 + ord(tok[-1])) % _FH_DIMS

    per_doc: dict = {}
    per_dim_tokens: dict = {}
    total_tokens = 0
    for doc_id, text in con.sql(
        "SELECT doc_id, text FROM documents"
    ).fetchall():
        for tok in text.split(" "):
            if not tok:
                continue
            total_tokens += 1
            d = dim(tok)
            per_doc[(doc_id, d)] = per_doc.get((doc_id, d), 0) + 1
            per_dim_tokens.setdefault(d, set()).add(tok)
    rows = {(r.doc_id, r.dim): r
            for r in TEXT5RR["feature_hashing"](spark, SF).collect()}
    assert {k: r.tf for k, r in rows.items()} == per_doc
    for (doc_id, d), r in rows.items():
        assert r.distinct_tokens == len(per_dim_tokens[d])
    # conservation: tf sums to the token count; dims stay in range
    assert sum(r.tf for r in rows.values()) == total_tokens
    assert all(0 <= d < _FH_DIMS for _, d in rows)
