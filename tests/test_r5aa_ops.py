"""Round-5aa operators: reciprocal-rank fusion, exact midrank ROC AUC
— python replays plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_rrf_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5AA, TEXTOPS as TEXT5AA

    assert_match(
        TEXT5AA["rrf_fusion"](spark, SF),
        ORACLES5AA["rrf_fusion"],
        con,
        "rrf_fusion",
    )


def test_rrf_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5AA
    from hand_index_spark.queries.stats import _RRF_OUT, _RRF_TOP

    docs: dict = {}
    for lang, doc_id, text in con.sql(
        "SELECT lang, doc_id, text FROM documents"
    ).fetchall():
        docs.setdefault(lang, []).append(
            (doc_id, len(text), len(text.split(" ")))
        )
    expect: dict = {}
    for lang, items in docs.items():
        ra = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (-t[1], t[0])))}
        rb = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (-t[2], t[0])))}
        fused = []
        for d, _, _ in items:
            if ra[d] > _RRF_TOP and rb[d] > _RRF_TOP:
                continue
            score = 0
            if ra[d] <= _RRF_TOP:
                score += 1_000_000_000 // (60 + ra[d])
            if rb[d] <= _RRF_TOP:
                score += 1_000_000_000 // (60 + rb[d])
            fused.append((d, ra[d], rb[d], score))
        fused.sort(key=lambda t: (-t[3], t[0]))
        for i, (d, a, b, s) in enumerate(fused[:_RRF_OUT]):
            expect[(lang, d)] = (a, b, s, i + 1)
    rows = {(r.lang, r.doc_id): (r.rank_a, r.rank_b, r.rrf_nano, r.fused_rank)
            for r in TEXT5AA["rrf_fusion"](spark, SF).collect()}
    assert rows == expect


def test_roc_auc_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5AA, TEXTOPS as TEXT5AA

    assert_match(
        TEXT5AA["roc_auc"](spark, SF),
        ORACLES5AA["roc_auc"],
        con,
        "roc_auc",
    )


def test_roc_auc_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5AA

    by_lang: dict = {}
    for lang, doc_id in con.sql(
        "SELECT lang, doc_id FROM documents"
    ).fetchall():
        score = (doc_id * 2654435761) % 1000000
        outcome = 1 if (doc_id * 40503 + 12345) % 1000000 < score else 0
        by_lang.setdefault(lang, []).append((score, outcome))
    rows = {r.lang: r for r in TEXT5AA["roc_auc"](spark, SF).collect()}
    for lang, pts in by_lang.items():
        n_pos = sum(o for _, o in pts)
        n_neg = len(pts) - n_pos
        if n_pos == 0 or n_neg == 0:
            assert lang not in rows
            continue
        # exact midrank Mann-Whitney, brute force
        pts.sort()
        sum2mr_pos = 0
        i = 0
        while i < len(pts):
            j = i
            while j < len(pts) and pts[j][0] == pts[i][0]:
                j += 1
            two_mr = 2 * i + (j - i) + 1  # 2*(below) + tied + 1
            for k in range(i, j):
                if pts[k][1] == 1:
                    sum2mr_pos += two_mr
            i = j
        r = rows[lang]
        assert (r.n_pos, r.n_neg) == (n_pos, n_neg)
        num = sum2mr_pos - n_pos * (n_pos + 1)
        assert r.auc_ppm == 1_000_000 * num // (2 * n_pos * n_neg)
        # the synthetic scorer is informative: AUC must beat chance
        assert r.auc_ppm > 500_000
        assert r.auc_ppm <= 1_000_000
