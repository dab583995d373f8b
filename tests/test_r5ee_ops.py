"""Round-5ee operators: int8 scalar quantization, exact weighted
median — python replays plus full oracle parity.

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


def test_sq8_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5EE

    vecs = con.sql(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    dims = len(vecs[0][1])
    rows = {r.dim: r for r in TEXT5EE["sq8_quantize"](spark, SF).collect()}
    assert set(rows) == set(range(1, dims + 1))
    for dim in range(1, dims + 1):
        vals = [float(v[dim - 1]) for _, v in vecs]
        mn, mx = min(vals), max(vals)
        assert mx > mn
        codes = []
        se = 0
        for v in vals:
            code = min(255, max(0, math.floor((v - mn) * 255.0 / (mx - mn))))
            recon = mn + (code + 0.5) * (mx - mn) / 255.0
            codes.append(code)
            se += math.floor(1e9 * (v - recon) * (v - recon))
        r = rows[dim]
        assert r.n == len(vals)
        assert (r.code_min, r.code_max) == (min(codes), max(codes))
        assert r.sum_err2_nano == se
        assert r.mse_nano == se // len(vals)
        # quantization error bound: |v - recon| <= half a cell, so
        # each e2n <= 1e9 * (cell/2)^2 and the mean respects it
        cell = (mx - mn) / 255.0
        assert r.mse_nano <= 1e9 * (cell / 2) ** 2 + 1
        assert r.code_max == 255 or r.code_min == 0  # range is used


def test_weighted_median_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5EE, TEXTOPS as TEXT5EE

    assert_match(
        TEXT5EE["weighted_median"](spark, SF),
        ORACLES5EE["weighted_median"],
        con,
        "weighted_median",
    )


def test_weighted_median_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5EE

    groups: dict = {}
    for lang, doc_id, n_chars in con.sql(
        "SELECT lang, doc_id, n_chars FROM documents"
    ).fetchall():
        groups.setdefault(lang, []).append((n_chars, doc_id, doc_id % 7 + 1))
    rows = {r.lang: r for r in TEXT5EE["weighted_median"](spark, SF).collect()}
    assert set(rows) == set(groups)
    for lang, items in groups.items():
        items.sort()
        tot = sum(w for _, _, w in items)
        cum = 0
        for y, doc_id, w in items:
            cum += w
            if 2 * cum >= tot:
                break
        r = rows[lang]
        assert (r.total_weight, r.wmedian, r.median_doc_id) == (tot, y, doc_id)
        # defining property of the lower weighted median
        below = sum(w for yy, dd, w in items if (yy, dd) < (y, doc_id))
        assert 2 * below < tot and 2 * (below + w) >= tot
