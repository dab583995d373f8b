"""Round-5zz operators (session closer): assignment-path parity,
method share — oracle parity plus the parity invariant itself.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import math

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_parity_invariant(spark, con):
    """The point of the query: BOTH engine plans agree on every page
    — zero mismatches, and the per-method counts cover the corpus."""
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5ZZ

    rows = GEO5ZZ["assign_path_parity"](spark, SF).collect()
    assert {r.method for r in rows} <= {"pip", "knn"}
    assert all(r.n_mismatch == 0 for r in rows)
    assert all(r.n_matching == r.n_pages for r in rows)
    n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(r.n_pages for r in rows) == n_docs


def test_method_share_properties(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5ZZ

    rows = {r.method: r for r in GEO5ZZ["method_share"](spark, SF).collect()}
    assert set(rows) == {"pip", "knn"}
    # shares sum to ~1e6 (floor defect < n_methods)
    s = sum(r.share_ppm for r in rows.values())
    assert 1_000_000 - 2 < s <= 1_000_000
    # pip rows carry the -1 sentinel distance; knn distances are
    # positive
    assert rows["pip"].mean_dist2_micro == -1_000_000
    assert rows["knn"].sum_dist2_milli > 0
    assert rows["knn"].mean_dist2_micro > 0
