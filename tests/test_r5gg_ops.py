"""Round-5gg operators: geohash neighbor cells, Markov transition
matrix — python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_neighbors_properties(spark, con):
    """Round-trip and adjacency invariants: de-interleave inverts
    interleave; every neighbor differs from the center by exactly one
    axis step; the 8-neighborhood is symmetric (if B is A's east
    neighbor then A is B's west neighbor)."""
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5GG

    rows = GEO5GG["geohash_neighbors"](spark, SF).collect()
    assert rows

    B = 15
    n = 1 << B

    def axes(gh):
        lat = sum(((gh >> (2 * k)) & 1) << k for k in range(B))
        lon = sum(((gh >> (2 * k + 1)) & 1) << k for k in range(B))
        return lat, lon

    def interleave(lat, lon):
        acc = 0
        for k in range(B):
            acc |= ((lat >> k) & 1) << (2 * k)
            acc |= ((lon >> k) & 1) << (2 * k + 1)
        return acc

    by_center: dict = {}
    for r in rows:
        lat, lon = axes(r.gh_int)
        assert interleave(lat, lon) == r.gh_int  # round-trip
        nlat, nlon = axes(r.neighbor_int)
        assert nlat == lat + r.dlat
        assert nlon == (lon + r.dlon + n) % n
        by_center.setdefault(r.gh_int, set()).add(r.neighbor_int)
    # symmetry where both centers are in the sampled set
    for c, nbrs in by_center.items():
        for nb in nbrs:
            if nb in by_center:
                assert c in by_center[nb]
    # interior cells have exactly 8 neighbors
    for c, nbrs in by_center.items():
        lat, _ = axes(c)
        if 0 < lat < n - 1:
            assert len(nbrs) == 8


def test_markov_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5GG

    seqs: dict = {}
    for u, et in con.sql(
        "SELECT user_id, event_type FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        seqs.setdefault(u, []).append(et)
    counts: dict = {}
    for s in seqs.values():
        for a, b in zip(s, s[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    row_tot: dict = {}
    for (a, _), c in counts.items():
        row_tot[a] = row_tot.get(a, 0) + c
    rows = {(r.prev_type, r.event_type): r
            for r in TEXT5GG["markov_transitions"](spark, SF).collect()}
    assert set(rows) == set(counts)
    for (a, b), c in counts.items():
        r = rows[(a, b)]
        assert (r.n, r.row_total) == (c, row_tot[a])
        assert r.p_ppm == 1_000_000 * c // row_tot[a]
    # each row of the transition matrix sums to ~1e6 (floor defect
    # < number of targets)
    for a, tot in row_tot.items():
        s = sum(r.p_ppm for (x, _), r in rows.items() if x == a)
        k = sum(1 for (x, _) in rows if x == a)
        assert 1_000_000 - k < s <= 1_000_000
