"""Round-5ccc operators: H3-style cover compaction, graph link
prediction — python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"

MODE_BIT = 1 << 59
ROW_MASK = (1 << 26) - 1


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def _encode(lat: float, lon: float, res: int) -> int:
    scale = float(1 << res)
    nrow, ncol = 180 * (1 << res), 360 * (1 << res)
    row = min(max(int(math.floor((lat + 90.0) * scale)), 0), nrow - 1)
    col = min(max(int(math.floor((lon + 180.0) * scale)), 0), ncol - 1)
    return MODE_BIT | (res << 52) | (row << 26) | col


def _parent(cell: int) -> int:
    res = (cell >> 52) & 15
    row = (cell >> 26) & ROW_MASK
    col = cell & ROW_MASK
    return MODE_BIT | ((res - 1) << 52) | ((row >> 1) << 26) | (col >> 1)


def _compact(leaves: set[int]) -> set[int]:
    cur = set(leaves)
    for r in range(9, 5, -1):
        at_r = {c for c in cur if ((c >> 52) & 15) == r}
        rest = cur - at_r
        groups = defaultdict(list)
        for c in at_r:
            groups[_parent(c)].append(c)
        nxt = set()
        for par, kids in groups.items():
            if len(kids) == 4:
                nxt.add(par)
            else:
                nxt.update(kids)
        cur = rest | nxt
    return cur


def test_cells_compact_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5CCC

    # read the engine's own geotags (covered by the cells_encode and
    # cell_parent oracles) and replay only the COMPACTION here
    from hand_index_spark.operators import encode as E
    from hand_index_spark.pipelines.assign_tiles import (
        web_pages_from_documents,
    )

    eng_pts = (
        E.with_geotag(web_pages_from_documents(spark, SF))
        .select("lat", "lon")
        .collect()
    )
    leaves = {_encode(r.lat, r.lon, 9) for r in eng_pts}
    expect = _compact(leaves)

    rows = GEO5CCC["cells_compact"](spark, SF).collect()
    got = {r.cell for r in rows}
    assert got == expect
    for r in rows:
        res = (r.cell >> 52) & 15
        assert r.res == res
        assert r.n_leaves == 1 << (2 * (9 - res))
    # exact leaf-count conservation
    assert sum(r.n_leaves for r in rows) == len(leaves)
    # no output cell is an ancestor of another output cell
    for r in rows:
        c, res = r.cell, r.res
        while res > 5:
            c = _parent(c)
            res -= 1
            assert c not in got


def test_link_predict_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5CCC

    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    n = len(ids)
    edges = set()
    for src in ids:
        for j in (1, 2, 3):
            dst = (src * 31 + j * 17) % n
            if dst != src:
                edges.add((min(src, dst), max(src, dst)))
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
        nbrs[v].add(u)
    deg = {z: len(s) for z, s in nbrs.items()}
    cn = defaultdict(int)
    ra = defaultdict(int)
    for z, s in nbrs.items():
        ss = sorted(s)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                cn[(a, b)] += 1
                ra[(a, b)] += 1_000_000 // deg[z]
    cands = [
        (-ra[p], -cn[p], p[0], p[1]) for p in cn if p not in edges
    ]
    cands.sort()
    expect = {
        (a, b): (-c2, -r2, rank)
        for rank, (r2, c2, a, b) in enumerate(cands[:50], start=1)
    }
    got = {
        (r.a, r.b): (r.cn, r.ra_micro, r.rank)
        for r in TEXT5CCC["link_predict"](spark, SF).collect()
    }
    assert got == expect
    # predicted pairs are genuinely non-adjacent and share >= 1 neighbour
    for (a, b), (c, r_micro, _) in got.items():
        assert (a, b) not in edges
        assert c >= 1 and r_micro >= 1
