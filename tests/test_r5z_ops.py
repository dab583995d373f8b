"""Round-5z operators: DAG topological layering, PSI distribution
drift — python replays plus full oracle parity.

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


def test_toposort_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5Z
    from hand_index_spark.queries.graph import _TOPO_LEVELS

    L = _TOPO_LEVELS
    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    edges = set()
    for (src,) in con.sql("SELECT doc_id FROM documents").fetchall():
        lvl = src % L
        if lvl >= L - 1:
            continue
        for j in (1, 2):
            raw = (src * 31 + j * 17) % n
            dst = raw - (raw % L) + lvl + 1
            if dst < n:
                edges.add((src, dst))
    # exact longest-path layer by processing levels in order
    layer = {v: 0 for v in range(n)}
    incoming: dict = {}
    for s, d in edges:
        incoming.setdefault(d, []).append(s)
    for v in sorted(range(n), key=lambda v: v % L):
        if v in incoming:
            layer[v] = max(layer[u] + 1 for u in incoming[v])
    rows = {r.node: r.layer for r in TEXT5Z["toposort_layers"](spark, SF).collect()}
    assert rows == layer
    # every edge increases the layer (DAG property), and depth < L
    for s, d in edges:
        assert rows[d] >= rows[s] + 1
    assert max(rows.values()) <= L - 1


def test_psi_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5Z, TEXTOPS as TEXT5Z

    assert_match(
        TEXT5Z["psi_drift"](spark, SF),
        ORACLES5Z["psi_drift"],
        con,
        "psi_drift",
    )


def test_psi_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5Z

    vals: dict = {}
    for et, v in con.sql(
        "SELECT event_type, value FROM events"
        " WHERE event_type IN ('view', 'purchase')"
    ).fetchall():
        vals.setdefault(et, []).append(math.floor(v * 100 + 0.5))
    ref = sorted(vals["view"])
    cur = vals["purchase"]
    n = len(ref)
    cuts = sorted(ref[max(1, (k * n) // 10) - 1] for k in range(1, 10))
    def binof(y):
        return sum(1 for c in cuts if c <= y)
    ref_n: dict = {}
    cur_n: dict = {}
    for y in ref:
        ref_n[binof(y)] = ref_n.get(binof(y), 0) + 1
    for y in cur:
        cur_n[binof(y)] = cur_n.get(binof(y), 0) + 1
    bins = set(ref_n) | set(cur_n)
    rows = {r.bin: r for r in TEXT5Z["psi_drift"](spark, SF).collect()}
    assert set(rows) == bins
    rt, ct = sum(ref_n.values()), sum(cur_n.values())
    psi_total = 0.0
    for b in bins:
        rn, cn = ref_n.get(b, 0), cur_n.get(b, 0)
        r = rows[b]
        assert (r.ref_n, r.cur_n) == (rn, cn)
        p = (rn + 1) / (rt + 10)
        q = (cn + 1) / (ct + 10)
        comp = (p - q) * math.log(p / q)
        assert abs(r.psi_component - comp) < 1e-6 + 1e-12
        psi_total += comp
    # PSI is non-negative in total (each component (p-q)ln(p/q) >= 0)
    assert psi_total >= 0
    assert sum(r.psi_component for r in rows.values()) >= 0
