"""Round-5qq operators: hexagonal binning, log2 latency histogram —
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


def test_hex_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5QQ
    from hand_index_spark.queries.geo import _HEX_H, _HEX_W

    def assign(x, y):
        best = None
        r0 = y // _HEX_H
        c0 = x // _HEX_W
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                r, c = r0 + dr, c0 + dc
                cx = c * _HEX_W + abs(r % 2) * (_HEX_W // 2)
                cy = r * _HEX_H
                d2 = (x - cx) ** 2 + (y - cy) ** 2
                key = (d2, cy, cx)
                if best is None or key < best:
                    best = key
        return best

    bins: dict = {}
    for (d,) in con.sql("SELECT doc_id FROM documents").fetchall():
        x = (d * 1637) % 4000 - 2000
        y = 40000 + (d * 991) % 3000
        d2, cy, cx = assign(x, y)
        t = bins.setdefault((cx, cy), [0, 1 << 60, -1])
        t[0] += 1
        t[1] = min(t[1], d2)
        t[2] = max(t[2], d2)
    rows = {(r.cx, r.cy): (r.n_points, r.min_d2, r.max_d2)
            for r in GEO5QQ["hex_bin"](spark, SF).collect()}
    assert rows == {k: tuple(v) for k, v in bins.items()}
    # Voronoi property: every assignment distance is bounded by the
    # lattice covering radius (max point-to-nearest-center distance
    # for spacing W x H with offset rows)
    cover2 = (_HEX_W // 2) ** 2 + (_HEX_H // 2) ** 2
    assert all(v[2] <= cover2 for v in bins.values())
    # conservation: bin counts sum to the corpus
    n = con.sql("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(v[0] for v in rows.values()) == n


def test_latency_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5QQ, TEXTOPS as TEXT5QQ

    assert_match(
        TEXT5QQ["latency_histogram"](spark, SF),
        ORACLES5QQ["latency_histogram"],
        con,
        "latency_histogram",
    )


def test_latency_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5QQ

    seqs: dict = {}
    for et, us in con.sql(
        "SELECT event_type, epoch_us(ts) FROM events"
        " ORDER BY event_type, ts, event_id"
    ).fetchall():
        seqs.setdefault(et, []).append(us // 1000)
    hist: dict = {}
    for et, ts in seqs.items():
        for a, b in zip(ts, ts[1:]):
            g = max(b - a, 1)
            bucket = g.bit_length() - 1
            hist[(et, bucket)] = hist.get((et, bucket), 0) + 1
    rows = {(r.event_type, r.bucket): r
            for r in TEXT5QQ["latency_histogram"](spark, SF).collect()}
    assert {k: r.n for k, r in rows.items()} == hist
    # exactly one median bucket per type, and cum/median flags agree
    # with a direct python recomputation
    for et in seqs:
        buckets = sorted(b for (t, b) in hist if t == et)
        tot = sum(hist[(et, b)] for b in buckets)
        cum = 0
        medians = []
        for b in buckets:
            prev = cum
            cum += hist[(et, b)]
            r = rows[(et, b)]
            assert r.below_median == (2 * prev < tot)
            is_med = 2 * prev < tot and 2 * cum >= tot
            assert r.is_median_bucket == is_med
            if is_med:
                medians.append(b)
        assert len(medians) == 1
