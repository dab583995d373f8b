"""Round-5vv operators: CIDR longest-prefix match, ABC Pareto
classification — python replays plus full oracle parity."""

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


def test_cidr_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5VV, TEXTOPS as TEXT5VV

    assert_match(
        TEXT5VV["cidr_match"](spark, SF),
        ORACLES5VV["cidr_match"],
        con,
        "cidr_match",
    )


def test_cidr_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5VV
    from hand_index_spark.entry_queries_r5vv import _cidr_rows

    blocks = _cidr_rows()
    agg: dict = {}
    n_matched = 0
    for (eid,) in con.sql("SELECT event_id FROM events").fetchall():
        ip = (eid * 2654435761) % (1 << 32)
        best = None
        for bid, net, plen in blocks:
            shift = 32 - plen
            if ip >> shift == net >> shift:
                key = (-plen, bid)
                if best is None or key < best[0]:
                    best = (key, bid, plen)
        if best is None:
            continue
        n_matched += 1
        t = agg.setdefault((best[1], best[2]), [0, 1 << 40, -1])
        t[0] += 1
        t[1] = min(t[1], ip)
        t[2] = max(t[2], ip)
    rows = {(r.block_id, r.plen): (r.n_events, r.min_ip, r.max_ip)
            for r in TEXT5VV["cidr_match"](spark, SF).collect()}
    assert rows == {k: tuple(v) for k, v in agg.items()}
    assert n_matched > 0
    # every matched ip really sits inside its block's range
    for (bid, plen), (_, lo, hi) in agg.items():
        net = next(n for b, n, p in blocks if b == bid and p == plen)
        shift = 32 - plen
        assert lo >> shift == net >> shift
        assert hi >> shift == net >> shift


def test_abc_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5VV, TEXTOPS as TEXT5VV

    assert_match(
        TEXT5VV["abc_classification"](spark, SF),
        ORACLES5VV["abc_classification"],
        con,
        "abc_classification",
    )


def test_abc_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5VV

    rev: dict = {}
    for pk, price in con.sql(
        "SELECT l_partkey, l_extendedprice FROM lineitem"
    ).fetchall():
        rev[pk] = rev.get(pk, 0) + math.floor(price * 100 + 0.5)
    order = sorted(rev.items(), key=lambda t: (-t[1], t[0]))
    total = sum(rev.values())
    rows = {r.partkey: r
            for r in TEXT5VV["abc_classification"](spark, SF).collect()}
    assert set(rows) == set(rev)
    cum = 0
    counts = {"A": 0, "B": 0, "C": 0}
    for rank, (pk, rc) in enumerate(order, start=1):
        before = cum
        cum += rc
        r = rows[pk]
        assert (r.revenue_c, r.rank) == (rc, rank)
        assert r.share_ppm == 1_000_000 * rc // total
        if before * 100 < total * 80:
            cls = "A"
        elif before * 100 < total * 95:
            cls = "B"
        else:
            cls = "C"
        assert r.abc_class == cls
        counts[cls] += 1
    # the Pareto partition is non-degenerate: all three classes occur
    assert all(counts[c] > 0 for c in "ABC")
    # class boundaries respect the cumulative ordering: every A rank
    # precedes every B rank precedes every C rank
    ranks = {c: [rows[pk].rank for pk, _ in order
                 if rows[pk].abc_class == c] for c in "ABC"}
    assert max(ranks["A"]) < min(ranks["B"]) < max(ranks["B"]) < min(ranks["C"])
