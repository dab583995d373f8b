"""Round-5bbb operators: item-item collaborative filtering, FIFO
inventory allocation — python replays plus full oracle parity.

Plain oracle parity of each query is
tests/test_driver_contract.py::test_query_vs_oracle."""

from __future__ import annotations

from collections import defaultdict

import pytest

from tests.compare_util import duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


def test_item_cf_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5BBB

    baskets = defaultdict(set)
    for ok, pk in con.sql(
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
    ).fetchall():
        baskets[ok].add(pk)
    n = defaultdict(int)
    cooc = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for i, a in enumerate(s):
            n[a] += 1
            for b in s[i + 1:]:
                cooc[(a, b)] += 1
    scored = defaultdict(list)
    for (a, b), c in cooc.items():
        ppm = (c * c * 1_000_000) // (n[a] * n[b])
        scored[a].append((ppm, c, b))
        scored[b].append((ppm, c, a))
    expect = {}
    for item, lst in scored.items():
        lst.sort(key=lambda t: (-t[0], -t[1], t[2]))
        for rank, (ppm, c, nb) in enumerate(lst[:5], start=1):
            expect[(item, nb)] = (c, ppm, rank)
    got = {
        (r.item, r.neighbor): (r.cooc, r.cos2_ppm, r.rank)
        for r in TEXT5BBB["item_cf"](spark, SF).collect()
    }
    assert got == expect
    # every ranked list is dense 1..k with k <= 5
    per_item = defaultdict(list)
    for (item, _), (_, _, rank) in got.items():
        per_item[item].append(rank)
    for ranks in per_item.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_fifo_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5BBB

    sides: dict = {1: defaultdict(list), 0: defaultdict(list)}
    for pk, qty, us, ok, ln in con.sql(
        "SELECT l_partkey, CAST(l_quantity AS BIGINT),"
        " epoch_us(l_shipdate), l_orderkey, l_linenumber FROM lineitem"
    ).fetchall():
        sides[ln % 2][pk].append((us, ok, ln, qty))

    def ranges(rows):
        out, lo = [], 0
        for seq, (_, _, _, qty) in enumerate(sorted(rows), start=1):
            out.append((seq, lo, lo + qty))
            lo += qty
        return out

    expect = {}
    for pk, lots_raw in sides[1].items():
        lots = ranges(lots_raw)
        sales = ranges(sides[0].get(pk, []))
        for lot_seq, s_lo, s_hi in lots:
            for sale_seq, d_lo, d_hi in sales:
                if s_lo < d_hi and d_lo < s_hi:
                    expect[(pk, lot_seq, sale_seq)] = (
                        min(s_hi, d_hi) - max(s_lo, d_lo),
                        s_lo,
                        d_lo,
                    )
    rows = TEXT5BBB["fifo_allocation"](spark, SF).collect()
    got = {
        (r.partkey, r.lot_seq, r.sale_seq): (
            r.alloc_qty,
            r.lot_cum_start,
            r.sale_cum_start,
        )
        for r in rows
    }
    assert got == expect
    # allocations are strictly positive and FIFO: within a part, the
    # sale sequence is non-decreasing as the lot sequence advances
    # through its first allocation
    assert all(q > 0 for q, _, _ in got.values())
    first_sale = {}
    for (pk, lot_seq, sale_seq) in sorted(got):
        key = pk
        prev = first_sale.get(key)
        if prev is not None:
            assert sale_seq >= prev[1] or lot_seq == prev[0]
        first_sale[key] = (lot_seq, sale_seq)
    # per part, each sale's allocated total never exceeds its demand
    demand_qty = defaultdict(int)
    for pk, rows_raw in sides[0].items():
        for seq, lo, hi in ranges(rows_raw):
            demand_qty[(pk, seq)] = hi - lo
    alloc_sum = defaultdict(int)
    for (pk, _, sale_seq), (q, _, _) in got.items():
        alloc_sum[(pk, sale_seq)] += q
    for key, tot in alloc_sum.items():
        assert tot <= demand_qty[key]
