"""Round-5pp operators: spatial coverage gaps, mix-shift
decomposition — python replays plus full oracle parity."""

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


def test_gaps_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5PP, ORACLES as ORACLES5PP

    assert_match(
        GEO5PP["coverage_gaps"](spark, SF),
        ORACLES5PP["coverage_gaps"],
        con,
        "coverage_gaps",
    )


def test_gaps_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5PP
    from hand_index_spark.entry_queries_r5pp import _GAP_CELL

    def tdiv(a, b):
        # Spark `div` and DuckDB `//` both truncate toward zero
        q = abs(a) // abs(b)
        return -q if (a < 0) != (b < 0) else q

    cells = set()
    for (d,) in con.sql(
        "SELECT doc_id FROM documents WHERE doc_id % 3 = 0"
    ).fetchall():
        cy = tdiv(40000 + (d * 991) % 3000, _GAP_CELL)
        cx = tdiv((d * 1637) % 4000 - 2000, _GAP_CELL)
        cells.add((cy, cx))
    dilated = {(cy + dy, cx + dx) for cy, cx in cells
               for dy in (-1, 0, 1) for dx in (-1, 0, 1)}
    y0 = min(c[0] for c in cells)
    y1 = max(c[0] for c in cells)
    x0 = min(c[1] for c in cells)
    x1 = max(c[1] for c in cells)
    expect = {(cy, cx)
              for cy in range(y0, y1 + 1) for cx in range(x0, x1 + 1)
              if (cy, cx) not in dilated}
    got = {(r.cy, r.cx) for r in GEO5PP["coverage_gaps"](spark, SF).collect()}
    assert got == expect
    # a gap is genuinely isolated: no occupied cell in its 3x3 ring
    for cy, cx in got:
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                assert (cy + dy, cx + dx) not in cells


def test_mix_shift_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5PP, TEXTOPS as TEXT5PP

    assert_match(
        TEXT5PP["mix_shift"](spark, SF),
        ORACLES5PP["mix_shift"],
        con,
        "mix_shift",
    )


def test_mix_shift_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5PP

    seg: dict = {}
    for et, day, v in con.sql(
        "SELECT event_type, day(ts), value FROM events"
    ).fetchall():
        yc = math.floor(v * 100 + 0.5)
        t = seg.setdefault(et, [0, 0, 0, 0])
        if day < 15:
            t[0] += 1
            t[1] += yc
        else:
            t[2] += 1
            t[3] += yc
    t1 = sum(v[0] for v in seg.values())
    t2 = sum(v[2] for v in seg.values())
    rows = {r.event_type: r for r in TEXT5PP["mix_shift"](spark, SF).collect()}
    assert set(rows) == {k for k, v in seg.items() if v[0] > 0 and v[2] > 0}
    total_mix = total_rate = 0.0
    for et, (n1, s1, n2, s2) in seg.items():
        if n1 == 0 or n2 == 0:
            continue
        r = rows[et]
        assert (r.n1, r.s1, r.n2, r.s2) == (n1, s1, n2, s2)
        mix = float(n2 * t1 - n1 * t2) * float(s1) / (
            float(t1) * float(t2) * float(n1))
        rate = float(s2 * n1 - s1 * n2) / (float(t2) * float(n1))
        assert r.mix_effect_micro == math.floor(1e6 * mix)
        assert r.rate_effect_micro == math.floor(1e6 * rate)
        total_mix += mix
        total_rate += rate
    # the decomposition identity: mix + rate sums to the overall rate
    # change R2 - R1 (exactly, in the un-floored rationals)
    S1 = sum(v[1] for v in seg.values())
    S2 = sum(v[3] for v in seg.values())
    delta = S2 / t2 - S1 / t1
    assert abs((total_mix + total_rate) - delta) < 1e-6
