"""Round-5l operators: LTTB downsampling, storage-encoding advisor,
last-touch attribution — kernel invariants (python LTTB replay with
exact integer areas, closed-form advice on known layouts, python
attribution replay) plus full oracle parity."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# --------------------------------------------------------------- LTTB


def test_lttb_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5L, TEXTOPS as TEXT5L

    assert_match(
        TEXT5L["lttb_downsample"](spark, SF), ORACLES5L["lttb_downsample"],
        con, "lttb_downsample",
    )


def test_lttb_python_replay(spark, con):
    """Replay the bucket-mean LTTB selection in python with the same
    cleared-denominator integer areas; every selected point must
    match, and the endpoint buckets must keep first/last points."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5L
    from hand_index_spark.entry_queries_r5l import _LTTB_B

    series: dict = {}
    for uid, y in con.sql(
        "SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) "
        "FROM events ORDER BY user_id, ts, event_id"
    ).fetchall():
        series.setdefault(uid, []).append(y)
    want = {}
    for uid, ys in series.items():
        n = len(ys)
        buckets: dict = {}
        for x, y in enumerate(ys):
            buckets.setdefault(x * _LTTB_B // n, []).append((x, y))
        bkeys = sorted(buckets)
        sums = {
            b: (
                len(buckets[b]),
                sum(p[0] for p in buckets[b]),
                sum(p[1] for p in buckets[b]),
            )
            for b in bkeys
        }
        for b in bkeys:
            pts = buckets[b]
            if b == 0:
                sel = pts[0]
            elif b == bkeys[-1]:
                sel = pts[-1]
            else:
                cl, sxl, syl = sums[b - 1]
                cr, sxr, syr = sums[b + 1]
                best = None
                for x, y in pts:
                    a = abs(
                        (sxl * cr - sxr * cl) * (y * cl - syl)
                        - (sxl - x * cl) * (syr * cl - syl * cr)
                    )
                    if best is None or (a, -x) > best[0]:
                        best = ((a, -x), (x, y))
                sel = best[1]
            want[(uid, b)] = sel
    rows = TEXT5L["lttb_downsample"](spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (r.sel_x, r.sel_y) == want[(r.user_id, r.bucket)], r


# ------------------------------------------------------------ advisor


def test_encoding_advisor_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5L, TEXTOPS as TEXT5L

    assert_match(
        TEXT5L["encoding_advisor"](spark, SF), ORACLES5L["encoding_advisor"],
        con, "encoding_advisor",
    )


def test_encoding_advisor_known_layouts(spark, con):
    """Closed forms on this datagen: o_orderkey is dense (runs = n,
    max_delta = 1 -> DELTA); o_block has runs = ceil(n/512) -> RLE;
    o_custkey is shuffled -> PLAIN."""
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5L
    from hand_index_spark.entry_queries_r5l import _ENC_SPAN

    n = con.sql("SELECT count(*) FROM orders").fetchone()[0]
    rows = {r.col_name: r for r in TEXT5L["encoding_advisor"](spark, SF).collect()}
    ok_ = rows["o_orderkey"]
    assert ok_.n_values == n and ok_.runs == n and ok_.max_delta == 1
    assert ok_.advice == "DELTA"
    blk = rows["o_block"]
    assert blk.runs == (n + _ENC_SPAN - 1) // _ENC_SPAN
    assert blk.advice == "RLE"
    assert rows["o_custkey"].advice == "PLAIN"


# -------------------------------------------------------- attribution


def test_attribution_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5L, TEXTOPS as TEXT5L

    assert_match(
        TEXT5L["attribution_last_touch"](spark, SF),
        ORACLES5L["attribution_last_touch"],
        con,
        "attribution_last_touch",
    )


def test_attribution_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5L
    from hand_index_spark.entry_queries_r5l import _ATTR_HORIZON_US

    per_user: dict = {}
    for uid, us, eid, et, cents in con.sql(
        "SELECT user_id, epoch_us(ts), event_id, event_type, "
        "CAST(floor(value * 100 + 0.5) AS BIGINT) FROM events "
        "ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall():
        per_user.setdefault(uid, []).append((us, eid, et, cents))
    want: dict = {}
    for uid, evs in per_user.items():
        last_click = None
        agg = [0, 0, 0, 0]  # purchases, attributed, attr_cents, organic
        for us, _eid, et, cents in evs:
            if et == "click":
                last_click = us
            elif et == "purchase":
                agg[0] += 1
                if last_click is not None and us - last_click <= _ATTR_HORIZON_US:
                    agg[1] += 1
                    agg[2] += cents
                else:
                    agg[3] += cents
        if agg[0]:
            want[uid] = tuple(agg)
    rows = TEXT5L["attribution_last_touch"](spark, SF).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert (
            r.n_purchases, r.n_attributed, r.attributed_cents, r.organic_cents
        ) == want[r.user_id], r
