"""Round-5f operators: SCD2 interval build, largest-remainder
proration, EWMA left-fold smoothing, OD matrix — invariant tests
(tiling, sum identity, fold replication, trip accounting) plus full
oracle parity for each registered query."""

from __future__ import annotations

import pytest

from tests.compare_util import assert_match, duck_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duck_con(SF)
    yield c
    c.close()


# ------------------------------------------------------------------- SCD2


def test_scd2_intervals_tile(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5F
    from hand_index_spark.entry_queries_r5f import _SCD2_OPEN

    rows = TEXT5F["scd2_intervals"](spark, SF).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.valid_from_us, r.valid_to_us, r.attr)
        )
    firsts = dict(
        con.sql(
            "SELECT user_id, min(epoch_us(ts)) FROM events GROUP BY user_id"
        ).fetchall()
    )
    for u, ivs in by_user.items():
        ivs.sort()
        assert ivs[0][0] == firsts[u]  # starts at the first observation
        assert ivs[-1][1] == _SCD2_OPEN  # current row is open
        for (f0, t0, a0), (f1, _t1, a1) in zip(ivs, ivs[1:]):
            assert t0 == f1  # intervals tile with no gap/overlap
            assert a0 != a1  # consecutive rows really changed


def test_scd2_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5F, TEXTOPS as TEXT5F

    assert_match(
        TEXT5F["scd2_intervals"](spark, SF),
        ORACLES5F["scd2_intervals"],
        con,
        "scd2_intervals",
    )


# --------------------------------------------------------------- proration


def test_prorate_sum_identity(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5F

    got = TEXT5F["prorate_cents"](spark, SF).toPandas()
    totals = dict(
        con.sql(
            "SELECT o_orderkey,"
            " CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            " FROM orders"
        ).fetchall()
    )
    sums = got.groupby("orderkey")["alloc_cents"].sum()
    # Hamilton's method: allocations sum EXACTLY to the order total —
    # for every order with lineitems, no exceptions
    for ok, s in sums.items():
        assert s == totals[ok], ok
    assert (got["alloc_cents"] >= 0).all()


def test_prorate_matches_python_hamilton(spark, con):
    # full per-order multiset comparison against a plain-python
    # Hamilton (largest-remainder) implementation with the same
    # tiebreak. Multisets, because the synthetic lineitem table has
    # duplicate (orderkey, linenumber) keys.
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5F

    got = TEXT5F["prorate_cents"](spark, SF).toPandas()
    rows = con.sql(
        """
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(l.l_quantity AS BIGINT) AS qty,
               CAST(floor(o.o_totalprice*100 + 0.5) AS BIGINT) AS tc
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    orders: dict = {}
    for ok, ln, qty, tc in rows:
        orders.setdefault(ok, []).append((ln, qty, tc))
    for ok, lines in orders.items():
        tc = lines[0][2]
        sq = sum(q for _, q, _ in lines)
        base = [(tc * q) // sq for _, q, _ in lines]
        rem = [(tc * q) % sq for _, q, _ in lines]
        deficit = tc - sum(base)
        order = sorted(
            range(len(lines)),
            key=lambda i: (-rem[i], lines[i][0], lines[i][1]),
        )
        want = sorted(
            base[i] + (1 if r < deficit else 0)
            for r, i in enumerate(order)
        )
        mine = sorted(got.loc[got["orderkey"] == ok, "alloc_cents"])
        assert mine == want, ok
        assert sum(want) == tc  # Hamilton identity, re-stated


def test_prorate_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5F, TEXTOPS as TEXT5F

    assert_match(
        TEXT5F["prorate_cents"](spark, SF),
        ORACLES5F["prorate_cents"],
        con,
        "prorate_cents",
    )


# -------------------------------------------------------------------- EWMA


def test_ewma_fold_replication(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5F

    got = {r.user_id: (r.n, r.ewma)
           for r in TEXT5F["ewma_smooth"](spark, SF).collect()}
    rows = con.sql(
        "SELECT user_id, CAST(floor(value*100 + 0.5) AS BIGINT) AS vc "
        "FROM events ORDER BY user_id, epoch_us(ts), event_id"
    ).fetchall()
    by_user: dict = {}
    for u, vc in rows:
        by_user.setdefault(u, []).append(float(vc))
    for u, vals in by_user.items():
        acc = 0.0
        for v in vals:
            acc = (acc + v) / 2  # the exact same left-assoc IEEE fold
        n, e = got[u]
        assert n == len(vals)
        assert e == acc, u  # bit-identical, not approx


def test_ewma_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5F, TEXTOPS as TEXT5F

    assert_match(
        TEXT5F["ewma_smooth"](spark, SF),
        ORACLES5F["ewma_smooth"],
        con,
        "ewma_smooth",
    )


# --------------------------------------------------------------------- OD


def test_od_matrix_trip_accounting(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5F
    from hand_index_spark.entry_queries_r5f import _OD_GAP_US

    got = GEO5F["od_matrix"](spark, SF).toPandas()
    # total trips = per user (1 + number of gaps > GAP)
    want = con.sql(
        f"""
        WITH g AS (
          SELECT user_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                      OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id)
                      > {_OD_GAP_US} THEN 1 ELSE 0 END AS brk
          FROM events
        )
        SELECT count(DISTINCT user_id) + sum(brk) FROM g
        """
    ).fetchone()[0]
    assert got["n_trips"].sum() == want
    assert (got["n_trips"] > 0).all()


def test_od_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5F, ORACLES as ORACLES5F

    assert_match(
        GEO5F["od_matrix"](spark, SF),
        ORACLES5F["od_matrix"],
        con,
        "od_matrix",
    )
