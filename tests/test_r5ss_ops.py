"""Round-5ss operators: GDPR forget-user, star revenue rollup —
python replays plus full oracle parity. Also pins the icelite.delete
column-order fix (the anti-join used to move the join key first,
breaking positional exceptAll in changes())."""

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


def test_gdpr_oracle(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5SS, ORACLES as ORACLES5SS

    assert_match(
        GEO5SS["gdpr_forget"](spark, SF),
        ORACLES5SS["gdpr_forget"],
        con,
        "gdpr_forget",
    )


def test_gdpr_python_replay(spark, con):
    from hand_index_spark.entry_queries import GEO_QUERIES as GEO5SS
    from hand_index_spark.entry_queries_r5ss import _FORGET_USER

    after: dict = {}
    n_victim = 0
    for et, u in con.sql(
        "SELECT event_type, user_id FROM events"
    ).fetchall():
        if u == _FORGET_USER:
            n_victim += 1
            continue
        t = after.setdefault(et, [0, set()])
        t[0] += 1
        t[1].add(u)
    rows = {r.event_type: r for r in GEO5SS["gdpr_forget"](spark, SF).collect()}
    assert set(rows) == set(after)
    for et, (n, users) in after.items():
        r = rows[et]
        assert (r.n_events, r.n_users) == (n, len(users))
        # the changelog-derived tombstone count equals the victim's
        # true row count — the compliance audit is trustworthy
        assert r.n_deleted == n_victim
    assert n_victim > 0


def test_delete_preserves_column_order(spark, tmp_path):
    """The icelite.delete fix: the post-delete snapshot must be
    column-order-identical to its predecessor so changes() (positional
    exceptAll) diffs exactly the removed rows."""
    from hand_index_spark.tables.icelite import IceliteTable

    t = IceliteTable(str(tmp_path), "evt")
    e = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    t.write(e, stage="ingest", lineage_key="event_id")
    pre = t.current_snapshot()["snapshot_id"]
    victim = spark.createDataFrame([(42,)], "user_id long")
    t.delete(spark, victim, "user_id", stage="forget")
    post = t.current_snapshot()["snapshot_id"]
    assert t.read_snapshot(spark, pre).columns == \
        t.read_snapshot(spark, post).columns
    ch = t.changes(spark, pre, post)
    counts = {r["_change_type"]: r["count"]
              for r in ch.groupBy("_change_type").count().collect()}
    n42 = e.where(e.user_id == 42).count()
    assert counts.get("delete", 0) == n42
    assert counts.get("insert", 0) == 0


def test_star_oracle(spark, con):
    from hand_index_spark.entry_queries import ORACLES as ORACLES5SS, TEXTOPS as TEXT5SS

    assert_match(
        TEXT5SS["star_revenue_rollup"](spark, SF),
        ORACLES5SS["star_revenue_rollup"],
        con,
        "star_revenue_rollup",
    )


def test_star_python_replay(spark, con):
    from hand_index_spark.entry_queries import TEXTOPS as TEXT5SS

    rows = {(r.region, r.nation): r
            for r in TEXT5SS["star_revenue_rollup"](spark, SF).collect()}
    # replay via one pandas-free SQL pass with python aggregation
    cust = dict(con.sql(
        "SELECT c_custkey, c_nationkey FROM customer").fetchall())
    nat = {k: (n, r) for k, n, r in con.sql(
        "SELECT n_nationkey, n_name, n_regionkey FROM nation").fetchall()}
    reg = dict(con.sql("SELECT r_regionkey, r_name FROM region").fetchall())
    ordc = dict(con.sql("SELECT o_orderkey, o_custkey FROM orders").fetchall())
    agg: dict = {}
    for ok, price, disc in con.sql(
        "SELECT l_orderkey, l_extendedprice, l_discount FROM lineitem"
    ).fetchall():
        ck = ordc.get(ok)
        if ck is None or ck not in cust:
            continue
        nname, rkey = nat[cust[ck]]
        rname = reg[rkey]
        pc = math.floor(price * 100 + 0.5)
        bp = math.floor(disc * 10000 + 0.5)
        t = agg.setdefault((rname, nname), [0, 0])
        t[0] += 1
        t[1] += pc * (10000 - bp)
    assert {k: (r.n_items, r.revenue_micro) for k, r in rows.items()} == {
        k: tuple(v) for k, v in agg.items()
    }
    # revenue is positive and the rollup covers every region present
    assert all(r.revenue_micro > 0 for r in rows.values())
