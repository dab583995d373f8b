"""Round-5ss registry batch — two new operator families:

- ``gdpr_forget``: right-to-be-forgotten through the table format —
  events land in an icelite table, one user's rows are removed with
  the row-level copy-on-write DELETE, and the query returns the
  post-delete per-type counts PLUS the compliance audit trail (the
  deleted row count recovered from the snapshot changelog). Brings
  the icelite DELETE path onto the oracled driver surface (it was
  pytest-only); the oracle is the plain relational complement.
- ``star_revenue_rollup``: the canonical warehouse star join —
  revenue per region × nation from lineitem ⋈ orders ⋈ customer ⋈
  nation ⋈ region (TPC-H Q5 shape), discounted revenue in EXACT
  integer micro-cents (cents × discount-ppm products — never float
  multiplication order). The three dimension tables broadcast; only
  the two fact-side joins shuffle.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
DML-compliance or star-schema surface — these extend the table-format
and OLAP axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


_FORGET_USER = 42


# --------------------------------------------------------------------------
# gdpr_forget.


def _q_gdpr_forget(spark, sf_dir):
    from .tables.icelite import IceliteTable

    root = _fresh_dir("gdpr_")
    t = IceliteTable(root, "events")
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    t.write(e, stage="ingest", lineage_key="event_id")
    pre_sid = t.current_snapshot()["snapshot_id"]
    victim = spark.createDataFrame(
        [(_FORGET_USER,)], "user_id long"
    )
    t.delete(spark, victim, "user_id", stage="forget")
    post_sid = t.current_snapshot()["snapshot_id"]
    deleted = (
        t.changes(spark, pre_sid, post_sid)
        .where(F.col("_change_type") == "delete")
        .agg(F.count(F.lit(1)).alias("n_deleted"))
    )
    after = t.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return after.crossJoin(F.broadcast(deleted)).select(
        "event_type", "n_events", "n_users", "n_deleted"
    )


_GDPR_SQL = f"""
    WITH after AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE user_id <> {_FORGET_USER}
      GROUP BY event_type
    ),
    del AS (
      SELECT CAST(count(*) AS BIGINT) AS n_deleted
      FROM events WHERE user_id = {_FORGET_USER}
    )
    SELECT event_type, n_events, n_users, n_deleted
    FROM after, del
    """

register(GEO, "gdpr_forget", _q_gdpr_forget, _GDPR_SQL)


# --------------------------------------------------------------------------
# star_revenue_rollup. revenue_micro = extendedprice_cents *
# (1e4 - discount_bp) with discount basis points floor(d * 1e4 +
# 0.5) — all BIGINT (cents <= 1e7, factor <= 1e4 -> <= 1e11/row,
# summed over 60k rows -> ~1e15, safe).


def _q_star_revenue_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("disc_bp"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("sum(price_c * (10000 - disc_bp))").alias("revenue_micro"),
    )


_STAR_SQL = """
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (10000 - CAST(floor(l.l_discount * 10000 + 0.5)
                           AS BIGINT))) AS BIGINT) AS revenue_micro
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """

register(TEXT, "star_revenue_rollup", _q_star_revenue_rollup, _STAR_SQL)
