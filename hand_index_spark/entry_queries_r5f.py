"""Round-5f registry batch: warehouse/time-series operators — SCD2
interval dimension build, exact largest-remainder proration, EWMA
smoothing as a bit-identical left-assoc fold, and a trajectory
origin-destination matrix.

Same contract as every other batch: each query is (a) an idiomatic
Spark program over the driver's parquet tables and (b) a DuckDB oracle
with identical column names and bit-identical arithmetic. The only
float op in the batch is the EWMA fold, and it is the SAME IEEE
operation sequence on both engines (add-then-halve per element over
the identically-ordered list), so even it hash-matches.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_US = "epoch_us(ts)"  # DuckDB twin of Spark's unix_micros(cast) idiom

# SCD2 open-interval sentinel (the classic "high date" convention)
_SCD2_OPEN = 9_223_372_036_854_775_807


# --------------------------------------------------------------------------
# SCD2 dimension build: compress the per-user event_type observation
# stream into type-2 slowly-changing-dimension intervals
# [valid_from, valid_to) — a new row exactly when the attribute
# CHANGES, the previous row closed at the change instant, the current
# row open (sentinel high date). Two windows (lag to detect changes,
# lead to close intervals), zero joins; cost tracks the stream.


def _q_scd2(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = e.select(
        "user_id", "event_id", F.col("event_type").alias("attr"),
        us.alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    chg = obs.withColumn("prev", F.lag("attr").over(w)).where(
        F.col("prev").isNull() | (F.col("prev") != F.col("attr"))
    )
    w2 = Window.partitionBy("user_id").orderBy("us", "event_id")
    return chg.select(
        "user_id",
        "attr",
        F.col("us").alias("valid_from_us"),
        F.coalesce(F.lead("us").over(w2), F.lit(_SCD2_OPEN)).alias(
            "valid_to_us"
        ),
    )


_SCD2_SQL = f"""
    WITH obs AS (
      SELECT user_id, event_id, event_type AS attr, {_US} AS us
      FROM events
    ),
    chg AS (
      SELECT *,
             lag(attr) OVER (PARTITION BY user_id
                             ORDER BY us, event_id) AS prev
      FROM obs
    )
    SELECT user_id, attr, us AS valid_from_us,
           COALESCE(lead(us) OVER (PARTITION BY user_id
                                   ORDER BY us, event_id),
                    {_SCD2_OPEN}) AS valid_to_us
    FROM chg WHERE prev IS NULL OR prev <> attr
    """

register(TEXT, "scd2_intervals", _q_scd2, _SCD2_SQL)


# --------------------------------------------------------------------------
# Exact integer proration (largest-remainder / Hamilton method):
# allocate each order's total cents across its lineitems proportional
# to quantity so the allocations SUM EXACTLY to the total — floor
# shares, then the deficit cents go to the largest fractional
# remainders (linenumber tiebreak). All BIGINT; per-order sum identity
# is pytest-asserted. One keyed shuffle + two windows.


def _q_prorate(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("total_c"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("qty"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).drop("o_orderkey")
    wq = Window.partitionBy("l_orderkey")
    j = j.withColumn("sq", F.sum("qty").over(wq))
    j = j.withColumn("base", F.expr("(total_c * qty) DIV sq")).withColumn(
        "rem", F.expr("(total_c * qty) % sq")
    )
    j = j.withColumn("deficit", F.col("total_c") - F.sum("base").over(wq))
    # the synthetic lineitem table has duplicate (orderkey, linenumber)
    # pairs, so qty joins the tiebreak; remaining ties are between
    # fully-identical rows, where either rank order yields the same
    # output multiset
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("l_linenumber"), F.col("qty")
    )
    return j.withColumn("rk", F.row_number().over(wr)).select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_cents"),
    )


_PRORATE_SQL = """
    WITH o AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
      FROM orders
    ),
    j AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(l.l_quantity AS BIGINT) AS qty, o.total_c
      FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
    ),
    s AS (
      SELECT *,
             sum(qty) OVER (PARTITION BY l_orderkey) AS sq
      FROM j
    ),
    b AS (
      SELECT *,
             (total_c * qty) // sq AS base,
             (total_c * qty) % sq AS rem
      FROM s
    ),
    d AS (
      SELECT *,
             total_c - sum(base) OVER (PARTITION BY l_orderkey) AS deficit,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber, qty) AS rk
      FROM b
    )
    SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
           CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_cents
    FROM d
    """

register(TEXT, "prorate_cents", _q_prorate, _PRORATE_SQL)


# --------------------------------------------------------------------------
# EWMA smoothing (alpha = 1/2) per user over the event value stream,
# computed as an explicit LEFT-ASSOCIATIVE fold over the
# identically-ordered value list on BOTH engines: acc' = (acc + v)/2
# from acc0 = 0. Halving is exact and the adds round identically, so
# the doubles hash-match bit-for-bit (the idw/resample ordered-fold
# protocol). One groupBy; the fold runs inside Catalyst's aggregate()
# higher-order function — no Python, no window.


def _q_ewma(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = (
        e.select(
            "user_id",
            F.struct(
                us.alias("us"),
                F.col("event_id").alias("eid"),
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("vc"),
            ).alias("row"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("row")).alias("arr"))
    )
    return g.select(
        "user_id",
        F.size("arr").cast("long").alias("n"),
        F.aggregate(
            F.transform(F.col("arr"), lambda x: x["vc"].cast("double")),
            F.lit(0.0),
            lambda acc, x: (acc + x) / F.lit(2.0),
        ).alias("ewma"),
    )


_EWMA_SQL = f"""
    WITH v AS (
      SELECT user_id, {_US} AS us, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
                          list(CAST(vc AS DOUBLE) ORDER BY us, event_id)),
             (acc, x) -> (acc + x) / 2
           ) AS ewma
    FROM v GROUP BY user_id
    """

register(TEXT, "ewma_smooth", _q_ewma, _EWMA_SQL)


# --------------------------------------------------------------------------
# Origin-destination matrix: split each user's trajectory into trips
# at time gaps > 4 h, take each trip's first and last grid cell
# (min/max over the unique (us, event_id) struct — deterministic), and
# count trips per (origin cell, destination cell). The movement-
# analytics aggregate over the same epoch-anchored trajectory fixture
# as staypoint_detect. Two windows + two aggregates, one keyed shuffle.

_OD_GAP_US = 4 * 3_600_000_000


def _q_od_matrix(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = e.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.expr("((event_id DIV 512) * 991) % 3000 DIV 250").alias("cx"),
        F.expr("((event_id DIV 512) * 1637) % 4000 DIV 250").alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pts = pts.withColumn(
        "brk",
        F.when(
            F.col("us") - F.lag("us").over(w) > F.lit(_OD_GAP_US), 1
        ).otherwise(0),
    ).withColumn(
        "trip",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    trips = pts.groupBy("user_id", "trip").agg(
        F.min(F.struct("us", "event_id", "cx", "cy")).alias("o"),
        F.max(F.struct("us", "event_id", "cx", "cy")).alias("d"),
    )
    return trips.groupBy(
        F.col("o.cx").alias("ocx"),
        F.col("o.cy").alias("ocy"),
        F.col("d.cx").alias("dcx"),
        F.col("d.cy").alias("dcy"),
    ).agg(F.count("*").cast("long").alias("n_trips"))


_OD_SQL = f"""
    WITH pts AS (
      SELECT user_id, event_id, {_US} AS us,
             ((event_id // 512) * 991) % 3000 // 250 AS cx,
             ((event_id // 512) * 1637) % 4000 // 250 AS cy
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN us - lag(us) OVER w > {_OD_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    tripped AS (
      SELECT *,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS trip
      FROM flagged
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, trip
                                ORDER BY us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, trip
                                ORDER BY us DESC, event_id DESC) AS rn_d
      FROM tripped
    ),
    trips AS (
      SELECT a.user_id, a.trip,
             a.cx AS ocx, a.cy AS ocy, d.cx AS dcx, d.cy AS dcy
      FROM ranked a
      JOIN ranked d ON d.user_id = a.user_id AND d.trip = a.trip
                    AND d.rn_d = 1
      WHERE a.rn_a = 1
    )
    SELECT ocx, ocy, dcx, dcy, CAST(count(*) AS BIGINT) AS n_trips
    FROM trips GROUP BY ocx, ocy, dcx, dcy
    """

register(GEO, "od_matrix", _q_od_matrix, _OD_SQL)
