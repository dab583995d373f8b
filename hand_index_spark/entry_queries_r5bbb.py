"""Round-5bbb registry batch — two new operator families:

- ``item_cf``: item-item collaborative filtering over order baskets —
  the classic co-occurrence recommender. Baskets are orders, items are
  parts; pair counts come from a single groupBy(orderkey) +
  higher-order-function pair expansion (basket sizes are bounded, so
  the expansion is O(basket^2) per order, NOT a corpus self-join),
  similarity is the exact-integer squared cosine
  ppm = cooc^2 * 1e6 div (n_a * n_b), and each item keeps its top-5
  neighbors with deterministic tie-breaks.
- ``fifo_allocation``: FIFO inventory lot matching expressed
  relationally — per part, supply lots and demand sales each get a
  cumulative-quantity half-open range via one window cumsum, and the
  FIFO allocation is exactly the pairwise overlap of those ranges
  (an equi-join on partkey plus range predicates — never a cross
  join). Allocated quantities are exact BIGINTs.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index,
load.py/query_geojson.py) has no recommender or inventory surface —
these extend the relational-analytics axis (basket_lift and
interval_overlap_join are the existing neighbors).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# item_cf. One shuffle on l_orderkey builds the basket; the unordered
# pair set comes from a nested TRANSFORM over the sorted basket array
# (baskets are O(10) items, so the per-row expansion is tiny and the
# corpus-level pair count is sum(b^2), not N^2). Item supports join on
# the parts dimension (small vs lineitem — broadcastable at scale).
# cos2_ppm = cooc^2 * 1e6 div (n_a * n_b) is exact while
# cooc^2 * 1e6 < 2^63, i.e. cooc < ~3.0e6 baskets per pair — far above
# any per-pair count at the tested scales; the documented 100-TB
# drop-in is the same formula over per-shard partial counts.


def _q_item_cf(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n = bi.groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    baskets = bi.groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("items")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    cooc = pairs.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("cooc"))
    sym = cooc.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "cooc"
    ).unionAll(
        cooc.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "cooc"
        )
    )
    na = n.select(F.col("pk").alias("item"), F.col("c").alias("n_item"))
    nb = n.select(F.col("pk").alias("neighbor"), F.col("c").alias("n_nb"))
    sc = (
        sym.join(na, "item")
        .join(nb, "neighbor")
        .select(
            "item",
            "neighbor",
            "cooc",
            F.expr("(cooc * cooc * 1000000) div (n_item * n_nb)").alias(
                "cos2_ppm"
            ),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cos2_ppm").desc(), F.col("cooc").desc(), F.col("neighbor").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("item", "neighbor", "cooc", "cos2_ppm", "rank")
    )


_ITEM_CF_SQL = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (
      SELECT pk, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY pk
    ),
    pairs AS (
      SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS cooc
      FROM bi a JOIN bi b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
    ),
    sym AS (
      SELECT pa AS item, pb AS neighbor, cooc FROM pairs
      UNION ALL
      SELECT pb AS item, pa AS neighbor, cooc FROM pairs
    ),
    sc AS (
      SELECT s.item, s.neighbor, s.cooc,
             (s.cooc * s.cooc * 1000000) // (na.c * nb.c) AS cos2_ppm
      FROM sym s
      JOIN n na ON na.pk = s.item
      JOIN n nb ON nb.pk = s.neighbor
    ),
    rk AS (
      SELECT item, neighbor, cooc, cos2_ppm,
             CAST(row_number() OVER (
               PARTITION BY item
               ORDER BY cos2_ppm DESC, cooc DESC, neighbor ASC
             ) AS BIGINT) AS rank
      FROM sc
    )
    SELECT item, neighbor, cooc, cos2_ppm, rank FROM rk WHERE rank <= 5
    """

register(TEXT, "item_cf", _q_item_cf, _ITEM_CF_SQL)


# --------------------------------------------------------------------------
# fifo_allocation. Deterministic synthetic split of lineitem into
# supply lots (odd l_linenumber) and demand sales (even) per part,
# both FIFO-ordered by (shipdate, orderkey, linenumber) — a unique
# total order. One window cumsum per side turns quantities into
# half-open cumulative ranges; FIFO matching IS the range overlap:
# lot [s_lo, s_hi) serves sale [d_lo, d_hi) for
# least(s_hi, d_hi) - greatest(s_lo, d_lo) units whenever the ranges
# intersect. The join is equi on partkey with the range predicates as
# residual filters (per-part row groups are small; at heavy per-part
# skew the documented refinement is banding both sides by
# cum-quantity bucket, same technique as geodesic_band_join).
# Demand beyond total supply (and vice versa) is unmatched — shortage
# semantics, asserted in pytest.


def _fifo_side(li, parity: int):
    side = li.where(F.col("l_linenumber") % 2 == parity).select(
        F.col("l_partkey").alias("pk"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("pk").orderBy(
        "ship_us", "l_orderkey", "l_linenumber"
    )
    return side.select(
        "pk",
        "qty",
        F.row_number().over(w).cast("long").alias("seq"),
        F.coalesce(
            F.sum("qty").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("lo"),
    ).withColumn("hi", F.col("lo") + F.col("qty"))


def _q_fifo_allocation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    supply = _fifo_side(li, 1).select(
        "pk",
        F.col("seq").alias("lot_seq"),
        F.col("lo").alias("s_lo"),
        F.col("hi").alias("s_hi"),
    )
    demand = _fifo_side(li, 0).select(
        "pk",
        F.col("seq").alias("sale_seq"),
        F.col("lo").alias("d_lo"),
        F.col("hi").alias("d_hi"),
    )
    alloc = supply.join(demand, "pk").where(
        (F.col("s_lo") < F.col("d_hi")) & (F.col("d_lo") < F.col("s_hi"))
    )
    return alloc.select(
        F.col("pk").alias("partkey"),
        "lot_seq",
        "sale_seq",
        # double casts: the oracle's cumulative windowed sum(BIGINT) is
        # HUGEINT -> float64 in pandas (VERDICT r5 item 1b bug class);
        # quantities are small, exact in a double
        (
            F.least("s_hi", "d_hi") - F.greatest("s_lo", "d_lo")
        ).cast("double").alias("alloc_qty"),
        F.col("s_lo").cast("double").alias("lot_cum_start"),
        F.col("d_lo").cast("double").alias("sale_cum_start"),
    )


_FIFO_SQL = """
    WITH sided AS (
      SELECT l_partkey AS pk,
             CAST(l_quantity AS BIGINT) AS qty,
             epoch_us(l_shipdate) AS ship_us,
             l_orderkey, l_linenumber,
             l_linenumber % 2 AS parity
      FROM lineitem
    ),
    ranged AS (
      SELECT pk, parity, qty,
             CAST(row_number() OVER w AS BIGINT) AS seq,
             COALESCE(sum(qty) OVER (
               PARTITION BY pk, parity
               ORDER BY ship_us, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS lo
      FROM sided
      WINDOW w AS (
        PARTITION BY pk, parity
        ORDER BY ship_us, l_orderkey, l_linenumber
      )
    ),
    supply AS (
      SELECT pk, seq AS lot_seq, lo AS s_lo, lo + qty AS s_hi
      FROM ranged WHERE parity = 1
    ),
    demand AS (
      SELECT pk, seq AS sale_seq, lo AS d_lo, lo + qty AS d_hi
      FROM ranged WHERE parity = 0
    )
    SELECT s.pk AS partkey, s.lot_seq, d.sale_seq,
           least(s.s_hi, d.d_hi) - greatest(s.s_lo, d.d_lo) AS alloc_qty,
           s.s_lo AS lot_cum_start,
           d.d_lo AS sale_cum_start
    FROM supply s
    JOIN demand d ON d.pk = s.pk
     AND s.s_lo < d.d_hi AND d.d_lo < s.s_hi
    """

register(TEXT, "fifo_allocation", _q_fifo_allocation, _FIFO_SQL)
