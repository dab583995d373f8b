"""Round-5vv registry batch — two new operator families:

- ``cidr_match``: CIDR longest-prefix matching — the web-log
  enrichment step (which network block does this client IP belong
  to?). Deterministic synthetic IPv4s from the event hash; a
  16-entry broadcast prefix table with mixed /8../24 lengths;
  containment by pure integer shift arithmetic (ip div 2^(32−len) ==
  net div 2^(32−len)) and LONGEST-prefix wins via the rank window.
  No string parsing, no UDFs.
- ``abc_classification``: Pareto ABC inventory analysis — parts
  ranked by revenue, classified A (first 80% of cumulative revenue),
  B (next 15%), C (tail) with INTEGER cross-multiplied cumulative
  comparisons (cum·100 vs total·80 — never a float share), plus each
  part's exact revenue-share ppm. The classic ops/merchandising
  rollup.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
network or inventory surface — these extend the web-analytics and
OLAP axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# cidr_match. Blocks: for i in 0..15, prefix length 8 + (i % 3) * 8
# (8, 16, 24) and network = (i * 715827883) % 2^32 masked to the
# prefix. The synthetic IP: (event_id * 2654435761) % 2^32. A /8 of
# net i is deliberately nested inside others so longest-prefix
# matters.

_CIDR_N = 16


def _cidr_rows() -> list[tuple[int, int, int]]:
    rows = []
    for i in range(_CIDR_N):
        plen = 8 + (i % 3) * 8
        raw = (i * 715827883) % (1 << 32)
        shift = 32 - plen
        net = (raw >> shift) << shift
        rows.append((i, net, plen))
    return rows


def _q_cidr_match(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ips = e.select(
        "event_id",
        F.expr("(event_id * 2654435761) % 4294967296").alias("ip"),
    )
    blocks = spark.createDataFrame(
        _cidr_rows(), "block_id long, net long, plen long"
    )
    j = ips.crossJoin(F.broadcast(blocks)).where(
        F.expr("ip div CAST(pow(2, 32 - plen) AS BIGINT)"
               " = net div CAST(pow(2, 32 - plen) AS BIGINT)")
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("plen").desc(), F.col("block_id")
    )
    best = (
        j.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_id", "ip", "block_id", "plen")
    )
    return best.groupBy("block_id", "plen").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ip").alias("min_ip"),
        F.max("ip").alias("max_ip"),
    )


def _cidr_sql() -> str:
    vals = ", ".join(f"({i}, {net}, {plen})"
                     for i, net, plen in _cidr_rows())
    return f"""
    WITH ips AS (
      SELECT event_id, (event_id * 2654435761) % 4294967296 AS ip
      FROM events
    ),
    blocks(block_id, net, plen) AS (VALUES {vals}),
    j AS (
      SELECT i.event_id, i.ip, b.block_id, b.plen
      FROM ips i JOIN blocks b
        ON i.ip // CAST(pow(2, 32 - b.plen) AS BIGINT)
         = b.net // CAST(pow(2, 32 - b.plen) AS BIGINT)
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                  ORDER BY plen DESC, block_id) AS rk
      FROM j
    )
    SELECT CAST(block_id AS BIGINT) AS block_id,
           CAST(plen AS BIGINT) AS plen,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(ip) AS BIGINT) AS min_ip,
           CAST(max(ip) AS BIGINT) AS max_ip
    FROM best WHERE rk = 1
    GROUP BY block_id, plen
    """


register(TEXT, "cidr_match", _q_cidr_match, _cidr_sql())


# --------------------------------------------------------------------------
# abc_classification. Revenue per part from lineitem in exact cents.


def _q_abc_classification(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
        ).alias("revenue_c")
    )
    wr = Window.orderBy(F.col("revenue_c").desc(), F.col("l_partkey"))
    wt = Window.partitionBy()
    c = rev.select(
        F.col("l_partkey").alias("partkey"),
        "revenue_c",
        F.sum("revenue_c")
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_c"),
        F.sum("revenue_c").over(wt).alias("total_c"),
        F.row_number().over(wr).cast("long").alias("rank"),
    )
    cls = (
        "CASE WHEN (cum_c - revenue_c) * 100 < total_c * 80 THEN 'A'"
        " WHEN (cum_c - revenue_c) * 100 < total_c * 95 THEN 'B'"
        " ELSE 'C' END"
    )
    return c.select(
        "partkey",
        "revenue_c",
        "rank",
        F.expr("(1000000 * revenue_c) div total_c").alias("share_ppm"),
        F.expr(cls).alias("abc_class"),
    )


_ABC_SQL = """
    WITH rev AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revenue_c
      FROM lineitem GROUP BY l_partkey
    ),
    c AS (
      SELECT partkey, revenue_c,
             CAST(sum(revenue_c) OVER (ORDER BY revenue_c DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_c,
             CAST(sum(revenue_c) OVER () AS BIGINT) AS total_c,
             CAST(row_number() OVER (ORDER BY revenue_c DESC, partkey)
                  AS BIGINT) AS rank
      FROM rev
    )
    SELECT partkey, revenue_c, rank,
           CAST(1000000 * revenue_c AS BIGINT) // total_c AS share_ppm,
           CASE WHEN (cum_c - revenue_c) * 100 < total_c * 80 THEN 'A'
                WHEN (cum_c - revenue_c) * 100 < total_c * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """

register(TEXT, "abc_classification", _q_abc_classification, _ABC_SQL)
