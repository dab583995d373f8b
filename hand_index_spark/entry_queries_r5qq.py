"""Round-5qq registry batch — two new operator families:

- ``hex_bin``: hexagonal binning — the cartographer's aggregation
  grid (hex bins tile without the square grid's axis bias). Exact
  construction: hex binning IS nearest-center assignment on the
  offset (triangular) brick lattice — the Voronoi cells of that
  lattice are hexagons — so each point tests the 3×3 nearby lattice
  centers with EXACT integer squared distances and a deterministic
  tie-break. No irrational √3 anywhere (the lattice aspect 400:346
  approximates the regular-hex 2:√3; the tiling is exact either
  way). Bounded 9-way explode + one argmin window + one count
  aggregate.
- ``latency_histogram``: log₂-bucketed inter-arrival distribution
  per event type — the o11y latency histogram. floor(log₂ gap) is
  computed EXACTLY as length(bin(gap)) − 1 (the binary-string length
  trick — never float log2, whose rounding at powers of two differs
  between engines); per-type bucket counts plus the nearest-rank
  median bucket.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) stops
at square/H3/S2 cells; hex binning and latency histograms extend the
cell-index and telemetry axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_HEX_W = 400  # lattice column spacing (milli-degrees)
_HEX_H = 346  # lattice row spacing; odd rows offset by _HEX_W / 2


# --------------------------------------------------------------------------
# hex_bin. Lattice centers: (cx, cy) = (c * W + (r % 2) * W/2, r * H).
# Candidate rows r0-1..r0+1, cols c0-1..c0+1 around the point's
# naive cell — 9 candidates cover every Voronoi case at these
# spacings. Tie-break: (d2, cy, cx) ascending.


def _q_hex_bin(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        "doc_id",
        (F.lit(40000) + (F.col("doc_id") * 991) % 3000).alias("y"),
        ((F.col("doc_id") * 1637) % 4000 - 2000).alias("x"),
    )
    cand = pts.select(
        "doc_id",
        "x",
        "y",
        F.expr(
            f"explode(flatten(transform(sequence(-1, 1), dr ->"
            f" transform(sequence(-1, 1), dc -> named_struct("
            f" 'r', (y div {_HEX_H}) + dr,"
            f" 'c', (x div {_HEX_W}) + dc)))))"
        ).alias("rc"),
    ).select(
        "doc_id",
        "x",
        "y",
        F.expr(f"rc.c * {_HEX_W}"
               f" + abs(rc.r % 2) * {_HEX_W // 2}").alias("cx"),
        F.expr(f"rc.r * {_HEX_H}").alias("cy"),
    )
    scored = cand.select(
        "doc_id",
        "cx",
        "cy",
        (
            (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
            + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
        ).alias("d2"),
    )
    wn = Window.partitionBy("doc_id").orderBy("d2", "cy", "cx")
    assigned = (
        scored.withColumn("rk", F.row_number().over(wn))
        .where(F.col("rk") == 1)
    )
    return assigned.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("d2").alias("min_d2"),
        F.max("d2").alias("max_d2"),
    )


_HEX_SQL = f"""
    WITH pts AS (
      SELECT doc_id,
             CAST((doc_id * 1637) % 4000 - 2000 AS BIGINT) AS x,
             CAST(40000 + (doc_id * 991) % 3000 AS BIGINT) AS y
      FROM documents
    ),
    cand AS (
      SELECT doc_id, x, y,
             (x // {_HEX_W} + dc) * {_HEX_W}
               + abs((y // {_HEX_H} + dr) % 2) * {_HEX_W // 2} AS cx,
             (y // {_HEX_H} + dr) * {_HEX_H} AS cy
      FROM pts, unnest([-1, 0, 1]) AS a(dr), unnest([-1, 0, 1]) AS b(dc)
    ),
    scored AS (
      SELECT doc_id, cx, cy,
             (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2
      FROM cand
    ),
    assigned AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY d2, cy, cx) AS rk
      FROM scored
    )
    SELECT cx, cy,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(d2) AS BIGINT) AS min_d2,
           CAST(max(d2) AS BIGINT) AS max_d2
    FROM assigned WHERE rk = 1
    GROUP BY cx, cy
    """

register(GEO, "hex_bin", _q_hex_bin, _HEX_SQL)


# --------------------------------------------------------------------------
# latency_histogram. Gap between consecutive events of the SAME type
# in milliseconds (>= 1 enforced by greatest); bucket = floor(log2)
# via the binary-string length trick.


def _q_latency_histogram(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        "ts",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").alias("tms"),
        "event_id",
    ).select(
        "event_type",
        (F.col("tms") - F.lag("tms").over(w)).alias("gap"),
    ).where(F.col("gap").isNotNull()).select(
        "event_type",
        F.expr("greatest(gap, CAST(1 AS BIGINT))").alias("gap"),
    )
    bucketed = gaps.select(
        "event_type",
        (F.length(F.expr("bin(gap)")) - 1).cast("long").alias("bucket"),
    )
    counts = bucketed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = counts.select(
        "event_type",
        "bucket",
        "n",
        F.sum("n").over(wc).alias("cum"),
        F.sum("n").over(wt).alias("tot"),
    )
    return c.select(
        "event_type",
        "bucket",
        "n",
        (2 * F.col("cum") - 2 * F.col("n") < F.col("tot")).alias(
            "below_median"
        ),
        (
            (2 * (F.col("cum") - F.col("n")) < F.col("tot"))
            & (2 * F.col("cum") >= F.col("tot"))
        ).alias("is_median_bucket"),
    )


_LAT_SQL = """
    WITH raw AS (
      SELECT event_type,
             (epoch_us(ts) // 1000)
             - lag(epoch_us(ts) // 1000)
               OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS rgap
      FROM events
    ),
    gaps AS (
      -- NULL filter BEFORE the clamp: DuckDB's greatest() IGNORES
      -- NULL arguments (returns 1 for the first row) while Spark's
      -- propagates NULL — the filter must run on the raw lag
      SELECT event_type, greatest(rgap, CAST(1 AS BIGINT)) AS gap
      FROM raw WHERE rgap IS NOT NULL
    ),
    bucketed AS (
      SELECT event_type,
             CAST(length(bin(gap)) - 1 AS BIGINT) AS bucket
      FROM gaps
    ),
    counts AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
      FROM bucketed GROUP BY event_type, bucket
    ),
    c AS (
      SELECT event_type, bucket, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM counts
    )
    SELECT event_type, bucket, n,
           2 * cum - 2 * n < tot AS below_median,
           (2 * (cum - n) < tot AND 2 * cum >= tot) AS is_median_bucket
    FROM c
    """

register(TEXT, "latency_histogram", _q_latency_histogram, _LAT_SQL)
