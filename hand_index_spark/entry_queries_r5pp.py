"""Round-5pp registry batch — two new operator families:

- ``coverage_gaps``: spatial hole detection — grid cells inside the
  observed bounding box with NO page in the cell or any of its 8
  neighbors (the crawl-coverage audit a tiling engine runs: which
  map areas have we not indexed at all?). The cell universe is built
  closed-form from the 1-row bbox aggregate (bounded ~200 cells),
  membership tested with a broadcast left-anti join against the
  dilated page-cell set — never a corpus×universe product.
- ``mix_shift``: period-over-period metric decomposition — the
  analytics staple separating "the mix of segments changed" from
  "segments themselves changed": Δ total rate = Σ (w₂−w₁)·r₁ (mix)
  + Σ w₂·(r₂−r₁) (rate), segment = event type, periods = first vs
  second half-month. Counts and sums are exact BIGINTs; each effect
  is ONE shared double tree micro-floored (cross-multiplied BIGINT
  differences first, so the trees agree bit-for-bit); the
  decomposition-sums-to-total identity is pytest-pinned within
  floor tolerance.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
coverage-audit or decomposition surface — these extend the geospatial
and analytics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_GAP_CELL = 250  # milli-degree cell size


# --------------------------------------------------------------------------
# coverage_gaps. Page points: the geotag idiom (sampled 1-in-3 so
# holes exist at sf0.01). Cell = (lat div 250, lon div 250); the
# universe spans the observed bbox; a gap cell has no page in its
# 3x3 neighborhood.


def _q_coverage_gaps(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 3 == 0)
    pts = d.select(
        F.expr(f"(40000 + (doc_id * 991) % 3000) div {_GAP_CELL}")
        .alias("cy"),
        F.expr(f"((doc_id * 1637) % 4000 - 2000) div {_GAP_CELL}")
        .alias("cx"),
    )
    cells = pts.distinct()
    # dilate the occupied set by one ring (bounded 9x fan-out)
    dilated = cells.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dy ->"
                " transform(sequence(-1, 1), dx ->"
                " struct(cy + dy AS cy, cx + dx AS cx))))"
            )
        ).alias("c")
    ).select(F.col("c.cy").alias("cy"), F.col("c.cx").alias("cx")).distinct()
    bbox = cells.agg(
        F.min("cy").alias("y0"),
        F.max("cy").alias("y1"),
        F.min("cx").alias("x0"),
        F.max("cx").alias("x1"),
    )
    universe = bbox.select(
        F.explode(F.expr("sequence(y0, y1)")).alias("cy"),
        F.expr("x0").alias("x0"),
        F.expr("x1").alias("x1"),
    ).select(
        "cy", F.explode(F.expr("sequence(x0, x1)")).alias("cx")
    )
    gaps = universe.join(F.broadcast(dilated), ["cy", "cx"], "left_anti")
    return gaps.select("cy", "cx")


_GAPS_SQL = f"""
    WITH pts AS (
      SELECT DISTINCT
             (40000 + (doc_id * 991) % 3000) // {_GAP_CELL} AS cy,
             ((doc_id * 1637) % 4000 - 2000) // {_GAP_CELL} AS cx
      FROM documents WHERE doc_id % 3 = 0
    ),
    dilated AS (
      SELECT DISTINCT cy + dy AS cy, cx + dx AS cx
      FROM pts, unnest([-1, 0, 1]) AS a(dy), unnest([-1, 0, 1]) AS b(dx)
    ),
    bbox AS (
      SELECT min(cy) AS y0, max(cy) AS y1, min(cx) AS x0, max(cx) AS x1
      FROM pts
    ),
    universe AS (
      SELECT cy, cx
      FROM (SELECT unnest(range(y0, y1 + 1)) AS cy, x0, x1 FROM bbox),
           LATERAL (SELECT unnest(range(x0, x1 + 1)) AS cx)
    )
    SELECT u.cy AS cy, u.cx AS cx
    FROM universe u
    ANTI JOIN dilated d ON u.cy = d.cy AND u.cx = d.cx
    """

register(GEO, "coverage_gaps", _q_coverage_gaps, _GAPS_SQL)


# --------------------------------------------------------------------------
# mix_shift. Periods by epoch-day parity of half-month: day < 15 of
# the event month -> p1 else p2 (the fixture spans one month).


def _q_mix_shift(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr(
            "CASE WHEN day(CAST(ts AS TIMESTAMP)) < 15 THEN 1 ELSE 2 END"
        ).alias("period"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("yc"),
    )
    seg = base.groupBy("event_type").agg(
        F.sum(F.expr("CASE WHEN period = 1 THEN 1 ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN period = 1 THEN yc ELSE 0 END")).alias("s1"),
        F.sum(F.expr("CASE WHEN period = 2 THEN 1 ELSE 0 END")).alias("n2"),
        F.sum(F.expr("CASE WHEN period = 2 THEN yc ELSE 0 END")).alias("s2"),
    )
    tot = seg.groupBy().agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2")
    )
    j = seg.crossJoin(F.broadcast(tot)).where(
        (F.col("n1") > 0) & (F.col("n2") > 0)
    )
    mix = (
        "CAST(floor(1000000.0 * CAST(n2 * t1 - n1 * t2 AS DOUBLE)"
        " * CAST(s1 AS DOUBLE)"
        " / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)"
        " * CAST(n1 AS DOUBLE))) AS BIGINT)"
    )
    rate = (
        "CAST(floor(1000000.0 * CAST(s2 * n1 - s1 * n2 AS DOUBLE)"
        " / (CAST(t2 AS DOUBLE) * CAST(n1 AS DOUBLE))) AS BIGINT)"
    )
    return j.select(
        "event_type",
        "n1",
        "n2",
        "s1",
        "s2",
        F.expr(mix).alias("mix_effect_micro"),
        F.expr(rate).alias("rate_effect_micro"),
    )


_MIX_SQL = """
    WITH base AS (
      SELECT event_type,
             CASE WHEN day(ts) < 15 THEN 1 ELSE 2 END AS period,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS yc
      FROM events
    ),
    seg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(sum(CASE WHEN period = 1 THEN yc ELSE 0 END) AS BIGINT)
               AS s1,
             CAST(sum(CASE WHEN period = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(sum(CASE WHEN period = 2 THEN yc ELSE 0 END) AS BIGINT)
               AS s2
      FROM base GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
      FROM seg
    )
    SELECT event_type, n1, n2, s1, s2,
           CAST(floor(1000000.0 * CAST(n2 * t1 - n1 * t2 AS DOUBLE)
                * CAST(s1 AS DOUBLE)
                / (CAST(t1 AS DOUBLE) * CAST(t2 AS DOUBLE)
                * CAST(n1 AS DOUBLE))) AS BIGINT) AS mix_effect_micro,
           CAST(floor(1000000.0 * CAST(s2 * n1 - s1 * n2 AS DOUBLE)
                / (CAST(t2 AS DOUBLE) * CAST(n1 AS DOUBLE))) AS BIGINT)
             AS rate_effect_micro
    FROM seg, tot
    WHERE n1 > 0 AND n2 > 0
    """

register(TEXT, "mix_shift", _q_mix_shift, _MIX_SQL)
