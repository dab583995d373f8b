"""Round-5ff registry batch — two new operator families:

- ``point_diameter``: geometric diameter (max pairwise squared
  distance) and its witness pair for each user's point set — the
  spread statistic a tiling engine uses to size covers (how wide is
  this user's activity footprint?). Points capped at the first 48
  per user (the frechet_distance idiom), the pairwise frame is a
  user-keyed self-join bounded 48×48 per group — never corpus
  all-pairs — and distances are exact integer milli-degrees squared
  with a deterministic witness tie-break.
- ``twap_value``: time-weighted average value per user — the
  telemetry/finance aggregate where irregular sampling makes the
  plain mean wrong: each value holds until the next event, so
  TWAP = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_n−t₀). Held intervals in EXACT integer
  cent·milliseconds (magnitudes audited: ≤ 1.3e14 per segment, ≤
  1e16 per user — far inside BIGINT), result in exact milli-cents
  by integer division.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
spread or time-weighting surface — these extend the geospatial and
time-series axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_DIAM_CAP = 48


# --------------------------------------------------------------------------
# point_diameter. Same synthetic milli-degree points as
# frechet_distance / trajectory_length.


def _q_point_diameter(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            (F.lit(40000) + (F.col("event_id") * 991) % 3000).alias("lat"),
            ((F.col("event_id") * 1637) % 4000 - 2000).alias("lon"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _DIAM_CAP)
        .select("user_id", "event_id", "lat", "lon")
    )
    a = pts.alias("a")
    b = pts.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("eid_a"),
        F.col("b.event_id").alias("eid_b"),
        (
            (F.col("a.lat") - F.col("b.lat"))
            * (F.col("a.lat") - F.col("b.lat"))
            + (F.col("a.lon") - F.col("b.lon"))
            * (F.col("a.lon") - F.col("b.lon"))
        ).cast("long").alias("d2"),
    )
    wd = Window.partitionBy("user_id").orderBy(
        F.col("d2").desc(), F.col("eid_a"), F.col("eid_b")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") == 1)
        .select("user_id", "eid_a", "eid_b", F.col("d2").alias("diameter2"))
    )


_DIAM_SQL = f"""
    WITH pts AS (
      SELECT user_id, event_id,
             CAST(40000 + (event_id * 991) % 3000 AS BIGINT) AS lat,
             CAST((event_id * 1637) % 4000 - 2000 AS BIGINT) AS lon,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    capped AS (SELECT user_id, event_id, lat, lon FROM pts
               WHERE rn <= {_DIAM_CAP}),
    pairs AS (
      SELECT a.user_id, a.event_id AS eid_a, b.event_id AS eid_b,
             CAST((a.lat - b.lat) * (a.lat - b.lat)
                + (a.lon - b.lon) * (a.lon - b.lon) AS BIGINT) AS d2
      FROM capped a JOIN capped b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY d2 DESC, eid_a, eid_b) AS rk
      FROM pairs
    )
    SELECT user_id, eid_a, eid_b, d2 AS diameter2
    FROM ranked WHERE rk = 1
    """

register(GEO, "point_diameter", _q_point_diameter, _DIAM_SQL)


# --------------------------------------------------------------------------
# twap_value. Held-interval weighting over (ts, event_id)-ordered
# events; users with a single event (zero total duration) are
# excluded by an integer filter.


def _q_twap_value(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").alias("tms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    ).withColumn("next_tms", F.lead("tms").over(
        Window.partitionBy("user_id").orderBy("tms", "vc")
    ))
    # NOTE: ordering must be collision-proof; (tms, vc) can tie in
    # principle, so order by (tms, vc) in BOTH engines identically —
    # the weighted sum is tie-order-invariant because tied rows have
    # zero-length intervals except the last, and the value that spans
    # to the next distinct tms is the max-(vc) one in both engines.
    agg = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("tms").alias("t0"),
        F.max("tms").alias("t1"),
        F.sum(
            F.when(
                F.col("next_tms").isNotNull(),
                F.col("vc") * (F.col("next_tms") - F.col("tms")),
            )
        ).alias("weighted_sum"),
    )
    return agg.where(F.col("t1") > F.col("t0")).select(
        "user_id",
        "n_events",
        (F.col("t1") - F.col("t0")).alias("duration_ms"),
        "weighted_sum",
        F.expr("(1000 * weighted_sum) div (t1 - t0)").alias("twap_millicents"),
    )


_TWAP_SQL = """
    WITH seg AS (
      SELECT user_id,
             epoch_us(ts) // 1000 AS tms,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      FROM events
    ),
    led AS (
      SELECT user_id, tms, vc,
             lead(tms) OVER (PARTITION BY user_id ORDER BY tms, vc)
               AS next_tms
      FROM seg
    ),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(tms) AS BIGINT) AS t0,
             CAST(max(tms) AS BIGINT) AS t1,
             CAST(sum(CASE WHEN next_tms IS NOT NULL
                           THEN vc * (next_tms - tms) END) AS BIGINT)
               AS weighted_sum
      FROM led GROUP BY user_id
    )
    SELECT user_id, n_events, t1 - t0 AS duration_ms, weighted_sum,
           CAST(1000 * weighted_sum AS BIGINT) // (t1 - t0)
             AS twap_millicents
    FROM agg WHERE t1 > t0
    """

register(TEXT, "twap_value", _q_twap_value, _TWAP_SQL)
