"""Round-5jj registry batch — two new operator families:

- ``bearing_rose``: 8-sector compass rose of movement bearings per
  user — the trajectory-direction profile (is this track coastwise
  or inland-bound?). Sectors at 45° boundaries are decided by PURE
  INTEGER comparisons (sign(dx), sign(dy), |dx| vs |dy| — no atan2,
  whose libm rounding differs between engines), zero-length steps
  dropped; per-user sector counts plus the dominant sector with a
  deterministic tie-break.
- ``clamped_balance``: running balance with a floor — cumulative sum
  clamped at zero after every step (inventory / credit semantics:
  acc' = max(0, acc + x)). NOT a plain window cumsum — the clamp
  makes it a true left fold, run through Catalyst's aggregate() HOF
  and DuckDB's list_reduce over the identically-ordered delta list.
  Deltas are exact integer cents (signed by event type), so the
  result is bit-identical with no float protocol.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
direction-profile or stateful-balance surface — these extend the
trajectory and sequence axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# bearing_rose. Sector numbering (compass, clockwise from north):
#   0=N 1=NE 2=E 3=SE 4=S 5=SW 6=W 7=NW
# with sectors centered on the axes/diagonals. Sector boundaries use
# the RATIONAL slope 1/2 (atan(1/2) ~ 26.6 degrees, standing in for
# the irrational tan 22.5) so membership is decided by exact integer
# comparisons; exact-boundary hits resolve by CASE order (axis sector
# first) — deterministic and identical on both engines.
# dx = east (lon), dy = north (lat).

_SECTOR_CASE = """
CASE
  WHEN dy > 0 AND 2 * abs(dx) <= dy THEN 0
  WHEN dx > 0 AND 2 * dy >= dx AND dy > 0 AND NOT (2 * abs(dx) <= dy)
       THEN 1
  WHEN dx > 0 AND 2 * abs(dy) <= dx THEN 2
  WHEN dx > 0 AND dy < 0 AND 2 * (-dy) >= dx AND NOT (2 * abs(dy) <= dx)
       THEN 3
  WHEN dy < 0 AND 2 * abs(dx) <= (-dy) THEN 4
  WHEN dx < 0 AND dy < 0 AND 2 * (-dy) >= (-dx)
       AND NOT (2 * abs(dx) <= (-dy)) THEN 5
  WHEN dx < 0 AND 2 * abs(dy) <= (-dx) THEN 6
  ELSE 7
END
"""


def _q_bearing_rose(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.lit(40000) + (F.col("event_id") * 991) % 3000).alias("lat"),
        ((F.col("event_id") * 1637) % 4000 - 2000).alias("lon"),
    )
    seg = pts.select(
        "user_id",
        (F.col("lon") - F.lag("lon").over(w)).alias("dx"),
        (F.col("lat") - F.lag("lat").over(w)).alias("dy"),
    ).where(
        F.col("dx").isNotNull() & ((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    sect = seg.select(
        "user_id", F.expr(_SECTOR_CASE).cast("long").alias("sector")
    )
    counts = sect.groupBy("user_id", "sector").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("user_id").agg(
        F.sum("n").alias("n_steps"),
        F.countDistinct("sector").alias("n_sectors"),
        F.expr("min_by(sector, sector - n * 1000000)")
        .alias("dominant_sector"),
        F.max("n").alias("dominant_n"),
    )


_ROSE_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(40000 + (event_id * 991) % 3000 AS BIGINT) AS lat,
             CAST((event_id * 1637) % 4000 - 2000 AS BIGINT) AS lon
      FROM events
    ),
    seg AS (
      SELECT user_id,
             lon - lag(lon) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dx,
             lat - lag(lat) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dy
      FROM pts
    ),
    sect AS (
      SELECT user_id, CAST({_SECTOR_CASE} AS BIGINT) AS sector
      FROM seg
      WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)
    ),
    counts AS (
      SELECT user_id, sector, CAST(count(*) AS BIGINT) AS n
      FROM sect GROUP BY user_id, sector
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_steps,
           CAST(count(DISTINCT sector) AS BIGINT) AS n_sectors,
           CAST(min_by(sector, sector - n * 1000000) AS BIGINT)
             AS dominant_sector,
           CAST(max(n) AS BIGINT) AS dominant_n
    FROM counts GROUP BY user_id
    """

register(GEO, "bearing_rose", _q_bearing_rose, _ROSE_SQL)


# --------------------------------------------------------------------------
# clamped_balance. Delta = +cents for purchase/signup, -cents for the
# rest; fold acc' = greatest(0, acc + delta) over the (ts, event_id)
# order; also reports how many steps hit the floor (acc + x < 0).


def _q_clamped_balance(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    d = e.select(
        "user_id",
        F.struct(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
            F.col("event_id").alias("eid"),
            F.expr(
                "CASE WHEN event_type IN ('purchase', 'signup')"
                " THEN CAST(floor(value * 100 + 0.5) AS BIGINT)"
                " ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END"
            ).alias("delta"),
        ).alias("row"),
    )
    g = d.groupBy("user_id").agg(
        F.sort_array(F.collect_list("row")).alias("arr")
    )
    folded = g.select(
        "user_id",
        F.size("arr").cast("long").alias("n_events"),
        F.aggregate(
            F.expr("transform(arr, x -> x.delta)"),
            F.expr(
                "named_struct('bal', CAST(0 AS BIGINT),"
                " 'floors', CAST(0 AS BIGINT))"
            ),
            lambda acc, x: F.struct(
                F.greatest(F.lit(0).cast("long"), acc["bal"] + x)
                .alias("bal"),
                (
                    acc["floors"]
                    + F.when(acc["bal"] + x < 0, 1).otherwise(0)
                ).cast("long").alias("floors"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("st.bal").alias("final_balance"),
        F.col("st.floors").alias("floor_hits"),
    )


_BAL_SQL = """
    WITH d AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN event_type IN ('purchase', 'signup')
                  THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                  ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END
               AS delta
      FROM events
    ),
    g AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                            list([delta, CAST(0 AS BIGINT)]
                                 ORDER BY us, event_id)),
               (acc, x) -> [greatest(CAST(0 AS BIGINT), acc[1] + x[1]),
                            acc[2] + CASE WHEN acc[1] + x[1] < 0
                                          THEN 1 ELSE 0 END]
             ) AS st
      FROM d GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(st[1] AS BIGINT) AS final_balance,
           CAST(st[2] AS BIGINT) AS floor_hits
    FROM g
    """

register(TEXT, "clamped_balance", _q_clamped_balance, _BAL_SQL)
