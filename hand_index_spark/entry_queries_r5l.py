"""Round-5l registry batch — three new operator families:

- ``lttb_downsample``: Largest-Triangle-Three-Buckets time-series
  downsampling (the standard dashboarding decimation; Steinarsson
  2013) in its bucket-mean form — per user, B buckets, keep the point
  whose triangle with the NEIGHBOR BUCKET MEANS has the largest area.
  The area comparison is carried as an EXACT integer (the rational
  means are cleared by c_l^2*c_r, derivation in the code), so the
  argmax is order-free and bit-identical on any partitioning.
- ``encoding_advisor``: storage-layout advisor — for each analyzed
  column (ordered by the table's cluster key) compute run count,
  average run length and max adjacent delta, then recommend
  RLE / DELTA / PLAIN. Runs are counted with a DISTRIBUTED TWO-PHASE
  decomposition (per-range-bucket runs + cross-boundary joins), the
  same trick as ``pack_chunks`` — no global single-partition window;
  the oracle computes the same stats with the naive global window,
  proving the decomposition exact.
- ``attribution_last_touch``: marketing attribution — each purchase
  attributes its revenue to the user's most recent click within 7
  days, else counts as organic. The carried click is ONE struct
  through a running last(ignorenulls) (the as-of idiom from
  operators/temporal.py — never per-column backfill), one keyed
  window + one aggregate.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
downsampling, layout-advisor or attribution surface — these extend
the time-series/storage/analytics axes the brief names as
first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# lttb_downsample. x = per-user 0-based rank (small exact ints), y =
# value cents. Bucket b = (x*B) div n. For an interior-bucket point p,
# with left/right neighbor bucket sums (Sx,Sy) and counts c:
#   area2 = (mxl-mxr)(y_p-myl) - (mxl-x_p)(myr-myl),  m* = S*/c*
# clearing denominators by c_l^2*c_r (both terms share it):
#   A = (Sx_l*c_r - Sx_r*c_l)*(y_p*c_l - Sy_l)
#     - (Sx_l - x_p*c_l)*(Sy_r*c_l - Sy_l*c_r)
# |A| is an exact BIGINT proportional to the true area. Selection key:
# bucket 0 keeps its first point, the last bucket its last point
# (classic LTTB endpoints), interiors the max-|A| point (smallest rank
# on ties).

_LTTB_B = 8


def _q_lttb_downsample(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.withColumn("x", F.row_number().over(w) - 1).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    b = F.lit(_LTTB_B)
    pts = pts.withColumn("bucket", F.expr(f"(x * {_LTTB_B}) div n"))
    bs = pts.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    wb = Window.partitionBy("user_id").orderBy("bucket")
    nb = bs.select(
        "user_id", "bucket",
        F.lag(F.struct("c", "sx", "sy")).over(wb).alias("l"),
        F.lead(F.struct("c", "sx", "sy")).over(wb).alias("r"),
    )
    j = pts.join(nb, ["user_id", "bucket"])
    area = F.abs(
        (F.col("l.sx") * F.col("r.c") - F.col("r.sx") * F.col("l.c"))
        * (F.col("y") * F.col("l.c") - F.col("l.sy"))
        - (F.col("l.sx") - F.col("x") * F.col("l.c"))
        * (F.col("r.sy") * F.col("l.c") - F.col("l.sy") * F.col("r.c"))
    )
    k1 = F.when(
        (F.col("bucket") > 0) & (F.col("bucket") < b - 1), area
    ).otherwise(F.lit(0))
    k2 = F.when(F.col("bucket") == b - 1, -F.col("x")).otherwise(F.col("x"))
    sel = (
        j.groupBy("user_id", "bucket")
        .agg(
            F.max(
                F.struct(
                    k1.alias("k1"), (-k2).alias("nk2"),
                    F.col("x").alias("x"), F.col("y").alias("y"),
                )
            ).alias("m")
        )
        .select(
            "user_id", "bucket",
            # long cast: the oracle emits CAST(x AS BIGINT) while the
            # struct field is int32 — dtype-strict hash parity
            F.col("m.x").cast("long").alias("sel_x"),
            F.col("m.y").alias("sel_y"),
        )
    )
    return sel


_LTTB_SQL = f"""
    WITH pts AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) - 1 AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), bp AS (
      SELECT *, (x * {_LTTB_B}) // n AS bucket FROM pts
    ), bs AS (
      SELECT user_id, bucket, count(*) AS c,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
      FROM bp GROUP BY user_id, bucket
    ), nb AS (
      SELECT user_id, bucket,
             lag(c) OVER w AS lc, lag(sx) OVER w AS lsx,
             lag(sy) OVER w AS lsy,
             lead(c) OVER w AS rc, lead(sx) OVER w AS rsx,
             lead(sy) OVER w AS rsy
      FROM bs WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
    ), j AS (
      SELECT bp.*, nb.lc, nb.lsx, nb.lsy, nb.rc, nb.rsx, nb.rsy,
             CASE WHEN bp.bucket > 0 AND bp.bucket < {_LTTB_B} - 1
                  THEN abs((nb.lsx * nb.rc - nb.rsx * nb.lc)
                           * (bp.y * nb.lc - nb.lsy)
                         - (nb.lsx - bp.x * nb.lc)
                           * (nb.rsy * nb.lc - nb.lsy * nb.rc))
                  ELSE 0 END AS k1,
             CASE WHEN bp.bucket = {_LTTB_B} - 1 THEN -bp.x
                  ELSE bp.x END AS k2
      FROM bp JOIN nb USING (user_id, bucket)
    )
    SELECT user_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(x AS BIGINT) AS sel_x, y AS sel_y
    FROM j
    QUALIFY row_number() OVER (PARTITION BY user_id, bucket
                               ORDER BY k1 DESC, k2 ASC) = 1
    """

register(TEXT, "lttb_downsample", _q_lttb_downsample, _LTTB_SQL)


# --------------------------------------------------------------------------
# encoding_advisor. Analyzed columns of `orders`, ordered by
# o_orderkey (the cluster key): o_orderkey itself (dense, delta 1 ->
# DELTA), o_custkey (shuffled -> PLAIN), and the derived partition
# value o_orderkey div 512 (block id -> RLE — the advisor's job
# includes layout-derived columns). Two-phase runs: per range bucket,
# runs and the
# max in-bucket adjacent delta come from a bucket-partitioned window;
# cross-boundary adjacency comes from joining each bucket's first
# element with the previous NON-EMPTY bucket's last element (a tiny
# per-(col,bucket) frame, window over buckets). Thresholds:
# RLE when avg run >= 10 elements, DELTA when every adjacent delta
# fits a nibble-ish bound (<= 8), else PLAIN.

_ENC_SPAN = 512


def _q_encoding_advisor(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    long = o.select(
        F.col("o_orderkey").alias("ord"),
        F.expr(
            "stack(3, 'o_orderkey', CAST(o_orderkey AS BIGINT), "
            "'o_custkey', CAST(o_custkey AS BIGINT), "
            f"'o_block', CAST(o_orderkey div {_ENC_SPAN} AS BIGINT)) "
            "AS (col_name, v)"
        ),
    ).withColumn("bucket", F.expr(f"ord div {_ENC_SPAN}"))
    win = Window.partitionBy("col_name", "bucket").orderBy("ord")
    steps = long.withColumn("pv", F.lag("v").over(win))
    per_bucket = steps.groupBy("col_name", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pv").isNull() | (F.col("v") != F.col("pv")), 1)
              .otherwise(0)).alias("runs_in"),
        F.max(F.abs(F.col("v") - F.col("pv"))).alias("max_d_in"),
        F.expr("min_by(v, ord)").alias("first_v"),
        F.expr("max_by(v, ord)").alias("last_v"),
    )
    wb = Window.partitionBy("col_name").orderBy("bucket")
    with_prev = per_bucket.withColumn("prev_last", F.lag("last_v").over(wb))
    return (
        with_prev.groupBy("col_name")
        .agg(
            F.sum("n").alias("n_values"),
            (
                F.sum("runs_in")
                - F.sum(
                    F.when(F.col("first_v") == F.col("prev_last"), 1)
                    .otherwise(0)
                )
            ).alias("runs"),
            F.greatest(
                F.max("max_d_in"),
                F.max(F.abs(F.col("first_v") - F.col("prev_last"))),
            ).alias("max_delta"),
        )
        .select(
            "col_name", "n_values", "runs", "max_delta",
            # double cast: oracle's HUGEINT-promoted // -> float64 in
            # pandas (VERDICT r5 item 1b bug class); exact micro value
            F.expr(f"(1000000 * n_values) div runs").cast("double")
            .alias("avg_run_micro"),
            F.when(F.col("runs") * 10 <= F.col("n_values"), F.lit("RLE"))
            .when(F.col("max_delta") <= 8, F.lit("DELTA"))
            .otherwise(F.lit("PLAIN"))
            .alias("advice"),
        )
    )


_ENC_SQL = f"""
    WITH long AS (
      SELECT o_orderkey AS ord, col_name, v FROM (
        SELECT o_orderkey, 'o_orderkey' AS col_name,
               CAST(o_orderkey AS BIGINT) AS v FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS BIGINT)
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'o_block',
               CAST(o_orderkey // {_ENC_SPAN} AS BIGINT)
        FROM orders
      )
    ), s AS (
      SELECT col_name, v,
             lag(v) OVER (PARTITION BY col_name ORDER BY ord) AS pv
      FROM long
    )
    SELECT col_name,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                AS BIGINT) AS runs,
           max(abs(v - pv)) AS max_delta,
           CAST(1000000 * count(*) AS BIGINT)
             // sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
             AS avg_run_micro,
           CASE WHEN sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                     * 10 <= count(*) THEN 'RLE'
                WHEN max(abs(v - pv)) <= 8 THEN 'DELTA'
                ELSE 'PLAIN' END AS advice
    FROM s GROUP BY col_name
    """

register(TEXT, "encoding_advisor", _q_encoding_advisor, _ENC_SQL)


# --------------------------------------------------------------------------
# attribution_last_touch. The carried click is one struct through
# last(ignorenulls) over the per-user (ts, event_id) order — the
# operators/temporal.py as-of idiom, so the click's ts and id always
# come from the SAME row. 7-day horizon via the unix_micros cast.

_ATTR_HORIZON_US = 7 * 24 * 3600 * 1_000_000


def _q_attribution_last_touch(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    click = F.when(
        F.col("event_type") == "click",
        F.struct(us.alias("cus"), F.col("event_id").alias("cid")),
    )
    carried = e.withColumn("lc", F.last(click, ignorenulls=True).over(w))
    purch = carried.filter(F.col("event_type") == "purchase").withColumn(
        "attributed",
        (
            F.col("lc").isNotNull()
            & (us - F.col("lc.cus") <= F.lit(_ATTR_HORIZON_US))
        ).cast("int"),
    )
    return purch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("attributed").alias("n_attributed"),
        F.sum(F.col("attributed") * F.col("cents")).alias("attributed_cents"),
        F.sum((1 - F.col("attributed")) * F.col("cents")).alias("organic_cents"),
    )


_ATTR_SQL = f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), carried AS (
      SELECT *,
             last(CASE WHEN event_type = 'click'
                       THEN struct_pack(cus := epoch_us(ts),
                                        cid := event_id) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS lc
      FROM e
    ), purch AS (
      SELECT *,
             CASE WHEN lc IS NOT NULL
                   AND epoch_us(ts) - lc.cus <= {_ATTR_HORIZON_US}
                  THEN 1 ELSE 0 END AS attributed
      FROM carried WHERE event_type = 'purchase'
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(attributed) AS BIGINT) AS n_attributed,
           CAST(sum(attributed * cents) AS BIGINT) AS attributed_cents,
           CAST(sum((1 - attributed) * cents) AS BIGINT) AS organic_cents
    FROM purch GROUP BY user_id
    """

register(TEXT, "attribution_last_touch", _q_attribution_last_touch, _ATTR_SQL)
