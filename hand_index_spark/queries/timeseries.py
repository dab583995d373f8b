"""Time-series and event-sequence queries: smoothing, change detection,
autocorrelation, downsampling, forecasting and backtests, DTW, streaks,
candles, calendar arithmetic, sequence mining and sweep-line concurrency.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.dtw import BIG as _DTW_BIG, dtw_dp_last
from ..registry import TEXT, read_table as _t, register


# --------------------------------------------------------------------------
# EWMA smoothing (alpha = 1/2) per user over the event value stream,
# computed as an explicit LEFT-ASSOCIATIVE fold over the
# identically-ordered value list on BOTH engines: acc' = (acc + v)/2
# from acc0 = 0. Halving is exact and the adds round identically, so
# the doubles hash-match bit-for-bit (the idw/resample ordered-fold
# protocol). One groupBy; the fold runs inside Catalyst's aggregate()
# higher-order function — no Python, no window.

_US = "epoch_us(ts)"  # DuckDB twin of Spark's unix_micros(cast) idiom


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
# ``cusum_changepoints``: CUSUM drift/change detection per user over
# the events value stream. The sequential recursion
# ``S_i = max(0, S_{i-1} + (x_i - k))`` is rewritten into its closed
# form ``S_i = P_i - min(0, min_{j<=i} P_j)`` (prefix sums + running
# min), so the whole detector is ONE window pass — the shape that
# scales, instead of a per-row stateful fold.
#
# CUSUM change detection per user. Values quantized to exact cents
# (floor(v*100 + 0.5) — the repo-wide idiom), target k and threshold h
# fixed integers, so every intermediate is a BIGINT and the two
# engines agree bit-for-bit. The textbook recursion
#     S_i = max(0, S_{i-1} + (x_i - k)),  alert when S_i > h
# has the closed form (proved by induction; pytest replays the
# recursion in python):
#     P_i = sum_{j<=i} (x_j - k);  S_i = P_i - min(0, min_{j<=i} P_j)
# so the detector is prefix-sum + running-min — one window partition
# per user, linear in the stream, no per-row state. Output: per-user
# alert count, peak statistic, event count.

_CUSUM_K = 6000  # target, cents (stream mean is ~4963)
_CUSUM_H = 20000  # alert threshold, cents


def _q_cusum_changepoints(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    x = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = e.select("user_id", "event_id", us.alias("us"), x.alias("x"))
    pref = base.withColumn(
        "p", F.sum(F.col("x") - F.lit(_CUSUM_K)).over(w)
    )
    s = pref.withColumn(
        "s", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    # max_s as DOUBLE: the oracle's windowed sum(BIGINT) promotes to
    # HUGEINT in DuckDB, which pandas/Arrow materializes as float64 —
    # Spark's int64 was value-equal but hash-red on dtype
    # (CORRECTNESS_r05 / VERDICT r5 item 1b). Values are cents-scale
    # sums, far below 2^53, so the double is exact.
    return s.groupBy("user_id").agg(
        F.sum((F.col("s") > F.lit(_CUSUM_H)).cast("long")).alias("n_alerts"),
        F.max("s").cast("double").alias("max_s"),
        F.count(F.lit(1)).alias("n_events"),
    )


_CUSUM_SQL = f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      FROM events
    ),
    pref AS (
      SELECT *, sum(x - {_CUSUM_K}) OVER (
                  PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM base
    ),
    st AS (
      SELECT user_id,
             p - least(CAST(0 AS BIGINT), min(p) OVER (
                  PARTITION BY user_id ORDER BY us, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      FROM pref
    )
    SELECT user_id,
           CAST(sum(CASE WHEN s > {_CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alerts,
           max(s) AS max_s,
           count(*) AS n_events
    FROM st GROUP BY user_id
    """

register(TEXT, "cusum_changepoints", _q_cusum_changepoints, _CUSUM_SQL)


# --------------------------------------------------------------------------
# ``acf_lags``: per-user autocorrelation (Pearson r at lags 1..3) of
# the event value series — the time-series diagnostic next to the
# EWMA/CUSUM/MAD family. Values quantized to exact integer cents, all
# moment sums BIGINT (exact), one final double expression with
# identical operation order on both engines.
#
# acf_lags: Pearson autocorrelation of the per-user event value series
# at lags 1..3, ordered by (ts, event_id). Values quantized to exact
# cents (the cusum idiom), every moment sum an exact BIGINT (bounds:
# |cents| <= ~5e4, per-user n bounded, so n*Sxx <= ~1e14 << 2^63), and
# the final r is ONE double expression with the same operation order
# in both engines:  r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) *
# (n*Syy - Sy^2)), rounded to 4dp; NULL when either variance is 0.
# Shape: one keyed window (lead), one hash aggregate per lag, a 3-way
# union of per-lag frames — no joins, no Python.

_ACF_LAGS = (1, 2, 3)


def _q_acf_lags(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frames = []
    for k in _ACF_LAGS:
        pairs = e.withColumn("y", F.lead("x", k).over(w)).filter(
            F.col("y").isNotNull()
        )
        agg = pairs.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
        vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
        r = F.when(
            (vx > 0) & (vy > 0),
            F.round(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double")),
                4,
            ),
        )
        frames.append(
            agg.select(
                "user_id",
                F.lit(k).cast("long").alias("lag"),
                F.col("n").alias("n_pairs"),
                r.alias("r"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out


def _acf_sql() -> str:
    parts = []
    for k in _ACF_LAGS:
        parts.append(f"""
    SELECT user_id, CAST({k} AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN (count(*) * sum(x * x) - sum(x) * sum(x)) > 0
                 AND (count(*) * sum(y * y) - sum(y) * sum(y)) > 0
                THEN round(
                  CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE)
                  / sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
                         * CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE)),
                  4)
           END AS r
    FROM (
      SELECT user_id, x,
             lead(x, {k}) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS y
      FROM (SELECT user_id, ts, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
            FROM events)
    ) WHERE y IS NOT NULL
    GROUP BY user_id""")
    return " UNION ALL ".join(parts)


register(TEXT, "acf_lags", _q_acf_lags, _acf_sql())


# --------------------------------------------------------------------------
# ``lttb_downsample``: Largest-Triangle-Three-Buckets time-series
# downsampling (the standard dashboarding decimation; Steinarsson
# 2013) in its bucket-mean form — per user, B buckets, keep the point
# whose triangle with the NEIGHBOR BUCKET MEANS has the largest area.
# The area comparison is carried as an EXACT integer (the rational
# means are cleared by c_l^2*c_r, derivation in the code), so the
# argmax is order-free and bit-identical on any partitioning.
#
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
# ``event_bigram_mining``: sequential pattern mining (PrefixSpan depth
# 2) — consecutive event-type pairs per user, reported with total
# occurrences and USER SUPPORT (distinct users exhibiting the
# pattern), the market-basket/clickstream primitive. One keyed lead
# window + one hash aggregate; all-integer.

_MINE_MIN_SUPPORT = 10  # distinct users


def _q_event_bigram_mining(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                           "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select("user_id", F.col("event_type").alias("a"),
                F.col("nxt").alias("b"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("user_id").alias("user_support"),
        )
        .filter(F.col("user_support") >= _MINE_MIN_SUPPORT)
    )


_MINE_SQL = f"""
    WITH pairs AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    )
    SELECT a, b, CAST(count(*) AS BIGINT) AS occurrences,
           CAST(count(DISTINCT user_id) AS BIGINT) AS user_support
    FROM pairs WHERE b IS NOT NULL
    GROUP BY a, b HAVING count(DISTINCT user_id) >= {_MINE_MIN_SUPPORT}
    """

register(TEXT, "event_bigram_mining", _q_event_bigram_mining, _MINE_SQL)


# --------------------------------------------------------------------------
# ``time_to_convert``: survival/time-to-event analytics — per user,
# the delta between first signup and first purchase; the report
# carries converted counts, the exact median delta (median of BIGINT
# microseconds interpolates halves — the mad_outliers exactness
# argument) and the nearest-rank p90 delta.

def _q_time_to_convert(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("us")))
        .alias("s_us"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us")))
        .alias("p_us"),
    )
    both = firsts.filter(
        F.col("s_us").isNotNull() & F.col("p_us").isNotNull()
    )
    conv = both.filter(F.col("p_us") >= F.col("s_us")).withColumn(
        "delta_us", F.col("p_us") - F.col("s_us")
    )
    # tiny frame: one row per converted user
    ranked = conv.withColumn(
        "r", F.row_number().over(Window.orderBy("delta_us"))
    ).withColumn("nc", F.count(F.lit(1)).over(Window.partitionBy()))
    # median stays DOUBLE (halves of integers are exact; a BIGINT cast
    # would truncate on Spark but round on DuckDB)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(delta_us, 0.5D)").alias("median_delta_us"),
        F.max(
            F.when(
                F.col("r") == F.expr("(9 * nc + 9) div 10"),
                F.col("delta_us"),
            )
        ).alias("p90_delta_us"),
    )


_TTC_SQL = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN us END) AS s_us,
             min(CASE WHEN event_type = 'purchase' THEN us END) AS p_us
      FROM e GROUP BY user_id
    ), conv AS (
      SELECT user_id, p_us - s_us AS delta_us
      FROM firsts
      WHERE s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
    ), ranked AS (
      SELECT delta_us,
             row_number() OVER (ORDER BY delta_us) AS r,
             count(*) OVER () AS nc
      FROM conv
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(quantile_cont(delta_us, 0.5) AS DOUBLE) AS median_delta_us,
           max(CASE WHEN r = (9 * nc + 9) // 10 THEN delta_us END)
             AS p90_delta_us
    FROM ranked
    """

register(TEXT, "time_to_convert", _q_time_to_convert, _TTC_SQL)


# --------------------------------------------------------------------------
# ``longest_streak``: gaps-and-islands — the longest run of
# consecutive active days per user (the retention/engagement metric
# next to cohort_retention's calendar matrix). Day index by exact
# integer division, island key = day − row_number (the classic
# constant-within-a-run difference), two hash aggregates around one
# user-keyed window. Pure integers end to end.
#
# longest_streak. distinct (user, day) -> island = day - row_number
# over the per-user day order (constant within a consecutive run) ->
# per-island length/start -> per-user max length with earliest-start
# tie-break, plus the total active-day count. The window partitions by
# user (never the corpus), both aggregates combine map-side.

_DAY_US = 86_400_000_000


def _q_longest_streak(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    days = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("day").alias("run_start"),
    )
    # tie-break key encodes (-run_len, run_start) into ONE BIGINT:
    # run_len <= days-in-corpus and 0 <= run_start < 1e12, so the
    # composite is monotone and min_by works identically on both
    # engines (DuckDB's min_by takes no tuple ordering key).
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.expr("min_by(run_start, run_start - run_len * 1000000000000)")
        .alias("streak_start_day"),
        F.sum("run_len").alias("active_days"),
    )


_STREAK_SQL = f"""
    WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    isl AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    runs AS (
      SELECT user_id, island,
             CAST(count(*) AS BIGINT) AS run_len,
             CAST(min(day) AS BIGINT) AS run_start
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(min_by(run_start, run_start - run_len * 1000000000000)
                AS BIGINT) AS streak_start_day,
           CAST(sum(run_len) AS BIGINT) AS active_days
    FROM runs GROUP BY user_id
    """

register(TEXT, "longest_streak", _q_longest_streak, _STREAK_SQL)


# --------------------------------------------------------------------------
# ``holt_forecast``: Holt double exponential smoothing (level +
# trend, alpha = 1/2, beta = 1/4 — exact binary fractions) over the
# daily value-cents sum per event type, as an explicit
# left-associative fold over the identically-ordered series on BOTH
# engines: Catalyst's aggregate() HOF with a struct accumulator on
# the Spark side, a recursive CTE advancing one day per step on the
# DuckDB side — the same IEEE operation order, so the doubles
# hash-match bit-for-bit (the ewma fold protocol, extended to a
# 2-component state). 7-day-ahead forecast = level + 7·trend.
#
# holt_forecast. Per event_type: daily value-cents sums (exact BIGINT,
# cast to double — all < 2^53, exact) ordered by day; fold
#   l' = (y + l + t) / 2            (alpha = 1/2)
#   t' = (l' - l) / 4 + 3 * t / 4   (beta  = 1/4)
# from (l0 = first y, t0 = 0). Spark folds elements 2..n with
# aggregate() and a struct accumulator; DuckDB advances the identical
# recurrence one row per recursive-CTE step. Identical left-associative
# operation order => bit-identical doubles.


def _q_holt_forecast(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("yc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("yc").alias("s"))
    )
    g = daily.groupBy("event_type").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("s")))
        ).alias("arr")
    )
    folded = g.select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        F.aggregate(
            F.expr("slice(arr, 2, size(arr) - 1)"),
            F.expr(
                "named_struct('l', CAST(arr[0].s AS DOUBLE),"
                " 't', CAST(0.0 AS DOUBLE))"
            ),
            lambda acc, x: F.struct(
                ((x["s"].cast("double") + acc["l"] + acc["t"]) / F.lit(2.0))
                .alias("l"),
                (
                    (
                        (x["s"].cast("double") + acc["l"] + acc["t"])
                        / F.lit(2.0)
                        - acc["l"]
                    )
                    / F.lit(4.0)
                    + F.lit(3.0) * acc["t"] / F.lit(4.0)
                ).alias("t"),
            ),
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.expr("CAST(floor(1000000.0 * st.l) AS BIGINT)")
        .alias("level_micro"),
        F.expr("CAST(floor(1000000.0 * st.t) AS BIGINT)")
        .alias("trend_micro"),
        F.expr("CAST(floor(1000000.0 * (st.l + 7.0 * st.t)) AS BIGINT)")
        .alias("forecast7_micro"),
    )


_HOLT_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, s,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_days
      FROM daily
    ),
    rec AS (
      SELECT event_type, rn, n_days,
             CAST(s AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS t
      FROM series WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn, s.n_days,
             (CAST(s.s AS DOUBLE) + r.l + r.t) / 2,
             ((CAST(s.s AS DOUBLE) + r.l + r.t) / 2 - r.l) / 4
               + 3 * r.t / 4
      FROM rec r JOIN series s
        ON s.event_type = r.event_type AND s.rn = r.rn + 1
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(floor(1000000.0 * l) AS BIGINT) AS level_micro,
           CAST(floor(1000000.0 * t) AS BIGINT) AS trend_micro,
           CAST(floor(1000000.0 * (l + 7.0 * t)) AS BIGINT)
             AS forecast7_micro
    FROM rec WHERE rn = n_days
    """

register(TEXT, "holt_forecast", _q_holt_forecast, _HOLT_SQL)


# --------------------------------------------------------------------------
# ``dtw_distance``: dynamic time warping between each user's daily
# activity series and the fleet-average daily series — the trajectory
# / time-series similarity kernel (which users' spending rhythm
# deviates from the fleet, warping-invariant?). The full DP runs as a
# NESTED fold — outer over the user's series carrying the DP row,
# inner building each new row left-to-right — in Catalyst's
# aggregate() HOF on the Spark side and list_reduce on the DuckDB
# side. Every cell is exact BIGINT (integer cents, integer min/abs),
# so the result is bit-identical with no float protocol needed.
# A Sakoe-Chiba band is unnecessary at these lengths (≤ 31×31), but
# the cost model notes where it would bolt on at scale.
#
# dtw_distance. Series = daily value-cents sums. Reference series =
# per-day fleet total div number of users (exact integer division —
# identical `div`/`//` on both engines). dp[i][j] = |a_i − b_j| +
# min(dp[i−1][j], dp[i][j−1], dp[i−1][j−1]); row 0 is [0, BIG, …],
# each later row starts BIG — the exact fold of operators/dtw.py. At
# 100 TB the per-key series stays bounded (days per window), so the
# fold is O(n·m) per key with no shuffle beyond the two aggregates; its
# Sakoe-Chiba band would cap m per step if windows ever grew unbounded.


def _q_dtw_distance(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "user_id",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("yc"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("yc").alias("s"))
    )
    n_users = daily.select(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    ref = (
        daily.groupBy("day").agg(F.sum("s").alias("tot"))
        .crossJoin(F.broadcast(n_users))
        .select("day", F.expr("tot div n_users").alias("avg_s"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("day"), F.col("avg_s")))
            ).alias("bref")
        )
        .select(F.expr("transform(bref, p -> p.avg_s)").alias("b"))
    )
    per_user = daily.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("s")))
        ).alias("arr")
    ).select(
        "user_id",
        F.expr("transform(arr, p -> p.s)").alias("a"),
    )
    j = per_user.crossJoin(F.broadcast(ref))  # 1-row reference attach
    return j.select(
        "user_id",
        F.size("a").cast("long").alias("n_a"),
        F.size("b").cast("long").alias("n_b"),
        dtw_dp_last("a", "b").alias("dtw_cents"),
    )


_DTW_SQL = f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM daily),
    ref AS (
      SELECT list(CAST(tot // n_users AS BIGINT) ORDER BY day) AS b
      FROM (SELECT day, sum(s) AS tot FROM daily GROUP BY day), nu
    ),
    per_user AS (
      SELECT user_id, list(s ORDER BY day) AS a
      FROM daily GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, a, b,
             list_reduce(
               list_prepend(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, len(b) + 1),
                                  j -> CAST({_DTW_BIG} AS BIGINT))),
                 list_transform(a, av -> [av])),
               (prev, xa) -> list_reduce(
                 list_prepend(CAST([{_DTW_BIG}] AS BIGINT[]),
                              list_transform(range(1, len(b) + 1),
                                             j -> [j])),
                 (newrow, xj) -> list_append(newrow,
                     abs(xa[1] - b[xj[1]])
                     + least(prev[xj[1] + 1],
                             newrow[len(newrow)],
                             prev[xj[1]]))
               )
             ) AS dp
      FROM per_user, ref
    )
    SELECT user_id,
           CAST(len(a) AS BIGINT) AS n_a,
           CAST(len(b) AS BIGINT) AS n_b,
           CAST(dp[len(b) + 1] AS BIGINT) AS dtw_cents
    FROM folded
    """

register(TEXT, "dtw_distance", _q_dtw_distance, _DTW_SQL)


# --------------------------------------------------------------------------
# ``backtest_mase``: seasonal-naive forecast backtest — MASE-style
# error ratio per event type: Σ|y_d − y_{d−7}| (the seasonal-naive
# forecast error) against Σ|y_d − y_{d−1}| (the naive baseline),
# both EXACT BIGINT sums over lag windows, ratio in exact ppm with
# integer cross-multiplied division. The standard way to decide
# whether a forecaster (or a season length) earns its keep.
#
# backtest_mase. Daily per-type series; seasonal-naive (lag 7) error
# vs naive (lag 1) error, counted only on days where the lag exists.
# mase_ppm cross-multiplies counts so both MAEs stay integral:
#   mase_ppm = (1e6 * sae7 * n1) div (sae1 * n7).


def _q_backtest_mase(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("yc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("yc").alias("s"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "s",
        F.lag("s", 1).over(w).alias("s1"),
        F.lag("day", 1).over(w).alias("d1"),
        F.lag("s", 7).over(w).alias("s7"),
        F.lag("day", 7).over(w).alias("d7"),
    )
    agg = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("d1") == F.col("day") - 1, F.abs(F.col("s") - F.col("s1")))
        ).alias("sae1"),
        F.sum(
            F.when(F.col("d1") == F.col("day") - 1, 1).otherwise(0)
        ).alias("n1"),
        F.sum(
            F.when(F.col("d7") == F.col("day") - 7, F.abs(F.col("s") - F.col("s7")))
        ).alias("sae7"),
        F.sum(
            F.when(F.col("d7") == F.col("day") - 7, 1).otherwise(0)
        ).alias("n7"),
    )
    return agg.where((F.col("n1") > 0) & (F.col("n7") > 0)
                     & (F.col("sae1") > 0)).select(
        "event_type",
        "n1",
        "n7",
        "sae1",
        "sae7",
        F.expr("(1000000 * sae7 * n1) div (sae1 * n7)").alias("mase_ppm"),
    )


_MASE_SQL = f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, s,
             lag(s, 1) OVER w AS s1, lag(day, 1) OVER w AS d1,
             lag(s, 7) OVER w AS s7, lag(day, 7) OVER w AS d7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(CASE WHEN d1 = day - 1 THEN abs(s - s1) END)
                  AS BIGINT) AS sae1,
             CAST(sum(CASE WHEN d1 = day - 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN d7 = day - 7 THEN abs(s - s7) END)
                  AS BIGINT) AS sae7,
             CAST(sum(CASE WHEN d7 = day - 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n7
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, n1, n7, sae1, sae7,
           CAST(1000000 * sae7 * n1 AS BIGINT) // (sae1 * n7) AS mase_ppm
    FROM agg WHERE n1 > 0 AND n7 > 0 AND sae1 > 0
    """

register(TEXT, "backtest_mase", _q_backtest_mase, _MASE_SQL)


# --------------------------------------------------------------------------
# ``twap_value``: time-weighted average value per user — the
# telemetry/finance aggregate where irregular sampling makes the
# plain mean wrong: each value holds until the next event, so
# TWAP = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_n−t₀). Held intervals in EXACT integer
# cent·milliseconds (magnitudes audited: ≤ 1.3e14 per segment, ≤
# 1e16 per user — far inside BIGINT), result in exact milli-cents
# by integer division.
#
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


# --------------------------------------------------------------------------
# ``markov_transitions``: first-order Markov transition matrix over
# each user's event-type sequence — the sequence model behind
# next-action prediction and funnel leak analysis. One user-keyed
# lag window, one (prev, cur) aggregate, row-normalized in exact ppm
# (window row totals, integer cross-division).
#
# markov_transitions.


def _q_markov_transitions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
    ).withColumn("prev_type", F.lag("event_type").over(w))
    counts = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wr = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "event_type",
        "n",
        F.sum("n").over(wr).alias("row_total"),
    ).select(
        "prev_type",
        "event_type",
        "n",
        "row_total",
        # double cast: oracle's windowed sum(BIGINT) is HUGEINT ->
        # float64 in pandas (VERDICT r5 item 1b bug class); exact ppm
        F.expr("(1000000 * n) div row_total").cast("double").alias("p_ppm"),
    )


_MARKOV_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    counts AS (
      SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n,
           CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
             AS row_total,
           CAST(1000000 * n AS BIGINT)
             // sum(n) OVER (PARTITION BY prev_type) AS p_ppm
    FROM counts
    """

register(TEXT, "markov_transitions", _q_markov_transitions, _MARKOV_SQL)


# --------------------------------------------------------------------------
# ``clamped_balance``: running balance with a floor — cumulative sum
# clamped at zero after every step (inventory / credit semantics:
# acc' = max(0, acc + x)). NOT a plain window cumsum — the clamp
# makes it a true left fold, run through Catalyst's aggregate() HOF
# and DuckDB's list_reduce over the identically-ordered delta list.
# Deltas are exact integer cents (signed by event type), so the
# result is bit-identical with no float protocol.
#
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


# --------------------------------------------------------------------------
# ``max_concurrency``: sweep-line maximum concurrency — the peak
# number of simultaneously-open sessions per event type (capacity
# planning: how many live connections must the serving tier hold?).
# Each event opens a 30-minute session; the +1/−1 endpoint sweep is
# an ordered integer cumsum with the canonical end-before-start
# tie-break at equal timestamps (a closing session does not overlap
# a session opening at the same microsecond), and the peak carries a
# deterministic earliest-time witness.
#
# max_concurrency. Endpoints: (t, +1) at open, (t + 30min, -1) at
# close; sort by (t, delta) so closes (-1) precede opens (+1) at the
# same instant; running sum; peak + earliest witness time.

_SESSION_US = 30 * 60 * 1_000_000  # 30-minute sessions


def _q_max_concurrency(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("t0"),
        "event_id",
    )
    ends = base.select(
        "event_type",
        (F.col("t0") + _SESSION_US).alias("t"),
        F.lit(-1).cast("long").alias("delta"),
        "event_id",
    )
    starts = base.select(
        "event_type",
        F.col("t0").alias("t"),
        F.lit(1).cast("long").alias("delta"),
        "event_id",
    )
    sweep = starts.unionByName(ends)
    w = Window.partitionBy("event_type").orderBy(
        "t", "delta", "event_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = sweep.select(
        "event_type",
        "t",
        F.sum("delta").over(w).alias("open_now"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("open_now").desc(), F.col("t")
    )
    return (
        run.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("open_now").alias("peak_concurrency"),
            F.col("t").alias("peak_at_us"),
        )
    )


_CONC_SQL = f"""
    WITH base AS (
      SELECT event_type, epoch_us(ts) AS t0, event_id FROM events
    ),
    sweep AS (
      SELECT event_type, t0 AS t, CAST(1 AS BIGINT) AS delta, event_id
      FROM base
      UNION ALL
      SELECT event_type, t0 + {_SESSION_US} AS t,
             CAST(-1 AS BIGINT) AS delta, event_id
      FROM base
    ),
    run AS (
      SELECT event_type, t,
             CAST(sum(delta) OVER (PARTITION BY event_type
                    ORDER BY t, delta, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS open_now
      FROM sweep
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                  ORDER BY open_now DESC, t) AS rk
      FROM run
    )
    SELECT event_type, open_now AS peak_concurrency, t AS peak_at_us
    FROM ranked WHERE rk = 1
    """

register(TEXT, "max_concurrency", _q_max_concurrency, _CONC_SQL)


# --------------------------------------------------------------------------
# ``business_days``: weekday-only interval arithmetic — business
# days between order date and ship date per order (the SLA metric
# finance and logistics run). Computed ENTIRELY from epoch-day
# integers: dow = (epoch_day + 3) % 7 (1970-01-01 was a Thursday, weekday 3;
# never an engine dayofweek builtin, whose Sunday origin differs
# between Spark and DuckDB), full weeks × 5 plus an exact remainder
# count of weekdays in the tail. Pure integers.
#
# business_days. Weekdays strictly AFTER day a up to and including
# day b (a <= b): let n = b - a; full = n div 7; rem = n % 7;
# extra = number of k in 1..rem with (dow_a + k) % 7 in 0..4 where
# dow = (epoch_day + 3) % 7 maps Monday -> 0 ... Sunday -> 6.
# The extra count unrolls to a bounded 6-term CASE sum — exact.


def _bdays_expr(a: str, b: str) -> str:
    dow_a = f"(({a} + 3) % 7)"
    n = f"({b} - {a})"
    terms = " + ".join(
        f"CASE WHEN {n} % 7 >= {k} AND ({dow_a} + {k}) % 7 <= 4"
        f" THEN 1 ELSE 0 END"
        for k in range(1, 7)
    )
    return f"(({n} div 7) * 5 + {terms})"


def _bdays_expr_duck(a: str, b: str) -> str:
    return _bdays_expr(a, b).replace(" div ", " // ")


def _q_business_days(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
               f" div {_DAY_US}").alias("od"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))"
               f" div {_DAY_US}").alias("sd"),
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).where(
        F.col("sd") >= F.col("od")
    )
    per_item = j.select(
        "l_orderkey",
        (F.col("sd") - F.col("od")).alias("cal_days"),
        F.expr(_bdays_expr("od", "sd")).cast("long").alias("bdays"),
    )
    return per_item.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.max("cal_days").alias("max_cal_days"),
        F.max("bdays").alias("max_business_days"),
        F.sum("bdays").alias("sum_business_days"),
    )


_BDAYS_SQL = f"""
    WITH o AS (
      SELECT o_orderkey, epoch_us(o_orderdate) // {_DAY_US} AS od
      FROM orders
    ),
    li AS (
      SELECT l_orderkey, epoch_us(l_shipdate) // {_DAY_US} AS sd
      FROM lineitem
    ),
    j AS (
      SELECT li.l_orderkey, sd - od AS cal_days,
             CAST({_bdays_expr_duck("od", "sd")} AS BIGINT) AS bdays
      FROM li JOIN o ON li.l_orderkey = o.o_orderkey
      WHERE sd >= od
    )
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(max(cal_days) AS BIGINT) AS max_cal_days,
           CAST(max(bdays) AS BIGINT) AS max_business_days,
           CAST(sum(bdays) AS BIGINT) AS sum_business_days
    FROM j GROUP BY l_orderkey
    """

register(TEXT, "business_days", _q_business_days, _BDAYS_SQL)


# --------------------------------------------------------------------------
# ``dow_hour_heatmap``: the calendar heatmap — event counts per
# (day-of-week × hour-of-day) cell with exact ppm share, the
# traffic-shape view every ops dashboard opens with. Same shared
# epoch arithmetic (dow from epoch days, hour from epoch seconds);
# one aggregate + one window for the share.
#
# dow_hour_heatmap.


def _q_dow_hour_heatmap(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cells = e.select(
        F.expr(
            f"((unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}) + 3) % 7"
        ).alias("dow"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000) % 24"
        ).alias("hour"),
    )
    counts = cells.groupBy("dow", "hour").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy()
    return counts.select(
        "dow",
        "hour",
        "n",
        # double cast: oracle's windowed sum(BIGINT) is HUGEINT ->
        # float64 in pandas (VERDICT r5 item 1b bug class); exact ppm
        F.expr("(1000000 * n) div sum(n) over ()").cast("double")
        .alias("share_ppm"),
    ).withColumn("_tot", F.sum("n").over(wt)).drop("_tot")


_HEAT_SQL = f"""
    WITH cells AS (
      SELECT ((epoch_us(ts) // {_DAY_US}) + 3) % 7 AS dow,
             (epoch_us(ts) // 3600000000) % 24 AS hour
      FROM events
    ),
    counts AS (
      SELECT dow, hour, CAST(count(*) AS BIGINT) AS n
      FROM cells GROUP BY dow, hour
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour, n,
           CAST(1000000 * n AS BIGINT) // sum(n) OVER () AS share_ppm
    FROM counts
    """

register(TEXT, "dow_hour_heatmap", _q_dow_hour_heatmap, _HEAT_SQL)


# --------------------------------------------------------------------------
# ``ohlc_candles``: market-style candle aggregation — per (event
# type, day): open / high / low / close of the value stream plus
# size-weighted VWAP, all exact integers (open/close via min_by/
# max_by on the collision-proof (ts, event_id) order key packed into
# ONE BIGINT — day-local microseconds × 2²¹ + event_id, magnitudes
# audited — because neither engine's min_by takes a tuple key; VWAP
# by integer cross-division in milli).
#
# ohlc_candles. Order key: DAY-LOCAL microsecond offset * 2^21 +
# event_id — grouping is per day, so day-local order is equivalent,
# and the packed key stays <= 8.64e10 * 2^21 ~ 1.8e17 << 2^63 with
# room for event_id < 2^21 at every SF the driver runs. (Absolute
# micros * 2^20 overflows BIGINT — caught by ANSI mode.)


def _q_ohlc_candles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) % 86400000000)"
            " * 2097152 + event_id"
        ).alias("ord"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
        (1 + F.col("event_id") % 5).cast("long").alias("size"),
    )
    return base.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("min_by(vc, ord)").alias("open_c"),
        F.max("vc").alias("high_c"),
        F.min("vc").alias("low_c"),
        F.expr("max_by(vc, ord)").alias("close_c"),
        # double cast: oracle's sum(BIGINT) is HUGEINT -> float64 in
        # pandas (VERDICT r5 item 1b bug class); exact milli value
        F.expr("(1000 * sum(vc * size)) div sum(size)")
        .cast("double").alias("vwap_milli"),
    )


_OHLC_SQL = f"""
    WITH base AS (
      SELECT event_type,
             epoch_us(ts) // {_DAY_US} AS day,
             (epoch_us(ts) % 86400000000) * 2097152 + event_id AS ord,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             CAST(1 + event_id % 5 AS BIGINT) AS size
      FROM events
    )
    SELECT event_type, CAST(day AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min_by(vc, ord) AS BIGINT) AS open_c,
           CAST(max(vc) AS BIGINT) AS high_c,
           CAST(min(vc) AS BIGINT) AS low_c,
           CAST(max_by(vc, ord) AS BIGINT) AS close_c,
           CAST(1000 * sum(vc * size) AS BIGINT) // sum(size)
             AS vwap_milli
    FROM base GROUP BY event_type, day
    """

register(TEXT, "ohlc_candles", _q_ohlc_candles, _OHLC_SQL)


# --------------------------------------------------------------------------
# ``top_movers``: day-over-day change ranking — which event types
# moved most vs yesterday (the ops dashboard's "what changed?"
# list): daily totals, lag deltas, |Δ| ranking per day with a
# deterministic tie-break, top-2 per day. Pure integers.
#
# top_movers.

_MOVERS_K = 2


def _q_top_movers(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(
            "event_type",
            F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            .alias("vc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("vc").alias("s"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        "s",
        F.lag("s").over(w).alias("prev_s"),
        F.lag("day").over(w).alias("prev_day"),
    ).where(
        F.col("prev_s").isNotNull() & (F.col("prev_day") == F.col("day") - 1)
    )
    deltas = lagged.select(
        "event_type",
        "day",
        (F.col("s") - F.col("prev_s")).alias("delta_c"),
    )
    wr = Window.partitionBy("day").orderBy(
        F.abs(F.col("delta_c")).desc(), F.col("event_type")
    )
    return (
        deltas.withColumn("rk", F.row_number().over(wr).cast("long"))
        .where(F.col("rk") <= _MOVERS_K)
    )


_MOVERS_SQL = f"""
    WITH daily AS (
      SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, s,
             lag(s) OVER w AS prev_s,
             lag(day) OVER w AS prev_day
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    deltas AS (
      SELECT event_type, CAST(day AS BIGINT) AS day,
             CAST(s - prev_s AS BIGINT) AS delta_c
      FROM lagged
      WHERE prev_s IS NOT NULL AND prev_day = day - 1
    )
    SELECT event_type, day, delta_c,
           CAST(row_number() OVER (PARTITION BY day
                  ORDER BY abs(delta_c) DESC, event_type) AS BIGINT) AS rk
    FROM deltas
    QUALIFY rk <= {_MOVERS_K}
    """

register(TEXT, "top_movers", _q_top_movers, _MOVERS_SQL)
