"""Round-5e registry batch: Hilbert-curve locality keys, Strahler
stream order, trajectory stay-point detection, interval-coverage
sweep, MAD robust outliers, and grid-cell dilation (k-ring buffer).

Same contract as every other batch: each query is (a) an idiomatic
Spark program over the driver's parquet tables and (b) a DuckDB oracle
with identical column names and bit-identical arithmetic. The float
work here is confined to exact operations: medians of integers (and of
their half-integer absolute deviations) interpolate on binary
fractions, so ``percentile``/``quantile_cont`` agree to the bit on
both engines; everything else is BIGINT.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, fresh_dir as _fresh_dir, read_table as _t, register


# --------------------------------------------------------------------------
# Hilbert-curve encode (operators/hilbert.py): the locality-optimal
# 2-D layout key, the strictly-better sibling of the Morton key
# already used for Z-order file skipping (operators/zorder.py). Pure
# chained projections — zero joins, zero shuffles, zero Python; the
# oracle replays the identical 16-round bit-walk as nested subqueries.

_HILBERT_BASE_SQL = """
    SELECT doc_id,
           (doc_id * 7919) % 65536 AS px,
           (doc_id * 104729) % 65536 AS py
    FROM documents
"""


def _q_hilbert(spark, sf_dir):
    from .operators.hilbert import with_hilbert

    d = _t(spark, sf_dir, "documents")
    pts = d.select(
        "doc_id",
        ((F.col("doc_id") * 7919) % 65536).alias("px"),
        ((F.col("doc_id") * 104729) % 65536).alias("py"),
    )
    return with_hilbert(pts, "px", "py", out="hkey")


def _hilbert_oracle() -> str:
    from .operators.hilbert import hilbert_sql

    return hilbert_sql(
        _HILBERT_BASE_SQL, ["doc_id", "px", "py"], "px", "py", out="hkey"
    )


register(GEO, "hilbert_encode", _q_hilbert, _hilbert_oracle())


# --------------------------------------------------------------------------
# Strahler stream order (operators/hydrology.py) over the D8 forest of
# the shared plateau-rich noise DEM (max flow-path length 6, so the
# registered 8 rounds are past the fixpoint — pytest-pinned, the same
# protocol as flow_accumulation). Each round is one keyed shuffle over
# the EDGES plus a two-level (order, count) aggregate; the oracle
# replays the identical bounded recurrence round by round.

_STRAHLER_ROUNDS = 8


def _q_strahler(spark, sf_dir):
    from .entry_queries_r5c import _dem_cells
    from .operators.hydrology import d8_flow, strahler_order

    return strahler_order(
        d8_flow(_dem_cells(spark, sf_dir, valley=False)), _STRAHLER_ROUNDS
    )


def _strahler_sql() -> str:
    from .entry_queries_r5c import _NOISE_SQL, _d8_cte

    head = f"""
    WITH {_d8_cte(_NOISE_SQL)},
    e AS (SELECT gx * 2097152 + gy AS u, tx * 2097152 + ty AS v
          FROM flowdir WHERE dir > 0),
    cz AS (SELECT gx, gy, gx * 2097152 + gy AS c FROM dem),
    o0 AS (SELECT c, CAST(1 AS BIGINT) AS sorder FROM cz)"""
    parts = [head]
    for k in range(1, _STRAHLER_ROUNDS + 1):
        parts.append(f""",
    o{k} AS (
      SELECT cz.c, CAST(COALESCE(s.sorder, 1) AS BIGINT) AS sorder
      FROM cz LEFT JOIN (
        SELECT v AS c, mo + CASE WHEN k >= 2 THEN 1 ELSE 0 END AS sorder
        FROM (
          SELECT v, sorder AS mo, k,
                 row_number() OVER (PARTITION BY v
                                    ORDER BY sorder DESC, k DESC) AS rn
          FROM (SELECT e.v, p.sorder, count(*) AS k
                FROM e JOIN o{k - 1} p ON p.c = e.u
                GROUP BY e.v, p.sorder) t
        ) tt WHERE rn = 1
      ) s ON s.c = cz.c
    )""")
    parts.append(f"""
    SELECT cz.gx, cz.gy, o.sorder
    FROM o{_STRAHLER_ROUNDS} o JOIN cz ON cz.c = o.c
    """)
    return "".join(parts)


register(GEO, "strahler_order", _q_strahler, _strahler_sql())


# --------------------------------------------------------------------------
# Watershed delineation (operators/hydrology.py): every cell labeled
# with the pit/outlet its D8 path terminates at, via the HAND-style
# absorbing pointer doubling (6 self-joins cover 64-step paths on the
# valley DEM whose longest path is ~31 — fixpoint pytest-pinned). The
# oracle composes the identical next-pointer function round by round.

_WS_J = 6


def _q_watershed(spark, sf_dir):
    from .entry_queries_r5c import _dem_cells
    from .operators.hydrology import d8_flow, watershed_label

    return watershed_label(
        d8_flow(_dem_cells(spark, sf_dir, valley=True)), _WS_J
    )


def _watershed_sql() -> str:
    from .entry_queries_r5c import _VALLEY_SQL, _d8_cte

    head = f"""
    WITH {_d8_cte(_VALLEY_SQL)},
    n0 AS (
      SELECT gx * 2097152 + gy AS c, gx, gy, dir = 0 AS pit,
             CASE WHEN dir = 0 THEN gx * 2097152 + gy
                  ELSE tx * 2097152 + ty END AS nxt
      FROM flowdir
    ),
    s0 AS (SELECT c, nxt AS r FROM n0)"""
    parts = [head]
    for j in range(1, _WS_J + 1):
        parts.append(f""",
    s{j} AS (SELECT a.c, b.r FROM s{j - 1} a JOIN s{j - 1} b ON b.c = a.r)""")
    parts.append(f"""
    SELECT n.gx, n.gy, p.gx AS basin_gx, p.gy AS basin_gy
    FROM s{_WS_J} s
    JOIN n0 p ON p.c = s.r AND p.pit
    JOIN n0 n ON n.c = s.c
    """)
    return "".join(parts)


register(GEO, "watershed_label", _q_watershed, _watershed_sql())


# --------------------------------------------------------------------------
# Hilbert-clustered pruned read: the layout half of the Hilbert story —
# documents as a 32x16 grid, rewritten Hilbert-range-clustered into 8
# files with zone maps on BOTH columns, then a 2-D box read through the
# conjunctive zone-map planner. The box x in [8,15], y in [0,7] is an
# ALIGNED 8x8 block, and the Hilbert curve fills every aligned
# power-of-two block contiguously -> its 64 keys intersect at most 2 of
# the 8 range-partitioned files under ANY range-boundary sampling, so
# `pruned` is layout-guaranteed (the zorder_pruned_read protocol). The
# Hilbert key of the box rides along (min/max) so the driver compare
# pins the bit-walk arithmetic, not just the row set.


def _q_hilbert_pruned(spark, sf_dir):
    from .operators.hilbert import cluster_hilbert, with_hilbert
    from .tables.icelite import IceliteTable

    root = _fresh_dir("icelite_hilbert_")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 32).alias("x"),
        F.expr("doc_id div 32").alias("y"),
    )
    t = IceliteTable(root, "grid")
    t.write(cluster_hilbert(d, "x", "y", n_files=8), stats_cols=["x", "y"])
    preds = [("x", 8, 15), ("y", 0, 7)]
    files, total = t.pruned_files_multi(spark, preds)
    box = with_hilbert(t.read_pruned_multi(spark, preds), "x", "y", out="hk")
    return box.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_id"),
        F.min("hk").alias("hk_min"),
        F.max("hk").alias("hk_max"),
    ).withColumn("pruned", F.lit(len(files) < total))


def _hilbert_pruned_sql() -> str:
    from .operators.hilbert import hilbert_sql

    inner = hilbert_sql(
        """SELECT doc_id, doc_id % 32 AS x, doc_id // 32 AS y
           FROM documents
           WHERE doc_id % 32 BETWEEN 8 AND 15 AND doc_id // 32 BETWEEN 0 AND 7""",
        ["doc_id", "x", "y"],
        "x",
        "y",
        out="hk",
    )
    return f"""
    SELECT count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS sum_id,
           min(hk) AS hk_min, max(hk) AS hk_max, TRUE AS pruned
    FROM ({inner})
    """


register(GEO, "hilbert_pruned_read", _q_hilbert_pruned, _hilbert_pruned_sql())


# --------------------------------------------------------------------------
# Stay-point detection over the events trajectory: maximal runs of >= 3
# consecutive slow steps (squared planar step distance <= R^2, exact
# BIGINT). The trajectory generator parks each track on an epoch
# anchor (event_id DIV 512) with a small per-event jitter, so dwells
# are real plateaus, not coincidences. Shape: ONE window partition per
# user (lag + running break-count = gaps-and-islands) and one
# aggregate — no joins; cost tracks the point stream.

_SP_R2 = 10_000  # slow-step threshold: step^2 <= 100^2
_SP_MIN_STEPS = 3


def _q_staypoints(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (
            (F.expr("event_id DIV 512") * 991) % 3000 + F.col("event_id") % 7
        ).alias("lat"),
        (
            (F.expr("event_id DIV 512") * 1637) % 4000
            + F.col("event_id") % 11
        ).alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = pts.select(
        "user_id",
        "ts",
        "event_id",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("ts").over(w).alias("pts_ts"),
    ).withColumn(
        "slow",
        F.col("plat").isNotNull()
        & (
            (F.col("lat") - F.col("plat")) * (F.col("lat") - F.col("plat"))
            + (F.col("lon") - F.col("plon"))
            * (F.col("lon") - F.col("plon"))
            <= F.lit(_SP_R2)
        ),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grouped = steps.withColumn(
        "grp", F.sum(F.when(F.col("slow"), 0).otherwise(1)).over(wc)
    )
    return (
        grouped.where(F.col("slow"))
        .groupBy("user_id", "grp")
        .agg(
            F.count("*").cast("long").alias("n_steps"),
            F.min(
                F.unix_micros(F.col("pts_ts").cast("timestamp"))
            ).alias("start_us"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
                "end_us"
            ),
        )
        .where(F.col("n_steps") >= _SP_MIN_STEPS)
        .select("user_id", "start_us", "end_us", "n_steps")
    )


_STAYPOINT_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             ((event_id // 512) * 991) % 3000 + event_id % 7 AS lat,
             ((event_id // 512) * 1637) % 4000 + event_id % 11 AS lon
      FROM events
    ),
    steps AS (
      SELECT user_id, ts, event_id, lat, lon,
             lag(lat) OVER w AS plat,
             lag(lon) OVER w AS plon,
             lag(ts) OVER w AS pts_ts
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
      SELECT *,
             plat IS NOT NULL
             AND (lat - plat) * (lat - plat)
                 + (lon - plon) * (lon - plon) <= {_SP_R2} AS slow
      FROM steps
    ),
    grouped AS (
      SELECT *,
             sum(CASE WHEN slow THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM flagged
    )
    SELECT user_id,
           min(epoch_us(pts_ts)) AS start_us,
           max(epoch_us(ts)) AS end_us,
           CAST(count(*) AS BIGINT) AS n_steps
    FROM grouped WHERE slow
    GROUP BY user_id, grp
    HAVING count(*) >= {_SP_MIN_STEPS}
    """

register(GEO, "staypoint_detect", _q_staypoints, _STAYPOINT_SQL)


# --------------------------------------------------------------------------
# Interval coverage (sweep-line union length) per user: merge the
# user's possibly-overlapping activity intervals and report total
# covered time + merged-island count. The sweep is the classic
# running-max-of-end window (new island when start > max end so far),
# all BIGINT microseconds — two windows + two aggregates, no joins.


def _q_interval_coverage(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = e.select(
        "user_id",
        "event_id",
        us.alias("s"),
        (
            us
            + F.lit(600_000_000)
            + (F.col("event_id") % 7) * F.lit(3_600_000_000)
        ).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    swept = iv.withColumn(
        "pmax",
        F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    ).withColumn(
        "brk",
        F.when(
            F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1
        ).otherwise(0),
    )
    islands = swept.withColumn(
        "grp",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).groupBy("user_id", "grp").agg(
        (F.max("e") - F.min("s")).alias("ilen"),
        F.count("*").alias("n_iv"),
    )
    return islands.groupBy("user_id").agg(
        F.sum("ilen").cast("long").alias("covered_us"),
        F.count("*").cast("long").alias("n_islands"),
        F.sum("n_iv").cast("long").alias("n_intervals"),
    )


_INTERVAL_SQL = """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 600000000
               + (event_id % 7) * 3600000000 AS e
      FROM events
    ),
    swept AS (
      SELECT *,
             max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv
    ),
    flagged AS (
      SELECT *,
             CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS brk
      FROM swept
    ),
    grouped AS (
      SELECT *,
             sum(brk) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS grp
      FROM flagged
    ),
    islands AS (
      SELECT user_id, grp, max(e) - min(s) AS ilen, count(*) AS n_iv
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(sum(ilen) AS BIGINT) AS covered_us,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(n_iv) AS BIGINT) AS n_intervals
    FROM islands GROUP BY user_id
    """

register(TEXT, "interval_coverage", _q_interval_coverage, _INTERVAL_SQL)


# --------------------------------------------------------------------------
# MAD robust outliers per event_type: median / median-absolute-
# deviation on integer cents, flag |v - med| > 3 * MAD. Every float
# step is exact: medians of BIGINTs interpolate halves, deviations are
# half-multiples, the MAD interpolates quarters, 3*MAD is an exact
# binary fraction — so Spark's percentile() and DuckDB's
# quantile_cont() are bit-identical and the strict > is deterministic.
# Plan: two tiny grouped aggregates broadcast back onto the stream.


def _q_mad_outliers(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents"),
    )
    meds = v.groupBy("event_type").agg(
        F.expr("percentile(v_cents, 0.5D)").alias("med")
    )
    d = v.join(F.broadcast(meds), "event_type")
    mads = d.groupBy("event_type").agg(
        F.expr("percentile(abs(v_cents - med), 0.5D)").alias("mad")
    )
    return (
        d.join(F.broadcast(mads), "event_type")
        .where(F.abs(F.col("v_cents") - F.col("med")) > F.lit(3) * F.col("mad"))
        .select("event_id", "event_type", "v_cents", "med", "mad")
    )


_MAD_SQL = """
    WITH v AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events
    ),
    m AS (SELECT event_type, quantile_cont(v_cents, 0.5) AS med
          FROM v GROUP BY event_type),
    d AS (SELECT v.*, m.med FROM v JOIN m USING (event_type)),
    md AS (SELECT event_type, quantile_cont(abs(v_cents - med), 0.5) AS mad
           FROM d GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.v_cents, d.med, md.mad
    FROM d JOIN md USING (event_type)
    WHERE abs(d.v_cents - d.med) > 3 * md.mad
    """

register(TEXT, "mad_outliers", _q_mad_outliers, _MAD_SQL)


# --------------------------------------------------------------------------
# Grid-cell dilation (k=1 Chebyshev ring buffer): morphological buffer
# of a cell cover — every covered cell plus its 8 neighbours, with a
# core flag and the number of source cells covering each output cell.
# Shape: distinct + Generate(explode 9 offsets) + one hash aggregate —
# NO join operator at all; cost = |cover| * 9 at any scale.


def _q_cell_dilate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    cells = d.select(
        ((F.col("doc_id") * 37) % 50).alias("gx"),
        ((F.col("doc_id") * 59) % 40).alias("gy"),
    ).distinct()
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    return (
        cells.select("gx", "gy", F.explode(offs).alias("o"))
        .groupBy(
            (F.col("gx") + F.col("o.dx")).alias("bgx"),
            (F.col("gy") + F.col("o.dy")).alias("bgy"),
        )
        .agg(
            F.max(
                F.when((F.col("o.dx") == 0) & (F.col("o.dy") == 0), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("core"),
            F.count("*").cast("long").alias("n_src"),
        )
    )


_CELL_DILATE_SQL = """
    WITH cells AS (
      SELECT DISTINCT (doc_id * 37) % 50 AS gx, (doc_id * 59) % 40 AS gy
      FROM documents
    ),
    offs AS (SELECT * FROM (VALUES
      (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
    ) AS o(dx, dy))
    SELECT c.gx + o.dx AS bgx, c.gy + o.dy AS bgy,
           CAST(max(CASE WHEN o.dx = 0 AND o.dy = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS core,
           CAST(count(*) AS BIGINT) AS n_src
    FROM cells c JOIN offs o ON TRUE
    GROUP BY c.gx + o.dx, c.gy + o.dy
    """

register(GEO, "cell_dilate_cover", _q_cell_dilate, _CELL_DILATE_SQL)
