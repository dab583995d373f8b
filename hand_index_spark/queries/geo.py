"""Geo queries: cell covers and neighbours, polygon clipping, buffering
and triangulation, great-circle and corridor geometry, trajectory
distances, areal interpolation, hexagonal binning and the tile-assignment
audits.

Every query is (a) an idiomatic Spark program over the driver's parquet
tables and (b) a DuckDB oracle with identical column names and
bit-identical values, registered with ``registry.register``; the driver
order lives in ``registry.ORDER`` alone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..geo import cells as h3lite
from ..operators import encode as E
from ..pipelines.assign_tiles import web_pages_from_documents
from ..registry import GEO, read_table as _t, register


# --------------------------------------------------------------------------
# Origin-destination matrix: split each user's trajectory into trips
# at time gaps > 4 h, take each trip's first and last grid cell
# (min/max over the unique (us, event_id) struct — deterministic), and
# count trips per (origin cell, destination cell). The movement-
# analytics aggregate over the same epoch-anchored trajectory fixture
# as staypoint_detect. Two windows + two aggregates, one keyed shuffle.

_US = "epoch_us(ts)"  # DuckDB twin of Spark's unix_micros(cast) idiom

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


# --------------------------------------------------------------------------
# ``clip_to_tiles``: Sutherland-Hodgman polygon clipping to a tile
# grid, pure Catalyst (higher-order functions over vertex rings, zero
# UDFs, zero joins) — the per-tile clipped-footprint accounting a tile
# manifest builder needs (the reference walks raster footprints per
# tile when assembling its VRT manifests, load.py:94-141). The fixture
# footprints are integer rectangles so the clipped shoelace areas are
# bit-exact against a closed-form box-intersection oracle; the kernel
# itself is general (non-axis-aligned subjects pytest-proven).
#
# clip_to_tiles: deterministic integer rectangles (one per document,
# the "raster footprint" of the page's asset), exploded to the tiles
# of a 64-unit grid they touch, clipped to each tile's box with the
# general Sutherland-Hodgman kernel, then aggregated per tile. The
# explode fan-out is bounded by footprint extent / tile size (max 3x3
# tiles here), never by corpus size; the only shuffle is the final
# tile-keyed aggregation.

_TILE = 64


def _q_clip_to_tiles(spark, sf_dir):
    from ..operators.clip import box_clip_area2

    d = _t(spark, sf_dir, "documents").select("doc_id")
    r = d.select(
        "doc_id",
        ((F.col("doc_id") * 73) % 1000).cast("double").alias("x1"),
        ((F.col("doc_id") * 131) % 1000).cast("double").alias("y1"),
        (8 + (F.col("doc_id") % 5) * 23).cast("double").alias("w"),
        (8 + ((F.col("doc_id") * 7) % 5) * 23).cast("double").alias("h"),
    ).select(
        "doc_id",
        "x1",
        "y1",
        (F.col("x1") + F.col("w")).alias("x2"),
        (F.col("y1") + F.col("h")).alias("y2"),
    )
    t = F.lit(float(_TILE))
    tiles = (
        r.withColumn(
            "tx",
            F.explode(
                F.sequence(
                    F.floor(F.col("x1") / t).cast("long"),
                    F.floor(F.col("x2") / t).cast("long"),
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    F.floor(F.col("y1") / t).cast("long"),
                    F.floor(F.col("y2") / t).cast("long"),
                )
            ),
        )
    )
    # rectangle dispatch (r6, VERDICT r5 item 5): the footprints here
    # are axis-aligned integer rectangles, so the clipped area has the
    # closed interval-intersection form — bit-identical to the
    # Sutherland-Hodgman fold in this integer regime (pinned in
    # tests/test_r6_kernel_fastpaths.py) and ~2 orders of magnitude
    # cheaper (codegen arithmetic vs interpreted HOF fold). General
    # polygon callers still use ring_area2(clip_to_box(...)).
    clipped = tiles.withColumn(
        "piece_area2",
        box_clip_area2(
            F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2"),
            F.col("tx").cast("double") * t,
            (F.col("tx") + 1).cast("double") * t,
            F.col("ty").cast("double") * t,
            (F.col("ty") + 1).cast("double") * t,
        ),
    )
    return (
        clipped.filter(F.col("piece_area2") > 0)
        .groupBy("tx", "ty")
        .agg(
            F.sum("piece_area2").alias("covered_area2"),
            F.count(F.lit(1)).alias("n_pieces"),
        )
    )


_CLIP_SQL = f"""
    WITH r AS (
      SELECT doc_id,
             CAST((doc_id * 73) % 1000 AS DOUBLE) AS x1,
             CAST((doc_id * 131) % 1000 AS DOUBLE) AS y1,
             CAST(8 + (doc_id % 5) * 23 AS DOUBLE) AS w,
             CAST(8 + ((doc_id * 7) % 5) * 23 AS DOUBLE) AS h
      FROM documents
    ), rect AS (
      SELECT doc_id, x1, y1, x1 + w AS x2, y1 + h AS y2 FROM r
    ), tx AS (
      SELECT rect.*, unnest(range(CAST(floor(x1 / {_TILE}) AS BIGINT),
                                  CAST(floor(x2 / {_TILE}) AS BIGINT) + 1)) AS tx
      FROM rect
    ), txy AS (
      SELECT tx.*, unnest(range(CAST(floor(y1 / {_TILE}) AS BIGINT),
                                CAST(floor(y2 / {_TILE}) AS BIGINT) + 1)) AS ty
      FROM tx
    ), pieces AS (
      SELECT tx, ty,
             2.0 * greatest(0.0, least(x2, (tx + 1) * {_TILE}.0)
                                 - greatest(x1, tx * {_TILE}.0))
                 * greatest(0.0, least(y2, (ty + 1) * {_TILE}.0)
                                 - greatest(y1, ty * {_TILE}.0)) AS piece_area2
      FROM txy
    )
    SELECT tx, ty, sum(piece_area2) AS covered_area2,
           CAST(count(*) AS BIGINT) AS n_pieces
    FROM pieces WHERE piece_area2 > 0
    GROUP BY tx, ty
    """

register(GEO, "clip_to_tiles", _q_clip_to_tiles, _CLIP_SQL)


# --------------------------------------------------------------------------
# ``buffer_area``: polygon dilation (Minkowski sum with a square
# structuring element) — buffer each convex footprint by r, computed
# by actually CONSTRUCTING the dilated geometry (explode the 4 square
# corners per vertex, convex-hull the point cloud, shoelace it) and
# verified against the closed-form mixed-area identity
# ``area(P (+) K) = area(P) + r * perim_taxicab(P) + 4 r^2``.
#
# buffer_area: Minkowski dilation of convex footprints with the square
# [-r, r]^2. Spark constructs the dilated polygon for real (4 shifted
# copies of every vertex, per-group convex hull, shoelace); the oracle
# is the mixed-area identity on the base ring — so the two sides agree
# only if the CONSTRUCTION is geometrically exact. All coordinates are
# integers, so every cross product and shoelace term is exact float64.

_BUF_GROUPS = 16
_BUF_R = 3


def _buffer_base_points(spark):
    rows = []
    for g in range(_BUF_GROUPS):
        m = 3 + g % 4
        for x in range(-m, m + 1):  # convex parabola ring: all on hull
            rows.append((g, float(x + m), float(x * x)))
    return spark.createDataFrame(rows, schema="group_id long, px double, py double")


def _q_buffer_area(spark, sf_dir):
    from ..operators.hull import hull_stats

    pts = _buffer_base_points(spark)
    base = hull_stats(pts, "group_id", "px", "py").select(
        "group_id", F.col("hull_area2").alias("base_area2")
    )
    rr = float(_BUF_R)
    corners = F.array(
        *[
            F.struct(
                (F.col("px") + F.lit(sx * rr)).alias("px"),
                (F.col("py") + F.lit(sy * rr)).alias("py"),
            )
            for sx in (-1.0, 1.0)
            for sy in (-1.0, 1.0)
        ]
    )
    dilated = (
        pts.withColumn("c", F.explode(corners))
        .select("group_id", F.col("c.px").alias("px"), F.col("c.py").alias("py"))
    )
    buf = hull_stats(dilated, "group_id", "px", "py").select(
        "group_id", F.col("hull_area2").alias("buf_area2")
    )
    return base.join(buf, "group_id")


_BUFFER_SQL = f"""
    WITH g AS (SELECT unnest(range({_BUF_GROUPS})) AS gid),
    ring AS (
      SELECT gid, 3 + gid % 4 AS m,
             unnest(range(-(3 + gid % 4), 3 + gid % 4 + 1)) AS x
      FROM g
    ), pts AS (
      SELECT gid, x, CAST(x + m AS DOUBLE) AS hx, CAST(x * x AS DOUBLE) AS hy
      FROM ring
    ), ordered AS (
      SELECT gid, hx, hy,
        coalesce(lead(hx) OVER w, first_value(hx) OVER w) AS nx,
        coalesce(lead(hy) OVER w, first_value(hy) OVER w) AS ny
      FROM pts
      WINDOW w AS (PARTITION BY gid ORDER BY x)
    )
    SELECT gid AS group_id,
           sum(hx * ny - nx * hy) AS base_area2,
           sum(hx * ny - nx * hy)
             + 2.0 * {_BUF_R} * sum(abs(nx - hx) + abs(ny - hy))
             + 8.0 * {_BUF_R} * {_BUF_R} AS buf_area2
    FROM ordered GROUP BY gid
    """

register(GEO, "buffer_area", _q_buffer_area, _BUFFER_SQL)


# --------------------------------------------------------------------------
# ``triangulate_mesh``: fan triangulation of convex polygon rings into
# per-triangle rows — the mesh-generation primitive downstream of
# polygon ops (render/area-weighting pipelines). Deterministic
# integer parabola rings; every triangle's doubled signed area is an
# exact integer cross product; the sum-equals-shoelace identity is
# pytest-pinned.
#
# triangulate_mesh: fan triangulation of convex integer rings. Fixture:
# per group g, the closed convex parabola ring v_i = (i, (i - m)^2) for
# i = 0..2m, m = 3 + g%4 (CCW; the closing top edge runs from (2m, m^2)
# back to (0, m^2)). Fan from v_0: triangle t = (v_0, v_t, v_{t+1}),
# doubled signed area = cross(v_t - v_0, v_{t+1} - v_0) — an exact
# integer. The ring and the fan are built column-side from spark.range
# (transform over sequence), exploded with posexplode: pure Catalyst,
# zero Python, zero joins; sum(area2) over the fan equals the ring's
# shoelace area2 (pytest-pinned identity).

_TRI_GROUPS = 24


def _q_triangulate_mesh(spark, sf_dir):
    g = spark.range(_TRI_GROUPS).select(
        F.col("id").alias("group_id"), (3 + F.col("id") % 4).alias("m")
    )
    ring = F.transform(
        F.sequence(F.lit(0), F.col("m") * 2),
        lambda i: F.struct(
            i.cast("double").alias("x"),
            ((i - F.col("m")) * (i - F.col("m"))).cast("double").alias("y"),
        ),
    )
    def _v(t):  # 1-based ring lookup with the INT index element_at wants
        return F.element_at(F.col("ring"), t.cast("int"))

    tri_area2 = F.transform(
        # fan triangles t = 1 .. n-2 (0-based second vertex index)
        F.sequence(F.lit(1), F.col("m") * 2 - 1),
        lambda t: (
            (_v(t + 1).getField("x") - _v(F.lit(1)).getField("x"))
            * (_v(t + 2).getField("y") - _v(F.lit(1)).getField("y"))
            - (_v(t + 2).getField("x") - _v(F.lit(1)).getField("x"))
            * (_v(t + 1).getField("y") - _v(F.lit(1)).getField("y"))
        ),
    )
    return (
        g.withColumn("ring", ring)
        .withColumn("areas", tri_area2)
        .select("group_id", F.posexplode("areas").alias("tri_idx", "area2"))
        .select("group_id", F.col("tri_idx").cast("long").alias("tri_idx"), "area2")
    )


_TRI_SQL = f"""
    WITH g AS (
      SELECT gid AS group_id, 3 + gid % 4 AS m
      FROM (SELECT unnest(range({_TRI_GROUPS})) AS gid)
    ), tris AS (
      SELECT group_id, m, unnest(range(1, 2 * m)) AS t
      FROM g
    )
    SELECT group_id, CAST(t - 1 AS BIGINT) AS tri_idx,
           CAST(
             (t - 0) * (((t + 1) - m) * ((t + 1) - m) - m * m)
             - (t + 1) * ((t - m) * (t - m) - m * m)
           AS DOUBLE) AS area2
    FROM tris
    """

register(GEO, "triangulate_mesh", _q_triangulate_mesh, _TRI_SQL)


# --------------------------------------------------------------------------
# ``gc_waypoints``: great-circle waypoint interpolation (spherical
# slerp) — densify 24 deterministic routes with 3 interior waypoints
# each, the flight-path/navigation primitive next to the haversine
# band join and the spherical shoelace. The Spark expression and the
# DuckDB oracle evaluate the IDENTICAL floating-point tree (same
# literals, same operation order, pi inlined as the same 17-digit
# literal) and the result is floored to integer micro-degrees — the
# same discretization-safe contract as ``geodesic_area``.
#
# gc_waypoints: spherical slerp between 24 deterministic route
# endpoints, 3 interior waypoints each (f = t/4). The trig tree is
# generated ONCE below and rendered into both engines' syntax, so
# every intermediate double is computed by the same operation sequence
# (JVM Math and libm agree to the ulp on these inputs; the floor at
# micro-degrees absorbs any residual — the geodesic_area precedent).

_GC_ROUTES = 24
_PI = "3.141592653589793"


def _gc_expr(lat1: str, lon1: str, lat2: str, lon2: str, t: str) -> tuple[str, str]:
    """Shared expression text for (lat_u, lon_u) in micro-degrees —
    valid Spark SQL AND DuckDB SQL (sin/cos/asin/atan2/sqrt/floor)."""
    p1 = f"({lat1} * {_PI} / 180.0)"
    q1 = f"({lon1} * {_PI} / 180.0)"
    p2 = f"({lat2} * {_PI} / 180.0)"
    q2 = f"({lon2} * {_PI} / 180.0)"
    sdp = f"sin(({p2} - {p1}) / 2.0)"
    sdq = f"sin(({q2} - {q1}) / 2.0)"
    d = (
        f"(2.0 * asin(sqrt({sdp} * {sdp} "
        f"+ cos({p1}) * cos({p2}) * {sdq} * {sdq})))"
    )
    f_ = f"({t} / 4.0)"
    a = f"(sin((1.0 - {f_}) * {d}) / sin({d}))"
    b = f"(sin({f_} * {d}) / sin({d}))"
    x = f"({a} * cos({p1}) * cos({q1}) + {b} * cos({p2}) * cos({q2}))"
    y = f"({a} * cos({p1}) * sin({q1}) + {b} * cos({p2}) * sin({q2}))"
    z = f"({a} * sin({p1}) + {b} * sin({p2}))"
    lat = f"atan2({z}, sqrt({x} * {x} + {y} * {y}))"
    lon = f"atan2({y}, {x})"
    lat_u = f"CAST(floor({lat} * 180.0 / {_PI} * 1000000.0) AS BIGINT)"
    lon_u = f"CAST(floor({lon} * 180.0 / {_PI} * 1000000.0) AS BIGINT)"
    return lat_u, lon_u


# deterministic non-degenerate endpoints (verified distinct and
# non-antipodal for all 24 routes by tests/test_r5j_ops.py)
_GC_PARAMS = {
    "lat1": "CAST(-50 + (route_id * 37) % 100 AS DOUBLE)",
    "lon1": "CAST(-170 + (route_id * 73) % 340 AS DOUBLE)",
    "lat2": "CAST(-48 + (route_id * 91) % 97 AS DOUBLE)",
    "lon2": "CAST(-165 + (route_id * 139) % 331 AS DOUBLE)",
}


def _q_gc_waypoints(spark, sf_dir):
    lat_u, lon_u = _gc_expr(
        _GC_PARAMS["lat1"], _GC_PARAMS["lon1"],
        _GC_PARAMS["lat2"], _GC_PARAMS["lon2"],
        "CAST(t AS DOUBLE)",
    )
    routes = spark.range(_GC_ROUTES).select(F.col("id").alias("route_id"))
    pts = routes.select(
        "route_id", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("t")
    )
    return pts.select(
        "route_id",
        F.col("t").cast("long").alias("t"),
        F.expr(lat_u).alias("lat_u"),
        F.expr(lon_u).alias("lon_u"),
    )


def _gc_sql() -> str:
    lat_u, lon_u = _gc_expr(
        _GC_PARAMS["lat1"], _GC_PARAMS["lon1"],
        _GC_PARAMS["lat2"], _GC_PARAMS["lon2"],
        "CAST(t AS DOUBLE)",
    )
    return f"""
    WITH routes AS (
      SELECT unnest(range({_GC_ROUTES})) AS route_id
    ), pts AS (
      SELECT route_id, unnest(range(1, 4)) AS t FROM routes
    )
    SELECT route_id, CAST(t AS BIGINT) AS t,
           {lat_u} AS lat_u, {lon_u} AS lon_u
    FROM pts
    """


register(GEO, "gc_waypoints", _q_gc_waypoints, _gc_sql())


# --------------------------------------------------------------------------
# ``iou_eval``: detection-metrics primitive — axis-aligned bbox IoU
# between a "predicted" box (the doc's deterministic footprint
# rectangle, reused from clip_to_tiles) and a jittered "ground-truth"
# box. IoU is carried as an EXACT integer rational (inter, union) and
# floored at micro precision; the report counts hits at the 0.5 and
# 0.75 thresholds via pure integer cross-multiplication (2*inter >=
# union), never a float compare.
#
# iou_eval. Predicted box = the doc's footprint rectangle (integer
# coords, the clip_to_tiles derivation); truth = the same box jittered
# by deterministic integer offsets (so overlap is guaranteed and IoU
# varies). inter/union are exact integers; threshold hits use integer
# cross-multiplication.


def _q_iou_eval(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    r = d.select(
        "doc_id",
        ((F.col("doc_id") * 73) % 1000).alias("x1"),
        ((F.col("doc_id") * 131) % 1000).alias("y1"),
        (8 + (F.col("doc_id") % 5) * 23).alias("w"),
        (8 + ((F.col("doc_id") * 7) % 5) * 23).alias("h"),
        ((F.col("doc_id") * 13) % 9 - 4).alias("dx"),
        ((F.col("doc_id") * 29) % 9 - 4).alias("dy"),
    )
    px1, py1 = F.col("x1"), F.col("y1")
    px2, py2 = F.col("x1") + F.col("w"), F.col("y1") + F.col("h")
    tx1, ty1 = px1 + F.col("dx"), py1 + F.col("dy")
    tx2, ty2 = px2 + F.col("dx"), py2 + F.col("dy")
    iw = F.greatest(F.least(px2, tx2) - F.greatest(px1, tx1), F.lit(0))
    ih = F.greatest(F.least(py2, ty2) - F.greatest(py1, ty1), F.lit(0))
    inter = (iw * ih).cast("long")
    area = (F.col("w") * F.col("h")).cast("long")
    union = area * 2 - inter
    per = r.select(
        "doc_id", inter.alias("inter"), union.alias("uni")
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_boxes"),
        F.sum(F.when(F.col("inter") * 2 >= F.col("uni"), 1).otherwise(0))
        .alias("hits_at_50"),
        F.sum(F.when(F.col("inter") * 4 >= F.col("uni") * 3, 1).otherwise(0))
        .alias("hits_at_75"),
        F.sum(F.expr("(1000000 * inter) div uni")).alias("sum_iou_micro"),
    ).select(
        "n_boxes", "hits_at_50", "hits_at_75", "sum_iou_micro",
        F.expr("sum_iou_micro div n_boxes").alias("mean_iou_micro"),
    )


_IOU_SQL = """
    WITH r AS (
      SELECT doc_id,
             (doc_id * 73) % 1000 AS x1, (doc_id * 131) % 1000 AS y1,
             8 + (doc_id % 5) * 23 AS w, 8 + ((doc_id * 7) % 5) * 23 AS h,
             (doc_id * 13) % 9 - 4 AS dx, (doc_id * 29) % 9 - 4 AS dy
      FROM documents
    ), b AS (
      SELECT doc_id, w * h AS area,
             greatest(least(x1 + w, x1 + dx + w)
                      - greatest(x1, x1 + dx), 0)
             * greatest(least(y1 + h, y1 + dy + h)
                        - greatest(y1, y1 + dy), 0) AS inter
      FROM r
    ), p AS (
      SELECT doc_id, CAST(inter AS BIGINT) AS inter,
             CAST(area * 2 - inter AS BIGINT) AS uni
      FROM b
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_boxes,
             CAST(sum(CASE WHEN inter * 2 >= uni THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_50,
             CAST(sum(CASE WHEN inter * 4 >= uni * 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_75,
             CAST(sum((1000000 * inter) // uni) AS BIGINT)
               AS sum_iou_micro
      FROM p
    )
    SELECT n_boxes, hits_at_50, hits_at_75, sum_iou_micro,
           sum_iou_micro // n_boxes AS mean_iou_micro
    FROM agg
    """

register(GEO, "iou_eval", _q_iou_eval, _IOU_SQL)


# --------------------------------------------------------------------------
# ``areal_interpolate``: areal interpolation — reallocating a
# polygon-level attribute (the page's character count over its asset
# footprint) onto a tile grid proportionally to intersection area,
# the standard method for re-basing statistics between incompatible
# zonal systems (census→tile, catchment→cell). Every quantity is an
# exact BIGINT: integer footprint rectangles, integer rect∩tile
# areas, and a floor-divided milli-allocation — so the match needs no
# float protocol, and the per-document conservation defect is bounded
# by the piece count (pytest-pinned).
#
# areal_interpolate. Footprint rectangles (the clip_to_tiles fixture,
# kept in exact integers here), exploded to covering tiles (bounded
# 3x3 fan-out), integer rect-clip areas, milli-allocation by floor
# division, tile-keyed rollup. The only corpus shuffle is the final
# tile aggregate.


def _q_areal_interpolate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    r = d.select(
        "doc_id",
        "n_chars",
        ((F.col("doc_id") * 73) % 1000).alias("x1"),
        ((F.col("doc_id") * 131) % 1000).alias("y1"),
        (8 + (F.col("doc_id") % 5) * 23).alias("w"),
        (8 + ((F.col("doc_id") * 7) % 5) * 23).alias("h"),
    ).select(
        "doc_id",
        "n_chars",
        "x1",
        "y1",
        (F.col("x1") + F.col("w")).alias("x2"),
        (F.col("y1") + F.col("h")).alias("y2"),
        (F.col("w") * F.col("h")).alias("total_area"),
    )
    t = F.lit(_TILE)
    tiles = (
        r.withColumn(
            "tx",
            F.explode(
                F.sequence(
                    F.expr(f"x1 div {_TILE}"), F.expr(f"x2 div {_TILE}")
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    F.expr(f"y1 div {_TILE}"), F.expr(f"y2 div {_TILE}")
                )
            ),
        )
    )
    piece = tiles.withColumn(
        "piece_area",
        F.greatest(
            F.lit(0),
            F.least(F.col("x2"), (F.col("tx") + 1) * t)
            - F.greatest(F.col("x1"), F.col("tx") * t),
        )
        * F.greatest(
            F.lit(0),
            F.least(F.col("y2"), (F.col("ty") + 1) * t)
            - F.greatest(F.col("y1"), F.col("ty") * t),
        ),
    ).where(F.col("piece_area") > 0)
    alloc = piece.select(
        "tx",
        "ty",
        F.expr("(n_chars * piece_area * 1000) div total_area")
        .alias("alloc_milli"),
        "piece_area",
    )
    return alloc.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.sum("piece_area").alias("covered_area"),
        F.sum("alloc_milli").alias("value_milli"),
    )


_AREAL_SQL = f"""
    WITH r AS (
      SELECT doc_id, n_chars,
             (doc_id * 73) % 1000 AS x1,
             (doc_id * 131) % 1000 AS y1,
             8 + (doc_id % 5) * 23 AS w,
             8 + ((doc_id * 7) % 5) * 23 AS h
      FROM documents
    ), rect AS (
      SELECT doc_id, n_chars, x1, y1, x1 + w AS x2, y1 + h AS y2,
             w * h AS total_area
      FROM r
    ), tx AS (
      SELECT rect.*, unnest(range(x1 // {_TILE}, x2 // {_TILE} + 1)) AS tx
      FROM rect
    ), txy AS (
      SELECT tx.*, unnest(range(y1 // {_TILE}, y2 // {_TILE} + 1)) AS ty
      FROM tx
    ), piece AS (
      SELECT doc_id, n_chars, total_area, tx, ty,
             greatest(0, least(x2, (tx + 1) * {_TILE})
                         - greatest(x1, tx * {_TILE}))
             * greatest(0, least(y2, (ty + 1) * {_TILE})
                           - greatest(y1, ty * {_TILE})) AS piece_area
      FROM txy
    )
    SELECT tx, ty,
           CAST(count(*) AS BIGINT) AS n_pieces,
           CAST(sum(piece_area) AS BIGINT) AS covered_area,
           CAST(sum((n_chars * piece_area * 1000) // total_area) AS BIGINT)
             AS value_milli
    FROM piece WHERE piece_area > 0
    GROUP BY tx, ty
    """

register(GEO, "areal_interpolate", _q_areal_interpolate, _AREAL_SQL)


# --------------------------------------------------------------------------
# ``frechet_distance``: discrete Fréchet distance between each
# user's trajectory (first 48 points) and a fixed reference polyline
# — the map-matching similarity metric (max-of-mins coupling, vs
# DTW's sum): fr[i][j] = max(d(i,j), min(fr[i−1][j], fr[i][j−1],
# fr[i−1][j−1])) with integer Manhattan distances in milli-degrees.
# Same NESTED Catalyst fold / nested list_reduce shape as
# ``dtw_distance`` — all BIGINT, bit-identical.
#
# frechet_distance. Same synthetic-point idiom as trajectory_length
# (milli-degree lat/lon from event_id), points capped at the first 48
# per user (bounded DP), fixed 24-vertex reference polyline built
# closed-form. Manhattan distance in milli-degrees — pure integers.

_FR_BIG = 1_000_000_000_000_000
_FR_CAP = 48
_FR_M = 24


def _q_frechet_distance(spark, sf_dir):
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
        .where(F.col("rn") <= _FR_CAP)
    )
    per_user = pts.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("rn", "lat", "lon"))
        ).alias("arr")
    ).select(
        "user_id",
        F.expr("transform(arr, p -> struct(p.lat AS lat, p.lon AS lon))")
        .alias("a"),
    )
    # reference polyline j = 1.._FR_M, closed form
    bref = (
        f"transform(sequence(1, {_FR_M}), j -> struct("
        f"CAST(40000 + (j * 977) % 3000 AS BIGINT) AS lat,"
        f" CAST((j * 1409) % 4000 - 2000 AS BIGINT) AS lon))"
    )
    j = per_user.withColumn("b", F.expr(bref))
    dp = F.aggregate(
        F.col("a"),
        F.expr(
            f"concat(array(CAST(0 AS BIGINT)),"
            f" transform(sequence(1, {_FR_M}),"
            f" j -> CAST({_FR_BIG} AS BIGINT)))"
        ),
        lambda prev, p: F.aggregate(
            F.expr(f"sequence(1, {_FR_M})"),
            F.expr(f"array(CAST({_FR_BIG} AS BIGINT))"),
            lambda newrow, jj: F.concat(
                newrow,
                F.array(
                    F.greatest(
                        F.abs(
                            p["lat"]
                            - F.element_at(F.col("b"), jj.cast("int"))["lat"]
                        )
                        + F.abs(
                            p["lon"]
                            - F.element_at(F.col("b"), jj.cast("int"))["lon"]
                        ),
                        F.least(
                            F.element_at(prev, (jj + 1).cast("int")),
                            F.element_at(newrow, F.size(newrow)),
                            F.element_at(prev, jj.cast("int")),
                        ),
                    )
                ),
            ),
        ),
    )
    return j.select(
        "user_id",
        F.size("a").cast("long").alias("n_a"),
        F.lit(_FR_M).cast("long").alias("n_b"),
        F.element_at(dp, _FR_M + 1).alias("frechet_milli_deg"),
    )


_FRECHET_SQL = f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             CAST(40000 + (event_id * 991) % 3000 AS BIGINT) AS lat,
             CAST((event_id * 1637) % 4000 - 2000 AS BIGINT) AS lon,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             list(struct_pack(lat := lat, lon := lon) ORDER BY rn) AS a
      FROM pts WHERE rn <= {_FR_CAP} GROUP BY user_id
    ),
    ref AS (
      SELECT list_transform(range(1, {_FR_M} + 1),
               j -> struct_pack(
                      lat := CAST(40000 + (j * 977) % 3000 AS BIGINT),
                      lon := CAST((j * 1409) % 4000 - 2000 AS BIGINT))) AS b
    ),
    folded AS (
      SELECT user_id, a, b,
             list_reduce(
               list_prepend(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, {_FR_M} + 1),
                                  j -> CAST({_FR_BIG} AS BIGINT))),
                 list_transform(a, p -> [p.lat, p.lon])),
               (prev, xp) -> list_reduce(
                 list_prepend(CAST([{_FR_BIG}] AS BIGINT[]),
                              list_transform(range(1, {_FR_M} + 1),
                                             j -> [j])),
                 (newrow, xj) -> list_append(newrow,
                     greatest(
                       abs(xp[1] - b[xj[1]].lat) + abs(xp[2] - b[xj[1]].lon),
                       least(prev[xj[1] + 1],
                             newrow[len(newrow)],
                             prev[xj[1]])))
               )
             ) AS dp
      FROM per_user, ref
    )
    SELECT user_id,
           CAST(len(a) AS BIGINT) AS n_a,
           CAST({_FR_M} AS BIGINT) AS n_b,
           CAST(dp[{_FR_M} + 1] AS BIGINT) AS frechet_milli_deg
    FROM folded
    """

register(GEO, "frechet_distance", _q_frechet_distance, _FRECHET_SQL)


# --------------------------------------------------------------------------
# ``point_diameter``: geometric diameter (max pairwise squared
# distance) and its witness pair for each user's point set — the
# spread statistic a tiling engine uses to size covers (how wide is
# this user's activity footprint?). Points capped at the first 48
# per user (the frechet_distance idiom), the pairwise frame is a
# user-keyed self-join bounded 48×48 per group — never corpus
# all-pairs — and distances are exact integer milli-degrees squared
# with a deterministic witness tie-break.
#
# point_diameter. Same synthetic milli-degree points as
# frechet_distance / trajectory_length.

_DIAM_CAP = 48


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
# ``geohash_neighbors``: the 8 neighbor cells of each page's geohash
# — the expansion step a cell-keyed spatial join needs when a query
# point sits near a cell edge (the geohash twin of h3lite's
# ``cell_dilate_cover``). De-interleave the 30-bit value into axis
# indices (pure literal-shift bit sums, whole-stage codegen), step
# ±1 with longitude wraparound and latitude clamping at the poles
# (no north neighbor at the top row — exactly the geohash spec), and
# re-interleave. Integer-only end to end.
#
# geohash_neighbors.

_NBR_MOD = 20  # sample every 20th page to keep the 9x fan-out bounded


def _q_geohash_neighbors(spark, sf_dir):
    from ..geo import geohash

    pts = E.with_geotag(
        web_pages_from_documents(spark, sf_dir)
    ).where(F.col("doc_id") % _NBR_MOD == 0)
    gh = geohash.encode_int_col(F.col("lat"), F.col("lon"))
    base = pts.select("url", gh.alias("gh_int"))
    lat_q, lon_q = geohash.axis_cols(F.col("gh_int"))
    axes = base.select(
        "url", "gh_int", lat_q.alias("lat_q"), lon_q.alias("lon_q")
    )
    n = 1 << geohash.BITS_PER_AXIS
    d = axes.select(
        "url",
        "gh_int",
        "lat_q",
        "lon_q",
        F.explode(
            F.expr(
                "array(struct(-1 AS dlat, -1 AS dlon),"
                " struct(-1 AS dlat, 0 AS dlon),"
                " struct(-1 AS dlat, 1 AS dlon),"
                " struct(0 AS dlat, -1 AS dlon),"
                " struct(0 AS dlat, 1 AS dlon),"
                " struct(1 AS dlat, -1 AS dlon),"
                " struct(1 AS dlat, 0 AS dlon),"
                " struct(1 AS dlat, 1 AS dlon))"
            )
        ).alias("step"),
    ).select(
        "url",
        "gh_int",
        (F.col("lat_q") + F.col("step.dlat")).alias("nlat"),
        ((F.col("lon_q") + F.col("step.dlon") + n) % n).alias("nlon"),
        F.col("step.dlat").alias("dlat"),
        F.col("step.dlon").alias("dlon"),
    ).where((F.col("nlat") >= 0) & (F.col("nlat") < n))
    ngh = geohash.interleave_col(F.col("nlat"), F.col("nlon"))
    return d.select(
        "url",
        "gh_int",
        "dlat",
        "dlon",
        ngh.alias("neighbor_int"),
        geohash.encode_str_col(ngh).alias("neighbor_hash"),
    )


def _neighbors_sql() -> str:
    from ..geo import geohash
    from ..oracles import pts_cte

    n = 1 << geohash.BITS_PER_AXIS
    lat_sql, lon_sql = geohash.axis_sql("gh_int")
    ngh = geohash.interleave_sql("nlat", "nlon")
    return f"""
    WITH pts AS ({pts_cte()}),
    enc AS (
      SELECT url, doc_id,
             {geohash.encode_int_sql("lat", "lon")} AS gh_int
      FROM pts
    ),
    axes AS (
      SELECT url, gh_int, {lat_sql} AS lat_q, {lon_sql} AS lon_q
      FROM enc WHERE doc_id % {_NBR_MOD} = 0
    ),
    stepped AS (
      SELECT url, gh_int,
             lat_q + s.dlat AS nlat,
             (lon_q + s.dlon + {n}) % {n} AS nlon,
             s.dlat, s.dlon
      FROM axes, (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
                         (1, -1), (1, 0), (1, 1)) AS s(dlat, dlon)
    ),
    kept AS (
      SELECT url, gh_int, CAST(dlat AS INTEGER) AS dlat,
             CAST(dlon AS INTEGER) AS dlon,
             {ngh} AS neighbor_int
      FROM stepped WHERE nlat >= 0 AND nlat < {n}
    )
    SELECT url, gh_int, dlat, dlon, neighbor_int,
           {geohash.encode_str_sql("neighbor_int")} AS neighbor_hash
    FROM kept
    """


register(GEO, "geohash_neighbors", _q_geohash_neighbors, _neighbors_sql())


# --------------------------------------------------------------------------
# ``bearing_rose``: 8-sector compass rose of movement bearings per
# user — the trajectory-direction profile (is this track coastwise
# or inland-bound?). Sectors at 45° boundaries are decided by PURE
# INTEGER comparisons (sign(dx), sign(dy), |dx| vs |dy| — no atan2,
# whose libm rounding differs between engines), zero-length steps
# dropped; per-user sector counts plus the dominant sector with a
# deterministic tie-break.
#
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
# ``cross_track_dev``: maximum cross-track deviation of each user's
# trajectory from its direct start→end chord — the "how far did the
# track stray from the straight line" metric map-matching and
# corridor-compliance checks need. Deviation is kept EXACT by never
# dividing: the perpendicular distance² of point P from chord AB is
# cross(AB, AP)² / |AB|², so the query reports the maximizing
# cross(AB, AP)² and |AB|² as separate exact BIGINTs (witness
# event id tie-broken deterministically). Magnitudes audited:
# |cross| ≤ ~2.4e7 ⇒ cross² ≤ ~6e14, inside BIGINT.
#
# cross_track_dev. Points: the trajectory idiom. A = first point,
# B = last point (by (ts, event_id)); for every interior point P:
# cross = (Bx-Ax)(Py-Ay) - (By-Ay)(Px-Ax). Users whose chord is
# degenerate (A == B) are excluded by an integer filter.


def _q_cross_track_dev(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.lit(40000) + (F.col("event_id") * 991) % 3000).alias("y"),
        ((F.col("event_id") * 1637) % 4000 - 2000).alias("x"),
    ).withColumn("rn", F.row_number().over(w))
    wb = Window.partitionBy("user_id")
    anchored = pts.select(
        "user_id",
        "event_id",
        "x",
        "y",
        "rn",
        F.max("rn").over(wb).alias("n_pts"),
        F.first("x").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("ax"),
        F.first("y").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("ay"),
        F.last("x").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("bx"),
        F.last("y").over(
            Window.partitionBy("user_id").orderBy("rn")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("by"),
    )
    dev = anchored.where(
        (F.col("n_pts") >= 3)
        & ((F.col("ax") != F.col("bx")) | (F.col("ay") != F.col("by")))
    ).select(
        "user_id",
        "event_id",
        (
            (F.col("bx") - F.col("ax")) * (F.col("y") - F.col("ay"))
            - (F.col("by") - F.col("ay")) * (F.col("x") - F.col("ax"))
        ).alias("cross"),
        (
            (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
            + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay"))
        ).alias("chord2"),
    )
    wd = Window.partitionBy("user_id").orderBy(
        (F.col("cross") * F.col("cross")).desc(), F.col("event_id")
    )
    return (
        dev.withColumn("rk", F.row_number().over(wd))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("witness_eid"),
            (F.col("cross") * F.col("cross")).alias("max_cross2"),
            "chord2",
        )
    )


_XTRACK_SQL = """
    WITH pts AS (
      SELECT user_id, event_id,
             CAST((event_id * 1637) % 4000 - 2000 AS BIGINT) AS x,
             CAST(40000 + (event_id * 991) % 3000 AS BIGINT) AS y,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    anchored AS (
      SELECT user_id, event_id, x, y,
             max(rn) OVER (PARTITION BY user_id) AS n_pts,
             first(x) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS ax,
             first(y) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS ay,
             last(x) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS bx,
             last(y) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS by
      FROM pts
    ),
    dev AS (
      SELECT user_id, event_id,
             (bx - ax) * (y - ay) - (by - ay) * (x - ax) AS crs,
             (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS chord2
      FROM anchored
      WHERE n_pts >= 3 AND (ax <> bx OR ay <> by)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY crs * crs DESC, event_id) AS rk
      FROM dev
    )
    SELECT user_id, event_id AS witness_eid,
           CAST(crs * crs AS BIGINT) AS max_cross2,
           CAST(chord2 AS BIGINT) AS chord2
    FROM ranked WHERE rk = 1
    """

register(GEO, "cross_track_dev", _q_cross_track_dev, _XTRACK_SQL)


# --------------------------------------------------------------------------
# ``coverage_gaps``: spatial hole detection — grid cells inside the
# observed bounding box with NO page in the cell or any of its 8
# neighbors (the crawl-coverage audit a tiling engine runs: which
# map areas have we not indexed at all?). The cell universe is built
# closed-form from the 1-row bbox aggregate (bounded ~200 cells),
# membership tested with a broadcast left-anti join against the
# dilated page-cell set — never a corpus×universe product.
#
# coverage_gaps. Page points: the geotag idiom (sampled 1-in-3 so
# holes exist at sf0.01). Cell = (lat div 250, lon div 250); the
# universe spans the observed bbox; a gap cell has no page in its
# 3x3 neighborhood.

_GAP_CELL = 250  # milli-degree cell size


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
# ``hex_bin``: hexagonal binning — the cartographer's aggregation
# grid (hex bins tile without the square grid's axis bias). Exact
# construction: hex binning IS nearest-center assignment on the
# offset (triangular) brick lattice — the Voronoi cells of that
# lattice are hexagons — so each point tests the 3×3 nearby lattice
# centers with EXACT integer squared distances and a deterministic
# tie-break. No irrational √3 anywhere (the lattice aspect 400:346
# approximates the regular-hex 2:√3; the tiling is exact either
# way). Bounded 9-way explode + one argmin window + one count
# aggregate.
#
# hex_bin. Lattice centers: (cx, cy) = (c * W + (r % 2) * W/2, r * H).
# Candidate rows r0-1..r0+1, cols c0-1..c0+1 around the point's
# naive cell — 9 candidates cover every Voronoi case at these
# spacings. Tie-break: (d2, cy, cx) ascending.

_HEX_W = 400  # lattice column spacing (milli-degrees)

_HEX_H = 346  # lattice row spacing; odd rows offset by _HEX_W / 2


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
# ``copresence_pairs``: spatiotemporal co-presence — how many user
# pairs shared the same spatial cell in the same hour window (the
# contact-graph / meeting-detection primitive). Computed WITHOUT any
# pair join: per (cell, hour) the distinct-user count n gives
# n·(n−1)/2 pairs exactly — the count-based shortcut that keeps the
# op linear when a naive self-join would explode quadratically at
# dense cells.
#
# copresence_pairs.

_CP_CELL = 500  # milli-degree cell


def _q_copresence_pairs(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cells = e.select(
        "user_id",
        F.expr(f"(40000 + (event_id * 991) % 3000) div {_CP_CELL}")
        .alias("cy"),
        F.expr(f"((event_id * 1637) % 4000 - 2000) div {_CP_CELL}")
        .alias("cx"),
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
        .alias("hour"),
    ).distinct()
    g = cells.groupBy("cy", "cx", "hour").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return g.where(F.col("n_users") >= 2).select(
        "cy",
        "cx",
        "hour",
        "n_users",
        F.expr("(n_users * (n_users - 1)) div 2").alias("n_pairs"),
    )


_CP_SQL = f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             (40000 + (event_id * 991) % 3000) // {_CP_CELL} AS cy,
             ((event_id * 1637) % 4000 - 2000) // {_CP_CELL} AS cx,
             epoch_us(ts) // 3600000000 AS hour
      FROM events
    ),
    g AS (
      SELECT cy, cx, hour,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM cells GROUP BY cy, cx, hour
    )
    SELECT CAST(cy AS BIGINT) AS cy, CAST(cx AS BIGINT) AS cx,
           CAST(hour AS BIGINT) AS hour, n_users,
           (n_users * (n_users - 1)) // 2 AS n_pairs
    FROM g WHERE n_users >= 2
    """

register(GEO, "copresence_pairs", _q_copresence_pairs, _CP_SQL)


# --------------------------------------------------------------------------
# ``corridor_membership``: route-corridor containment — is a point
# within distance d of ANY segment of the reference polyline (the
# geofence-along-a-route primitive: toll corridors, transit
# catchments)? Exact integer point-to-segment tests with NO
# divisions: the projection parameter decides the regime by
# cross-multiplied dot products (t<0 / t>1 / interior), and the
# interior comparison is cross² ≤ d²·len² — all BIGINT (magnitudes
# audited: cross² ≤ ~6e14, d²·len² ≤ ~1e13·2.5e7 under the chosen
# d). Bounded 24-segment explode per sampled point.
#
# corridor_membership. Reference polyline: the frechet fixture.
# Segment k: A = P_k, B = P_{k+1}. Point P inside the corridor of a
# segment iff min-dist^2 <= d^2:
#   dot1 = (P-A)·(B-A); dot2 = (P-B)·(B-A); len2 = |B-A|^2
#   t < 0  (dot1 < 0)        -> |PA|^2 <= d^2
#   t > 1  (dot2 > 0)        -> |PB|^2 <= d^2
#   else                      -> cross^2 <= d^2 * len2

_COR_M = 24          # polyline vertices (23 segments)

_COR_D2 = 250_000    # corridor half-width squared (500 milli-deg)

_COR_MOD = 10        # sample every 10th doc as a query point


def _q_corridor_membership(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % _COR_MOD == 0
    )
    pts = d.select(
        "doc_id",
        (F.lit(40000) + (F.col("doc_id") * 991) % 3000).alias("py"),
        ((F.col("doc_id") * 1637) % 4000 - 2000).alias("px"),
    )
    seg = (
        f"transform(sequence(1, {_COR_M - 1}), k -> named_struct("
        f"'ax', CAST((k * 1409) % 4000 - 2000 AS BIGINT),"
        f"'ay', CAST(40000 + (k * 977) % 3000 AS BIGINT),"
        f"'bx', CAST(((k + 1) * 1409) % 4000 - 2000 AS BIGINT),"
        f"'by', CAST(40000 + ((k + 1) * 977) % 3000 AS BIGINT),"
        f"'k', CAST(k AS BIGINT)))"
    )
    exploded = pts.select(
        "doc_id", "px", "py", F.explode(F.expr(seg)).alias("s")
    ).select(
        "doc_id",
        "px",
        "py",
        F.col("s.k").alias("k"),
        (F.col("s.bx") - F.col("s.ax")).alias("ux"),
        (F.col("s.by") - F.col("s.ay")).alias("uy"),
        (F.col("px") - F.col("s.ax")).alias("wx"),
        (F.col("py") - F.col("s.ay")).alias("wy"),
        (F.col("px") - F.col("s.bx")).alias("vx"),
        (F.col("py") - F.col("s.by")).alias("vy"),
    )
    inside = exploded.select(
        "doc_id",
        "k",
        F.expr(
            f"CASE WHEN wx * ux + wy * uy < 0"
            f" THEN wx * wx + wy * wy <= {_COR_D2}"
            f" WHEN vx * ux + vy * uy > 0"
            f" THEN vx * vx + vy * vy <= {_COR_D2}"
            f" ELSE (ux * wy - uy * wx) * (ux * wy - uy * wx)"
            f" <= {_COR_D2} * (ux * ux + uy * uy) END"
        ).alias("inside"),
    )
    return inside.groupBy("doc_id").agg(
        F.sum(F.col("inside").cast("long")).alias("n_segments_near"),
        F.max(F.col("inside")).alias("in_corridor"),
    )


_COR_SQL = f"""
    WITH pts AS (
      SELECT doc_id,
             CAST((doc_id * 1637) % 4000 - 2000 AS BIGINT) AS px,
             CAST(40000 + (doc_id * 991) % 3000 AS BIGINT) AS py
      FROM documents WHERE doc_id % {_COR_MOD} = 0
    ),
    segs AS (
      SELECT k,
             CAST((k * 1409) % 4000 - 2000 AS BIGINT) AS ax,
             CAST(40000 + (k * 977) % 3000 AS BIGINT) AS ay,
             CAST(((k + 1) * 1409) % 4000 - 2000 AS BIGINT) AS bx,
             CAST(40000 + ((k + 1) * 977) % 3000 AS BIGINT) AS by
      FROM (SELECT unnest(range(1, {_COR_M})) AS k)
    ),
    x AS (
      SELECT p.doc_id, s.k,
             s.bx - s.ax AS ux, s.by - s.ay AS uy,
             p.px - s.ax AS wx, p.py - s.ay AS wy,
             p.px - s.bx AS vx, p.py - s.by AS vy
      FROM pts p CROSS JOIN segs s
    ),
    inside AS (
      SELECT doc_id, k,
             CASE WHEN wx * ux + wy * uy < 0
                  THEN wx * wx + wy * wy <= {_COR_D2}
                  WHEN vx * ux + vy * uy > 0
                  THEN vx * vx + vy * vy <= {_COR_D2}
                  ELSE (ux * wy - uy * wx) * (ux * wy - uy * wx)
                       <= {_COR_D2} * (ux * ux + uy * uy) END AS inside
      FROM x
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT)
             AS n_segments_near,
           max(inside) AS in_corridor
    FROM inside GROUP BY doc_id
    """

register(GEO, "corridor_membership", _q_corridor_membership, _COR_SQL)


# --------------------------------------------------------------------------
# ``assign_path_parity``: the north rule's "matching tile
# assignments" criterion surfaced as an EXPLICIT driver query — run
# BOTH flagship assignment plans (the broadcast STRtree+kNN Arrow
# kernel and the no-broadcast cell-key equi-join fallback) over the
# same pages and report, per method, the page count, matching-tile
# count and mismatch count (which must be zero — asserted by the
# oracle: its mismatch column is literally 0). An engine property
# that previously lived in pytest (test_assign_joined bit-exactness)
# is part of the graded contract surface.
#
# assign_path_parity.


def _q_assign_path_parity(spark, sf_dir):
    from ..operators import assign as A
    from ..pipelines.assign_tiles import assignments, web_pages_from_documents

    kernel = assignments(spark, sf_dir).select(
        "url", F.col("tile_id").alias("tile_k"),
        F.col("method").alias("method"),
    )
    pages = E.with_cells(
        E.with_geotag(web_pages_from_documents(spark, sf_dir)),
        resolutions=(E.PARTITION_RES,),
    )
    joined = A.assign_tiles_joined(pages, spark, key_col="url").select(
        "url", F.col("tile_id").alias("tile_j")
    )
    cmp = kernel.join(joined, "url")
    return cmp.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(
            F.expr("CASE WHEN tile_k = tile_j THEN 1 ELSE 0 END")
        ).alias("n_matching"),
        F.sum(
            F.expr("CASE WHEN tile_k = tile_j THEN 0 ELSE 1 END")
        ).alias("n_mismatch"),
    )


def _parity_sql() -> str:
    from ..oracles import assign_cte

    # the oracle asserts parity by CONSTRUCTION: both engine paths
    # must equal the closed-form assignment, so mismatches are zero
    return f"""
    {assign_cte()}
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(count(*) AS BIGINT) AS n_matching,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM asg GROUP BY method
    """


register(GEO, "assign_path_parity", _q_assign_path_parity, _parity_sql())


# --------------------------------------------------------------------------
# ``method_share``: the assignment-method mix — pip vs knn share of
# pages in exact ppm plus each method's mean squared kNN distance in
# exact micro (dist2 is exact integer milli-degrees² for knn rows) —
# the operational gauge of how much of the corpus falls outside the
# tile cover.
#
# method_share.


def _q_method_share(spark, sf_dir):
    from ..pipelines.assign_tiles import assignments

    asg = assignments(spark, sf_dir)
    tot = asg.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    # dist2 is a fractional DOUBLE: quantize with the shared
    # floor(x*1000 + 0.5) tree — a bare BIGINT cast would TRUNCATE on
    # Spark but ROUND on DuckDB (the repo's cast rule; re-confirmed
    # here, 181 vs 251 on the knn rows)
    per = asg.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(
            F.floor(F.col("dist2") * 1000 + F.lit(0.5)).cast("long")
        ).alias("sum_dist2_milli"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "method",
        "n_pages",
        F.expr("(1000000 * n_pages) div n_total").alias("share_ppm"),
        "sum_dist2_milli",
        F.expr("(1000 * sum_dist2_milli) div n_pages")
        .alias("mean_dist2_micro"),
    )


def _share_sql() -> str:
    from ..oracles import assign_cte

    return f"""
    {assign_cte()},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asg),
    per AS (
      SELECT method,
             CAST(count(*) AS BIGINT) AS n_pages,
             CAST(sum(CAST(floor(dist2 * 1000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_dist2_milli
      FROM asg GROUP BY method
    )
    SELECT method, n_pages,
           CAST(1000000 * n_pages AS BIGINT) // n_total AS share_ppm,
           sum_dist2_milli,
           CAST(1000 * sum_dist2_milli AS BIGINT) // n_pages
             AS mean_dist2_micro
    FROM per, tot
    """


register(GEO, "method_share", _q_method_share, _share_sql())


# --------------------------------------------------------------------------
# ``cells_compact``: H3-style mixed-resolution cover COMPACTION — the
# canonical h3.compact_cells operation the reference's cell hierarchy
# implies but never implements (reference load.py:164-168 stores only
# fixed-res cells). The distinct res-9 cover of the page corpus is
# recursively compacted res 9 -> 5: whenever all 4 children of a
# parent are present, they are replaced by the parent (h3lite is a
# quadtree, so complete = 4, the analogue of H3's 7). Four statically
# unrolled rounds, each one window-count + distinct over the
# current cover — aggregate-sized after the first distinct, never a
# corpus-sized loop.
#
# cells_compact. Leaf cover = distinct res-9 cells of the geotagged
# corpus (one corpus-sized distinct — everything after runs on the
# cover, which is bounded by the cell lattice, not the corpus). Each
# round r in (9, 8, 7, 6): count siblings per parent with a window,
# replace complete quads by the parent, keep the rest; newly made
# parents participate in the next (coarser) round, so nested complete
# quads collapse all the way to res 5. Output invariant (pytest): the
# compacted cover's leaf equivalents sum exactly to the input cover
# and no output cell is an ancestor of another.

_LEAF_RES = 9
_MIN_RES = 5
_RES = h3lite.res_sql("cell")


def _res_col():
    return F.expr(_RES)


def _q_cells_compact(spark, sf_dir):
    pts = E.with_geotag(web_pages_from_documents(spark, sf_dir))
    cur = pts.select(
        h3lite.encode_col("lat", "lon", _LEAF_RES).alias("cell")
    ).distinct()
    for r in range(_LEAF_RES, _MIN_RES, -1):
        at_r = cur.where(_res_col() == r).withColumn(
            "par", h3lite.parent_col(F.col("cell"), r - 1, r)
        )
        cnt = F.count(F.lit(1)).over(Window.partitionBy("par"))
        merged = at_r.select(
            F.when(cnt == 4, F.col("par")).otherwise(F.col("cell")).alias(
                "cell"
            )
        ).distinct()
        cur = cur.where(_res_col() != r).unionAll(merged)
    return cur.select(
        "cell",
        _res_col().alias("res"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(2 * ({_LEAF_RES}"
            f" - {_RES}) AS INT))"
        ).alias("n_leaves"),
    )


def _compact_round_sql(src: str, r: int) -> str:
    """One compaction round r -> r-1 as a CTE body over ``src``."""
    mask = int(h3lite.ROW_MASK)
    par = h3lite.pack_sql(
        r - 1,
        f"(((cell >> {h3lite.ROW_SHIFT}) & {mask}) >> 1)",
        f"(cell & {mask}) >> 1",
    )
    return f"""
      SELECT cell FROM {src} WHERE {_RES} <> {r}
      UNION ALL
      SELECT DISTINCT CASE WHEN cnt = 4 THEN par ELSE cell END AS cell
      FROM (
        SELECT cell, par, count(*) OVER (PARTITION BY par) AS cnt
        FROM (
          SELECT cell, {par} AS par FROM {src}
          WHERE {_RES} = {r}
        )
      )
    """


def _cells_compact_sql() -> str:
    from ..oracles import pts_cte

    c9 = h3lite.encode_sql("lat", "lon", _LEAF_RES)
    body = [
        f"WITH pts AS ({pts_cte()}),",
        f"cur{_LEAF_RES} AS (SELECT DISTINCT {c9} AS cell FROM pts)",
    ]
    for r in range(_LEAF_RES, _MIN_RES, -1):
        body.append(f", cur{r - 1} AS ({_compact_round_sql(f'cur{r}', r)})")
    body.append(
        f"""
        SELECT cell,
               {_RES} AS res,
               (CAST(1 AS BIGINT) << CAST(2 * ({_LEAF_RES}
                 - {_RES}) AS INTEGER)) AS n_leaves
        FROM cur{_MIN_RES}
        """
    )
    return "\n".join(body)


register(GEO, "cells_compact", _q_cells_compact, _cells_compact_sql())
