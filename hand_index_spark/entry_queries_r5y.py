"""Round-5y registry batch — two new operator families:

- ``areal_interpolate``: areal interpolation — reallocating a
  polygon-level attribute (the page's character count over its asset
  footprint) onto a tile grid proportionally to intersection area,
  the standard method for re-basing statistics between incompatible
  zonal systems (census→tile, catchment→cell). Every quantity is an
  exact BIGINT: integer footprint rectangles, integer rect∩tile
  areas, and a floor-divided milli-allocation — so the match needs no
  float protocol, and the per-document conservation defect is bounded
  by the piece count (pytest-pinned).
- ``frechet_distance``: discrete Fréchet distance between each
  user's trajectory (first 48 points) and a fixed reference polyline
  — the map-matching similarity metric (max-of-mins coupling, vs
  DTW's sum): fr[i][j] = max(d(i,j), min(fr[i−1][j], fr[i][j−1],
  fr[i−1][j−1])) with integer Manhattan distances in milli-degrees.
  Same NESTED Catalyst fold / nested list_reduce shape as
  ``dtw_distance`` — all BIGINT, bit-identical.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) stops
at overlap thresholds (query_geojson.py:213-219); areal reallocation
and curve similarity extend its spatial-join semantics to the
re-aggregation and trajectory axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, read_table as _t, register


_TILE = 64


# --------------------------------------------------------------------------
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
