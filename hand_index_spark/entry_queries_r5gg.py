"""Round-5gg registry batch — two new operator families:

- ``geohash_neighbors``: the 8 neighbor cells of each page's geohash
  — the expansion step a cell-keyed spatial join needs when a query
  point sits near a cell edge (the geohash twin of h3lite's
  ``cell_dilate_cover``). De-interleave the 30-bit value into axis
  indices (pure literal-shift bit sums, whole-stage codegen), step
  ±1 with longitude wraparound and latitude clamping at the poles
  (no north neighbor at the top row — exactly the geohash spec), and
  re-interleave. Integer-only end to end.
- ``markov_transitions``: first-order Markov transition matrix over
  each user's event-type sequence — the sequence model behind
  next-action prediction and funnel leak analysis. One user-keyed
  lag window, one (prev, cur) aggregate, row-normalized in exact ppm
  (window row totals, integer cross-division).

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
neighbor-expansion or sequence-model surface — these extend the cell
-index and analytics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_NBR_MOD = 20  # sample every 20th page to keep the 9x fan-out bounded


# --------------------------------------------------------------------------
# geohash_neighbors.


def _q_geohash_neighbors(spark, sf_dir):
    from .geo import geohash
    from .operators import encode as E
    from .pipelines.assign_tiles import web_pages_from_documents

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
    from .geo import geohash
    from .oracles import pts_cte

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
