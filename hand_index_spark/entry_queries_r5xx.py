"""Round-5xx registry batch — two new operator families:

- ``corridor_membership``: route-corridor containment — is a point
  within distance d of ANY segment of the reference polyline (the
  geofence-along-a-route primitive: toll corridors, transit
  catchments)? Exact integer point-to-segment tests with NO
  divisions: the projection parameter decides the regime by
  cross-multiplied dot products (t<0 / t>1 / interior), and the
  interior comparison is cross² ≤ d²·len² — all BIGINT (magnitudes
  audited: cross² ≤ ~6e14, d²·len² ≤ ~1e13·2.5e7 under the chosen
  d). Bounded 24-segment explode per sampled point.
- ``new_vs_returning``: the classic daily audience split — per day,
  how many active users are brand new vs returning, plus the
  running cumulative-known-users curve. First-seen day per user via
  one aggregate, daily split via integer comparisons, cumulative
  curve via an ordered window over the ~30 day rows.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
corridor or audience surface — these extend the geospatial and
web-analytics axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


_COR_M = 24          # polyline vertices (23 segments)
_COR_D2 = 250_000    # corridor half-width squared (500 milli-deg)
_COR_MOD = 10        # sample every 10th doc as a query point


# --------------------------------------------------------------------------
# corridor_membership. Reference polyline: the frechet fixture.
# Segment k: A = P_k, B = P_{k+1}. Point P inside the corridor of a
# segment iff min-dist^2 <= d^2:
#   dot1 = (P-A)·(B-A); dot2 = (P-B)·(B-A); len2 = |B-A|^2
#   t < 0  (dot1 < 0)        -> |PA|^2 <= d^2
#   t > 1  (dot2 > 0)        -> |PB|^2 <= d^2
#   else                      -> cross^2 <= d^2 * len2


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
# new_vs_returning.

_DAY_US = 86_400_000_000


def _q_new_vs_returning(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.expr(f"unix_micros(CAST(ts AS TIMESTAMP)) div {_DAY_US}")
        .alias("day"),
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = ud.join(F.broadcast(first), "user_id")
    daily = j.groupBy("day").agg(
        F.sum(F.expr("CASE WHEN day = first_day THEN 1 ELSE 0 END"))
        .alias("new_users"),
        F.sum(F.expr("CASE WHEN day > first_day THEN 1 ELSE 0 END"))
        .alias("returning_users"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "new_users",
        "returning_users",
        F.sum("new_users").over(wc).alias("known_users_cum"),
    )


_NVR_SQL = f"""
    WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events
    ),
    first AS (
      SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id
    ),
    daily AS (
      SELECT ud.day,
             CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS new_users,
             CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END)
                  AS BIGINT) AS returning_users
      FROM ud JOIN first f ON ud.user_id = f.user_id
      GROUP BY ud.day
    )
    SELECT CAST(day AS BIGINT) AS day, new_users, returning_users,
           CAST(sum(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS known_users_cum
    FROM daily
    """

register(TEXT, "new_vs_returning", _q_new_vs_returning, _NVR_SQL)
