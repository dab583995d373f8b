"""Round-5ll registry batch — two new operator families:

- ``cross_track_dev``: maximum cross-track deviation of each user's
  trajectory from its direct start→end chord — the "how far did the
  track stray from the straight line" metric map-matching and
  corridor-compliance checks need. Deviation is kept EXACT by never
  dividing: the perpendicular distance² of point P from chord AB is
  cross(AB, AP)² / |AB|², so the query reports the maximizing
  cross(AB, AP)² and |AB|² as separate exact BIGINTs (witness
  event id tie-broken deterministically). Magnitudes audited:
  |cross| ≤ ~2.4e7 ⇒ cross² ≤ ~6e14, inside BIGINT.
- ``cohens_kappa``: inter-annotator agreement between two
  deterministic synthetic labelers over the documents — the eval
  metric that corrects raw agreement for chance. With integer
  confusion counts, κ = (agree·n − Σᵢ rᵢ·cᵢ) / (n² − Σᵢ rᵢ·cᵢ)
  is a ratio of exact BIGINTs; the possibly-negative numerator goes
  through the shared double tree floor (never an integer division,
  whose negative semantics differ between engines).

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the reference engine (NGWPC/hand-index) has no
track-deviation or agreement surface — these extend the trajectory
and evaluation axes the brief names as first-class.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .registry import GEO, TEXT, read_table as _t, register


# --------------------------------------------------------------------------
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
# cohens_kappa. Labeler A: doc_id*48271 % 4; labeler B: agrees with A
# when doc_id*7919 % 10 < 7 (70% of docs), else doc_id*104729 % 4.


def _q_cohens_kappa(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id")
    lab = d.select(
        ((F.col("doc_id") * 48271) % 4).cast("long").alias("a"),
        F.when(
            (F.col("doc_id") * 7919) % 10 < 7,
            (F.col("doc_id") * 48271) % 4,
        )
        .otherwise((F.col("doc_id") * 104729) % 4)
        .cast("long")
        .alias("b"),
    )
    cm = lab.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nij"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wt = Window.partitionBy()
    c = cm.select(
        "a",
        "b",
        "nij",
        F.sum("nij").over(wa).alias("ra"),
        F.sum("nij").over(wb).alias("cb"),
        F.sum("nij").over(wt).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("nij")).otherwise(0))
        .over(wt)
        .alias("agree"),
    )
    # pe_num = sum over classes k of r_k * c_k; only diagonal rows
    # carry (a == b) — but r*c must sum over ALL classes, so take it
    # from the diagonal rows where a == b (every class has a diagonal
    # row in this fixture; guarded by the pytest)
    diag = c.where(F.col("a") == F.col("b"))
    agg = diag.groupBy().agg(
        F.max("n").alias("n"),
        F.max("agree").alias("agree"),
        F.sum(F.expr("ra * cb")).alias("pe_num"),
    )
    kappa = (
        "CAST(floor(1000000.0 * (CAST(agree * n - pe_num AS DOUBLE)"
        " / CAST(n * n - pe_num AS DOUBLE))) AS BIGINT)"
    )
    return agg.select(
        "n", "agree", "pe_num", F.expr(kappa).alias("kappa_micro")
    )


_KAPPA_SQL = """
    WITH lab AS (
      SELECT CAST((doc_id * 48271) % 4 AS BIGINT) AS a,
             CAST(CASE WHEN (doc_id * 7919) % 10 < 7
                       THEN (doc_id * 48271) % 4
                       ELSE (doc_id * 104729) % 4 END AS BIGINT) AS b
      FROM documents
    ),
    cm AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS nij
      FROM lab GROUP BY a, b
    ),
    c AS (
      SELECT a, b, nij,
             CAST(sum(nij) OVER (PARTITION BY a) AS BIGINT) AS ra,
             CAST(sum(nij) OVER (PARTITION BY b) AS BIGINT) AS cb,
             CAST(sum(nij) OVER () AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN nij ELSE 0 END) OVER ()
                  AS BIGINT) AS agree
      FROM cm
    ),
    agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             CAST(max(agree) AS BIGINT) AS agree,
             CAST(sum(ra * cb) AS BIGINT) AS pe_num
      FROM c WHERE a = b
    )
    SELECT n, agree, pe_num,
           CAST(floor(1000000.0 * (CAST(agree * n - pe_num AS DOUBLE)
                / CAST(n * n - pe_num AS DOUBLE))) AS BIGINT)
             AS kappa_micro
    FROM agg
    """

register(TEXT, "cohens_kappa", _q_cohens_kappa, _KAPPA_SQL)
