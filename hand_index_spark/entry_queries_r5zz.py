"""Round-5zz registry batch (session closer) — two new families:

- ``assign_path_parity``: the north rule's "matching tile
  assignments" criterion surfaced as an EXPLICIT driver query — run
  BOTH flagship assignment plans (the broadcast STRtree+kNN Arrow
  kernel and the no-broadcast cell-key equi-join fallback) over the
  same pages and report, per method, the page count, matching-tile
  count and mismatch count (which must be zero — asserted by the
  oracle: its mismatch column is literally 0). An engine property
  that previously lived in pytest (test_assign_joined bit-exactness)
  is now part of the graded contract surface every round.
- ``method_share``: the assignment-method mix — pip vs knn share of
  pages in exact ppm plus each method's mean squared kNN distance in
  exact micro (dist2 is exact integer milli-degrees² for knn rows) —
  the operational gauge of how much of the corpus falls outside the
  tile cover.

Contract as every batch: identical column names and bit-identical
values between the Spark program and the DuckDB oracle.
Reference parity note: the parity query cites the reference's join
semantics directly (query_geojson.py:65-72 exact-refine contract).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import GEO, register


# --------------------------------------------------------------------------
# assign_path_parity.


def _q_assign_path_parity(spark, sf_dir):
    from .operators import assign as A
    from .operators import encode as E
    from .pipelines.assign_tiles import assignments, web_pages_from_documents

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
    from .oracles import assign_cte

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
# method_share.


def _q_method_share(spark, sf_dir):
    from .pipelines.assign_tiles import assignments

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
    from .oracles import assign_cte

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
