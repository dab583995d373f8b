"""ROI query pipeline — the reference's `query_geojson.py` restated.

Reference flow (SURVEY.md §3.2): GeoJSON ROI -> reproject 4326->5070 ->
ST_Intersects join against all catchments -> 3-way LEFT join ->
exact contains/within/overlap%-threshold refinement in pandas ->
per-catchment parquet writes. Critically, the reference never filters
on its h3 partition column, so partition pruning never fires
(SURVEY.md §4.1) — this pipeline fixes that:

1. ROI ring (EPSG:4326) -> covering-cell set at the catchment partition
   res (+1-cell buffer) -> ``h3_index IN (...)`` pushed into the scan:
   Catalyst partition pruning skips non-candidate hive partitions;
2. Catalyst bbox prefilter (parquet min/max row-group stats prune
   further) — the coarse phase;
3. exact phase: operators.overlap.refine_overlap (vectorized
   intersects + overlap% + contains/within) on the surviving
   candidates only;
4. threshold mask + left joins to the satellite tables, both reading
   the one refine of step 3, then a per-catchment partitioned write (S8).

Candidates never collect to the driver (the reference materializes all
candidates into pandas at query_geojson.py:118 — the thing this engine
must not do at 10^12 rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import albers
from ..geo import cells as h3lite
from ..geo import polygon as P
from ..operators.overlap import overlap_stats, refine_overlap, threshold_filter
from ..sources.geojson import load_roi
from .build_index import CATCHMENT_PARTITION_RES


def roi_candidates(
    catchments: DataFrame,
    ring: np.ndarray,
    ring5070: np.ndarray,
    partition_res: int = CATCHMENT_PARTITION_RES,
) -> DataFrame:
    """The coarse phase alone (partition-pruned scan + bbox prefilter) —
    shared by :func:`roi_query` and the bench's stage breakdown.

    1. partition pruning: covering cells of the ROI bbox, buffered by
    the maximum distance a catchment can extend beyond its centroid's
    cell. Catchments are keyed by centroid cell, and a catchment quad
    spans at most one full tile extent (tilegrid W x H degrees), so a
    catchment intersecting the ROI has its centroid within
    ceil(max_tile_extent / cell_size) cells of the ROI bbox — derived,
    not hard-coded, so changing the grid or partition_res stays safe.

    2. coarse bbox prefilter in 5070 (Catalyst-only, parquet row-group
    min/max stats pushdown).
    """
    from ..tables import tilegrid as tg

    lon_min, lat_min, lon_max, lat_max = P.bbox_of(ring)
    cs = 1.0 / (1 << partition_res)
    buf_cells = int(np.ceil(max(tg.W, tg.H) / cs)) + 1  # +1: centroid cell quantization
    cells = h3lite.cover_bbox(
        lon_min - buf_cells * cs,
        lat_min - buf_cells * cs,
        lon_max + buf_cells * cs,
        lat_max + buf_cells * cs,
        partition_res,
    )
    # one SQL text, not isin() over hundreds of literals (each literal is
    # its own JVM round trip); the optimizer makes the same InSet filter
    pruned = catchments.filter(
        F.expr(f"h3_index IN ({', '.join(str(int(c)) for c in cells)})")
    )
    bx0, by0, bx1, by1 = P.bbox_of(ring5070)
    return pruned.filter(
        (F.col("bbox.xmax") >= F.lit(bx0))
        & (F.col("bbox.xmin") <= F.lit(bx1))
        & (F.col("bbox.ymax") >= F.lit(by0))
        & (F.col("bbox.ymin") <= F.lit(by1))
    )


def roi_query(
    spark: SparkSession,
    catchments: DataFrame,
    roi: str | dict,
    hydrotables: DataFrame | None = None,
    rem_rasters: DataFrame | None = None,
    catchment_rasters: DataFrame | None = None,
    overlap_threshold_pct: float = 10.0,
    partition_res: int = CATCHMENT_PARTITION_RES,
    collect_stats: bool = True,
) -> tuple[DataFrame, DataFrame, dict]:
    """Returns (kept_geometries, joined_attributes, stats).

    ``catchments`` must carry geometry (WKB EPSG:5070), bbox struct,
    h3_index partition col, catchment_id. ``collect_stats=False`` skips
    the eager count actions (stats comes back empty) so callers that
    only execute the returned DataFrames — e.g. the bench's timed loop —
    measure exactly one execution of the plan.
    """
    rings4326 = load_roi(roi)
    ring = rings4326[0]  # single-ROI usage, like the reference (:101)
    # degenerate-ROI guard (zero-area, FIXTURES.md §6e)
    x, y = albers.forward(ring[:, 0], ring[:, 1])
    ring5070 = np.column_stack([x, y])

    coarse = roi_candidates(catchments, ring, ring5070, partition_res)

    # 3. exact refinement (vectorized pandas UDF over candidates)
    refined = refine_overlap(coarse, spark, ring5070)
    hits = refined.filter(F.col("intersects"))
    kept = threshold_filter(hits, overlap_threshold_pct)
    if collect_stats:
        stats = overlap_stats(hits, overlap_threshold_pct)
        stats["removed"] = stats["initial"] - stats["final"]
    else:
        stats = {}

    # 4. attribute assembly: 3-way LEFT join onto kept. Left joins never
    # drop a kept row; attrs must not join kept again, since each
    # reference to kept plans the scan and the refine once more.
    attrs = kept.select("catchment_id", "branch_path", "overlap_pct")
    for sat, col in (
        (hydrotables, "csv_path"),
        (rem_rasters, "raster_path"),
        (catchment_rasters, "raster_path"),
    ):
        if sat is not None:
            uniq = f"{col}_{'rem' if sat is rem_rasters else 'cat'}" if col == "raster_path" else col
            attrs = attrs.join(
                sat.withColumnRenamed(col, uniq), "catchment_id", "left"
            )
    attrs = attrs.filter(F.col("catchment_id").isNotNull())
    return kept, attrs, stats


def write_results(kept: DataFrame, attrs: DataFrame, out_dir: str) -> None:
    """S8: per-catchment partitioned output (query_geojson.py:320-334,
    hive layout instead of one flat file per catchment)."""
    kept.write.mode("overwrite").partitionBy("catchment_id").parquet(
        f"{out_dir}/geometries"
    )
    attrs.write.mode("overwrite").partitionBy("catchment_id").parquet(
        f"{out_dir}/attributes"
    )
