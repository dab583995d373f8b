"""Exact ROI intersection + overlap-percentage refinement.

Spark restatement of the reference's two-phase filter:
- coarse phase (query_geojson.py:65-72): here a Catalyst bbox predicate
  + optional partition-cell pruning *before* this operator runs;
- exact phase (query_geojson.py:158-248): this operator — vectorized
  pandas UDFs over Arrow batches computing, per candidate polygon vs
  the broadcast ROI: exact intersects, area, intersection area,
  overlap%, contains/within flags, then the threshold mask
  ``contains | within | overlap_pct >= t`` (query_geojson.py:213-219,
  incl. the zero-area guard :194-196).

The ROI is one small polygon (convex in all reference usage) —
broadcast as plain NumPy; candidates stream through mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from ..geo import polygon as P
from ..geo import wkb


def refine_overlap(
    df: DataFrame,
    spark: SparkSession,
    roi_ring: np.ndarray,
    geometry_col: str = "geometry",
) -> DataFrame:
    """Append exact-refinement columns for each candidate geometry row:
    intersects, area, inter_area, overlap_pct, contains_query,
    within_query. ``roi_ring`` must be in the same CRS as the stored
    geometry (EPSG:5070 in this engine, matching query_geojson.py:105).
    """
    bcast = spark.sparkContext.broadcast(np.asarray(roi_ring, dtype=np.float64))
    out_schema = StructType(
        df.schema.fields
        + [
            StructField("intersects", BooleanType(), False),
            StructField("area", DoubleType(), False),
            StructField("inter_area", DoubleType(), False),
            StructField("overlap_pct", DoubleType(), False),
            StructField("contains_query", BooleanType(), False),
            StructField("within_query", BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        roi = bcast.value
        roi_area = abs(P.ring_area(roi))
        eps = 1e-9
        for pdf in batches:
            n = len(pdf)
            # pack every shell of the batch into ONE flat coords array;
            # all area/clip math below is vectorized across the batch
            # (round-1's per-geometry Python clip loop was the scale
            # bottleneck — VERDICT item 5). Tables built by this engine
            # carry packed coordinates from ingest (union_agg
            # coords_flat) and skip WKB parsing entirely; foreign WKB —
            # or a batch with any null coords_flat (e.g. a manifest dir
            # written before the column existed, read back with
            # allowMissingColumns) — falls back to the header walk.
            if "coords_flat" in pdf.columns and not pdf["coords_flat"].isna().any():
                flats = [
                    np.asarray(a, dtype=np.float64) for a in pdf["coords_flat"]
                ]
                sizes = np.asarray([len(a) // 2 for a in flats], dtype=np.int64)
                coords = (
                    np.concatenate(flats).reshape(-1, 2)
                    if flats
                    else np.zeros((0, 2))
                )
                offsets = np.concatenate([[0], np.cumsum(sizes)])
                shell_row = np.arange(n, dtype=np.int64)
            else:
                coords, offsets, shell_row = wkb.shells_packed(pdf[geometry_col])
            shell_areas = np.abs(P.batch_signed_areas(coords, offsets))
            area = np.bincount(shell_row, weights=shell_areas, minlength=n)
            clipped, c_off = P.batch_clip_convex(coords, offsets, roi)
            clip_areas = np.abs(P.batch_signed_areas(clipped, c_off))
            inter_area = np.bincount(shell_row, weights=clip_areas, minlength=n)
            # for a CONVEX roi, shell ∩ roi != ∅ (closed sets, touch
            # included) iff the Sutherland-Hodgman output is non-empty:
            # boundary-touching vertices survive the >= -eps side tests
            nonempty = (np.diff(c_off) > 0).astype(np.int64)
            inter = np.bincount(shell_row, weights=nonempty, minlength=n) > 0
            contains_q = (
                (inter_area >= roi_area * (1.0 - eps))
                if roi_area > 0
                else np.zeros(n, dtype=bool)
            )
            within_q = (area > 0) & (inter_area >= area * (1.0 - eps))
            # overlap% with zero-area guard (query_geojson.py:194-196)
            with np.errstate(divide="ignore", invalid="ignore"):
                pct = np.where(area > 0, inter_area / np.maximum(area, 1e-300) * 100.0, 0.0)
            yield pdf.assign(
                intersects=inter,
                area=area,
                inter_area=inter_area,
                overlap_pct=pct,
                contains_query=contains_q,
                within_query=within_q,
            )

    return df.mapInPandas(run, schema=out_schema)


def threshold_mask(threshold_pct: float = 10.0) -> Column:
    """The reference's selection mask (query_geojson.py:213-219)."""
    return (
        F.col("contains_query")
        | F.col("within_query")
        | (F.col("overlap_pct") >= F.lit(threshold_pct))
    )


def threshold_filter(df: DataFrame, threshold_pct: float = 10.0) -> DataFrame:
    """Rows passing :func:`threshold_mask`."""
    return df.filter(threshold_mask(threshold_pct))


def overlap_stats(df: DataFrame, threshold_pct: float = 10.0) -> dict:
    """The reference's stats dict (query_geojson.py:206-211,236-246),
    with ``final`` — the rows :func:`threshold_filter` keeps — from the
    same aggregate."""
    row = df.agg(
        F.count(F.lit(1)).alias("initial"),
        F.sum(F.col("contains_query").cast("long")).alias("contains_count"),
        F.sum(F.col("within_query").cast("long")).alias("within_count"),
        F.sum(
            (
                ~F.col("contains_query")
                & ~F.col("within_query")
                & (F.col("overlap_pct") > 0)
            ).cast("long")
        ).alias("overlap_only_count"),
        F.sum(threshold_mask(threshold_pct).cast("long")).alias("final"),
    ).collect()[0]
    return {k: (0 if row[k] is None else int(row[k])) for k in row.asDict()}
