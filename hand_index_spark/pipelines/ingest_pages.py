"""Web-page ingest pipeline: the flagship path with checkpoints.

The production shape of BASELINE.json's north rule: a (possibly huge)
web-page table flows through geotag -> multi-res cells -> fused
PIP/kNN/S2 assignment -> hot-cell detection -> salted explicit
repartition on the cell key -> hive-partitioned icelite write with
per-partition lineage rows, resumable mid-job.

Stage graph (each stage = one icelite snapshot, skipped on resume):

  stage "assign":   pages -> assignments table (partitioned by h3_r0,
                    the coarse key — ~1.5k dirs; fine cells stay
                    columns for row-group pruning)
  stage "rollup":   per-cell/method histogram (the skew sketch, also
                    the operational metric table)

Shuffle count: exactly one (the salted repartition before the
partitioned write); assignment itself is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo import cells as h3lite
from ..operators import assign as A
from ..operators import encode as E
from ..operators.skew import detect_hot_cells, salted_repartition
from ..tables.icelite import IceliteTable

# Hive-partition the assignments on a COARSE cell. Round-2 lesson,
# measured: partitioning point data by h3_r5 creates up to one
# directory per ~2x2 km cell — a 2M-row ingest exploded into ~10^6
# tiny files and could not finish; res 0 (~1 degree) yields O(1500)
# CONUS partitions, each a healthy parquet file at any scale. The
# fine-grained r5-r9 cells remain ordinary COLUMNS (predicate pushdown
# still prunes on them via row-group stats); only the directory layout
# must stay coarse — exactly the reference's coarse --h3-resolution
# default (load.py:314).
PARTITION_COL = "h3_r0"
PARTITION_RES = 0


def ingest_pages(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    fingerprint: str = "v1",
    num_partitions: int | None = None,
    salt_buckets: int = 8,
) -> dict:
    """Run (or resume) the ingest. ``pages`` needs (url, doc_id, text?);
    returns {stage: snapshot}."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    snaps: dict[str, dict] = {}

    asg_table = IceliteTable(out_root, "assignments")
    if not asg_table.stage_done("assign", fingerprint):
        df = E.with_geotag(pages)
        df = E.with_cells(df)
        df = df.withColumn(
            PARTITION_COL,
            h3lite.encode_col("lat", "lon", PARTITION_RES),
        )
        # skew sketch BEFORE the assignment UDF: the cell key exists
        # already, and sampling a post-UDF frame still executes the UDF
        # for every row — detecting first saves one full Python pass
        # over the corpus (measured on the 2M-row stress)
        hot = detect_hot_cells(df, PARTITION_COL, quantile=0.99, sample_fraction=0.1)
        df = A.assign_tiles(df, spark, pip="convex", with_s2=True)
        df = salted_repartition(
            df,
            num_partitions,
            cell_col=PARTITION_COL,
            salt_key="url",
            salt_buckets=salt_buckets,
            hot_cells=hot,
        )
        snaps["assign"] = asg_table.write(
            df,
            partition_by=[PARTITION_COL],
            stage="assign",
            fingerprint=fingerprint,
            lineage_key="cell_id",
        )

    roll_table = IceliteTable(out_root, "cell_rollup")
    if not roll_table.stage_done("rollup", fingerprint):
        asg = asg_table.read(spark)
        roll = asg.groupBy(PARTITION_COL, "tile_id", "method").agg(
            F.count(F.lit(1)).alias("n_pages")
        )
        snaps["rollup"] = roll_table.write(
            roll, stage="rollup", fingerprint=fingerprint, lineage_key=PARTITION_COL
        )
    return snaps
