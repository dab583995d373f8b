"""Index-build pipeline — the reference's `load.py` restated Spark-first.

Reference flow (load.py:24-301, SURVEY.md §3.1): glob scan -> branch
dedup -> per-branch geometry union + simplify -> centroid -> H3 key ->
asset joins on path regex -> hive-partitioned parquet export.

Spark flow (one linear DAG, two shuffles: the branch-union groupBy and
the final repartition on the partition cell):

1. ``tiles_raw`` manifest DataFrame (geom WKB EPSG:5070, branch_path,
   src_file)
2. P4 path filter: keep '/branches/', drop '_pixels_' (load.py:80)
3. J7 window dedup: first source file per branch (load.py:76-88)
4. A1 grouped-map union + F9 simplify@100m (load.py:146-159)
5. F7/F8/F10: centroid -> Albers inverse -> lon/lat -> multi-res cells
   (pandas UDF; load.py:164-168 computed one res, north rule wants 5-9)
6. F3': deterministic catchment_id = sha2(branch_path) (replaces
   uuid(), load.py:161 — exact-match gate needs determinism)
7. J2-J4: asset tables from the file manifest via regexp_extract +
   broadcast join against the catchment dim (load.py:206-253)
8. S6/S7: icelite writes — catchments partitioned by the coarse cell
   (load.py:279-283), satellites unpartitioned — with per-partition
   lineage rows and snapshot commits (north rule, BASELINE.json:6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from ..geo import albers
from ..geo import cells as h3lite
from ..operators.union_agg import union_branches
from ..tables.icelite import IceliteTable

CATCHMENT_PARTITION_RES = 0  # ~1 deg cells; coarse like the reference default


@pandas_udf(
    StructType(
        [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
    )
)
def _albers_inv(x: pd.Series, y: pd.Series) -> pd.DataFrame:
    lon, lat = albers.inverse(x.to_numpy(np.float64), y.to_numpy(np.float64))
    return pd.DataFrame({"lon": lon, "lat": lat})


def build_catchments(
    tiles_raw: DataFrame,
    simplify_tol: float = 100.0,
    partition_res: int = CATCHMENT_PARTITION_RES,
) -> DataFrame:
    """Steps 2-6: raw sub-polygons -> catchment dimension rows.

    ``partition_res`` is the reference's --h3-resolution knob
    (load.py:314): the resolution of the hive-partition cell column.
    """
    src = tiles_raw.filter(
        F.col("src_file").contains("/branches/")
        & ~F.col("src_file").contains("_pixels_")
    )
    w = Window.partitionBy("branch_path").orderBy("src_file")
    first_file = (
        src.select("branch_path", "src_file")
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("branch_path", "src_file")
    )
    deduped = src.join(F.broadcast(first_file), ["branch_path", "src_file"])
    merged = union_branches(deduped, simplify_tol=simplify_tol)
    ll = _albers_inv(F.col("cx"), F.col("cy"))
    merged = merged.withColumns({"lon": ll["lon"], "lat": ll["lat"]})
    cells = {f"h3_r{res}": h3lite.encode_col("lat", "lon", res) for res in (5, 6, 7, 8, 9)}
    cells["h3_index"] = h3lite.encode_col("lat", "lon", partition_res)
    merged = merged.withColumns(cells)
    return (
        merged.withColumn("catchment_id", F.sha2(F.col("branch_path"), 256))
        .withColumn("hand_version_id", F.lit("fim100"))
        .withColumn(
            "bbox",
            F.struct(
                F.col("xmin").alias("xmin"),
                F.col("ymin").alias("ymin"),
                F.col("xmax").alias("xmax"),
                F.col("ymax").alias("ymax"),
            ),
        )
        .select(
            "catchment_id",
            "hand_version_id",
            "geometry",
            "coords_flat",
            "bbox",
            "h3_index",
            "h3_r5",
            "h3_r6",
            "h3_r7",
            "h3_r8",
            "h3_r9",
            "branch_path",
            "geom_count",
        )
    )


_BRANCH_RE = r"(.*/branches/[^/]+/)"
# --calb layout: branch dir is the immediate parent, no /branches/
# segment (reference load.py:208-216)
_CALB_BRANCH_RE = r"(.*/[^/]+/)"


def _asset_join(
    manifest: DataFrame,
    catchments: DataFrame,
    pattern: str,
    out_col: str,
    calb: bool = False,
) -> DataFrame:
    """J2-J4: glob-shaped filter + regexp branch key + broadcast join
    + DISTINCT (load.py:206-253); ``calb`` switches the branch regexp
    (load.py:208-216)."""
    files = manifest.filter(F.col("file").rlike(pattern)).withColumn(
        "branch_path",
        F.regexp_extract(F.col("file"), _CALB_BRANCH_RE if calb else _BRANCH_RE, 1),
    )
    dim = catchments.select("catchment_id", "branch_path")
    return (
        files.join(F.broadcast(dim), "branch_path")
        .select("catchment_id", F.col("file").alias(out_col))
        .distinct()
    )


def build_index(
    spark: SparkSession,
    tiles_raw: DataFrame,
    file_manifest: DataFrame,
    out_root: str,
    simplify_tol: float = 100.0,
    partition_res: int = CATCHMENT_PARTITION_RES,
    calb: bool = False,
    input_fingerprint: str = "synthetic",
) -> dict:
    """Full build: returns {table_name: snapshot_meta}. Stages already
    committed for the same fingerprint are skipped (idempotent resume).

    The fingerprint covers EVERY build parameter (partition res, calb,
    simplify tolerance) plus the caller-supplied input identity, so
    rebuilding with any different knob or input actually rebuilds
    instead of silently no-opping against a stale index."""
    fp = (
        f"v1-r{partition_res}-{'calb' if calb else 'std'}"
        f"-tol{simplify_tol!r}-in:{input_fingerprint}"
    )
    snaps: dict[str, dict] = {}

    cat_table = IceliteTable(out_root, "catchments")
    if not cat_table.stage_done("build_catchments", fp):
        catchments = build_catchments(tiles_raw, simplify_tol, partition_res)
        # explicit shuffle on the partition cell before the partitioned
        # write (north rule: shuffles keyed on cell ids)
        catchments = catchments.repartition("h3_index")
        snaps["catchments"] = cat_table.write(
            catchments,
            partition_by=["h3_index"],
            stage="build_catchments",
            fingerprint=fp,
            lineage_key="h3_r5",
        )
    catchments = cat_table.read(spark)

    specs = [
        ("hydrotables", r".*hydroTable.*\.csv$", "csv_path"),
        ("rem_rasters", r".*rem_zeroed.*\.tif$", "raster_path"),
        ("catchment_rasters", r".*gw_catchments_reaches.*\.tif$", "raster_path"),
    ]
    for name, pattern, out_col in specs:
        t = IceliteTable(out_root, name)
        if not t.stage_done(f"build_{name}", fp):
            df = _asset_join(file_manifest, catchments, pattern, out_col, calb=calb)
            snaps[name] = t.write(
                df, stage=f"build_{name}", fingerprint=fp, lineage_key=None
            )
    return snaps
