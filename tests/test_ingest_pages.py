"""Flagship ingest pipeline: checkpointed write, lineage, resume,
mid-job crash recovery (SURVEY §5.2 item 4; BASELINE.json:6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hand_index_spark.pipelines.assign_tiles import web_pages_from_documents
from hand_index_spark.pipelines.ingest_pages import ingest_pages
from hand_index_spark.tables.icelite import IceliteTable

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ingest"))
    pages = web_pages_from_documents(spark, SF)
    snaps = ingest_pages(spark, pages, root)
    return root, snaps


def test_ingest_outputs(spark, ingested):
    root, snaps = ingested
    asg = IceliteTable(root, "assignments").read(spark)
    assert asg.count() == 500
    assert {"url", "tile_id", "method", "dist2", "s2_cell", "h3_r5", "h3_r0", "cell_id"} <= set(
        asg.columns
    )
    # partition layout on disk is hive-style by the COARSE cell inside
    # the snapshot-manifest data directory (atomic-publish layout);
    # fine cells stay as columns — a fine partition key explodes into
    # one directory per ~2km cell at scale (measured round 2)
    import os

    t = IceliteTable(root, "assignments")
    snap = t.current_snapshot()
    assert snap["data_paths"], "snapshot must carry a data-path manifest"
    data_dir = os.path.join(root, "assignments", "data", snap["data_paths"][-1])
    parts = [d for d in os.listdir(data_dir) if d.startswith("h3_r0=")]
    assert len(parts) > 5
    roll = IceliteTable(root, "cell_rollup").read(spark)
    assert roll.agg(F.sum("n_pages")).collect()[0][0] == 500


def test_ingest_matches_direct_assignment(spark, ingested):
    root, _ = ingested
    from hand_index_spark.pipelines.assign_tiles import assignments

    asg = (
        IceliteTable(root, "assignments")
        .read(spark)
        .select("url", "tile_id", "method", "dist2")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    direct = (
        assignments(spark, SF)
        .select("url", "tile_id", "method", "dist2")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    # salting + partitioned write must not change assignments
    assert asg.equals(direct)


def test_ingest_resume_noop(spark, ingested):
    root, _ = ingested
    t = IceliteTable(root, "assignments")
    n_before = len(t.snapshots())
    snaps = ingest_pages(spark, web_pages_from_documents(spark, SF), root)
    assert snaps == {}  # both stages already committed
    assert len(t.snapshots()) == n_before


def test_ingest_lineage_coverage(spark, ingested):
    root, _ = ingested
    t = IceliteTable(root, "assignments")
    lin = t.lineage(spark).toPandas()
    assert lin.row_count.sum() == 500
    assert (lin.cell_min <= lin.cell_max).all()
    snap = t.current_snapshot()
    assert snap["row_count"] == 500 and len(snap["checksum"]) == 16


def test_icelite_atomic_publish(spark, tmp_path):
    """Readers resolve data through the snapshot manifest: an overwrite
    replaces the visible set atomically; append extends it; prior data
    dirs stay on disk for time-travel."""
    t = IceliteTable(str(tmp_path), "tbl")
    t.write(spark.range(10).withColumnRenamed("id", "v"), stage="s1", fingerprint="a")
    t.write(spark.range(5).withColumnRenamed("id", "v"), stage="s2", fingerprint="b")
    assert t.read(spark).count() == 5  # overwrite: only the new snapshot
    t.write(
        spark.range(7).withColumnRenamed("id", "v"),
        stage="s3",
        fingerprint="c",
        mode="append",
    )
    assert t.read(spark).count() == 12  # append: union of manifest dirs
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [0, 1, 2]
    assert snaps[2]["parent_id"] == 1
    assert len(snaps[2]["data_paths"]) == 2
    # every committed snapshot's checksum describes the written bytes
    assert all(len(s["checksum"]) == 16 for s in snaps)


def test_icelite_time_travel_and_vacuum(spark, tmp_path):
    t = IceliteTable(str(tmp_path), "tbl")
    t.write(spark.range(10).withColumnRenamed("id", "v"), stage="s1", fingerprint="a")
    t.write(spark.range(5).withColumnRenamed("id", "v"), stage="s2", fingerprint="b")
    t.write(spark.range(3).withColumnRenamed("id", "v"), stage="s3", fingerprint="c")
    # time travel reads any historical snapshot
    assert t.read_snapshot(spark, 0).count() == 10
    assert t.read_snapshot(spark, 1).count() == 5
    assert t.read(spark).count() == 3
    res = t.vacuum(keep_last=2)
    assert res["expired_snapshots"] == [0]
    assert len(res["removed_dirs"]) == 1  # snapshot 0's orphaned data dir
    # survivors still readable after vacuum
    assert t.read_snapshot(spark, 1).count() == 5
    assert t.read(spark).count() == 3
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read_snapshot(spark, 0)


def test_icelite_crash_debris_is_invisible(spark, tmp_path):
    """A write that dies before the pointer swap leaves only an
    unreferenced data dir: readers never see it, vacuum removes it,
    and later writes are unaffected."""
    import os

    t = IceliteTable(str(tmp_path), "tbl")
    t.write(spark.range(10).withColumnRenamed("id", "v"), stage="s1", fingerprint="a")
    # simulate a crashed writer: a half-written data dir, no snapshot
    debris = os.path.join(t.data_dir, "d-deadbeefcrashed")
    os.makedirs(debris)
    spark.range(99).write.mode("overwrite").parquet(os.path.join(debris, "part"))
    assert t.read(spark).count() == 10  # manifest isolation
    t.write(spark.range(4).withColumnRenamed("id", "v"), stage="s2", fingerprint="b")
    assert t.read(spark).count() == 4
    res = t.vacuum(keep_last=1)
    assert "d-deadbeefcrashed" in res["removed_dirs"]
    assert t.read(spark).count() == 4


def test_salting_bounds_partition_skew(spark):
    """Deterministic skew proof (no wall-clock): one hot cell holding
    half the rows must spread across salt_buckets shuffle partitions."""
    import pyspark.sql.functions as F

    from hand_index_spark.operators.skew import salted_repartition

    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id") % 64).alias(
            "cell_id"
        ),
        F.col("id").cast("string").alias("url"),
    )
    parts = 16

    def max_part(d):
        sizes = (
            d.withColumn("p", F.spark_partition_id())
            .groupBy("p").count().agg(F.max("count")).collect()[0][0]
        )
        return sizes

    unsalted = df.repartition(parts, F.col("cell_id"))
    salted = salted_repartition(
        df, parts, cell_col="cell_id", salt_key="url", salt_buckets=8, hot_cells=[7]
    )
    m_un, m_sa = max_part(unsalted), max_part(salted)
    # hot cell = 10k rows lands in ONE unsalted partition; salting
    # spreads it over 8 buckets (the max salted partition also absorbs
    # hash-colliding cold cells, so assert a conservative 3x reduction)
    assert m_un >= n // 2
    assert m_sa <= m_un // 3
    # and the DATA is unchanged
    assert salted.agg(F.sum("doc_id")).collect()[0][0] == df.agg(
        F.sum("doc_id")
    ).collect()[0][0]


def _cells_per_partition(df):
    """{cell_id: number of Spark partitions holding it}."""
    rows = (
        df.withColumn("p", F.spark_partition_id())
        .groupBy("cell_id")
        .agg(F.countDistinct("p").alias("n"))
        .collect()
    )
    return {r.cell_id: r.n for r in rows}


def test_salted_repartition_fans_out_only_hot_cells(spark):
    from hand_index_spark.operators.skew import salted_repartition

    df = spark.range(4000).select(
        (F.col("id") % 16).alias("cell_id"),
        F.col("id").cast("string").alias("url"),
    )
    # an empty hot list salts no cell: each stays in one partition
    none_hot = _cells_per_partition(salted_repartition(df, 16, hot_cells=[]))
    assert set(none_hot.values()) == {1}
    one_hot = _cells_per_partition(salted_repartition(df, 16, hot_cells=[3]))
    assert one_hot.pop(3) > 1
    assert set(one_hot.values()) == {1}


def test_detect_hot_cells_is_reproducible(spark):
    """A sampled sketch cuts the same hot list on every call."""
    from hand_index_spark.operators.skew import detect_hot_cells

    df = spark.range(200000).select(
        F.pmod(F.xxhash64("id"), F.lit(1500)).alias("cell_id")
    )
    runs = [detect_hot_cells(df, quantile=0.99, sample_fraction=0.1) for _ in range(3)]
    assert runs[0] and runs[0] == runs[1] == runs[2]


def _files_per_dir(root: str) -> dict[str, int]:
    """{h3_r0 value: parquet files} in the current assignments snapshot."""
    import glob
    import os

    snap = IceliteTable(root, "assignments").current_snapshot()
    data = os.path.join(root, "assignments", "data", snap["data_paths"][-1])
    dirs = [d for d in os.listdir(data) if d.startswith("h3_r0=")]
    return {
        d.split("=", 1)[1]: len(glob.glob(f"{data}/{d}/*.parquet")) for d in dirs
    }


@pytest.fixture(scope="module")
def one_page_per_cell(spark):
    """(h3_r0, doc_id): the lowest doc id in each res-0 cell the geotag
    reaches (~1.5k cells), collected so every use sees the same rows."""
    from hand_index_spark.geo import cells as h3lite
    from hand_index_spark.operators import encode as E
    from hand_index_spark.pipelines.ingest_pages import PARTITION_COL, PARTITION_RES

    geo = E.with_geotag(spark.range(20000).withColumnRenamed("id", "doc_id"))
    cell = h3lite.encode_col("lat", "lon", PARTITION_RES)
    rows = geo.groupBy(cell.alias(PARTITION_COL)).agg(F.min("doc_id")).collect()
    return sorted((int(c), int(d)) for c, d in rows)


def _pages(spark, doc_ids, copies: int):
    """``copies`` pages per doc id, told apart by url; a page's cell
    follows from its doc id, its salt from its url."""
    ids = spark.createDataFrame([(d,) for d in doc_ids], "doc_id long")
    return ids.crossJoin(spark.range(copies).withColumnRenamed("id", "k")).select(
        "doc_id", F.format_string("https://u%d.example/%d", "doc_id", "k").alias("url")
    )


def test_ingest_writes_one_file_per_cell(spark, one_page_per_cell, tmp_path):
    """Uniform pages (no hot cell): 8 pages in each of 40 cells give
    exactly one file per h3_r0 directory. Under 100 sampled cells the
    0.99 cut is the largest count, so no cell can be flagged hot."""
    root = str(tmp_path / "uniform")
    ingest_pages(spark, _pages(spark, [d for _, d in one_page_per_cell[:40]], 8), root)
    files = _files_per_dir(root)
    assert len(files) == 40
    assert set(files.values()) == {1}


def test_ingest_fans_out_planted_hot_cell(spark, one_page_per_cell, tmp_path):
    """One page in each res-0 cell plus 2,000 more in one planted cell:
    only the planted cell's directory holds more than one file."""
    (hot, hot_doc), *cold = one_page_per_cell
    pages = _pages(spark, [d for _, d in cold], 1).unionByName(
        _pages(spark, [hot_doc], 2000)
    )
    root = str(tmp_path / "planted")
    ingest_pages(spark, pages, root)
    files = _files_per_dir(root)
    assert files.pop(str(hot)) > 1
    assert len(files) > 1000 and set(files.values()) == {1}


def test_ingest_mid_job_resume(spark, tmp_path):
    """Crash after stage 1 -> rerun completes only stage 2."""
    root = str(tmp_path / "resume")
    pages = web_pages_from_documents(spark, SF)
    # run stage 1 only by building a table and marking it committed
    from hand_index_spark.pipelines import ingest_pages as IP

    snaps1 = IP.ingest_pages(spark, pages, root)
    assert set(snaps1) == {"assign", "rollup"}
    # delete the rollup table to simulate a crash before stage 2 commit
    import shutil

    shutil.rmtree(f"{root}/cell_rollup")
    snaps2 = IP.ingest_pages(spark, pages, root)
    assert set(snaps2) == {"rollup"}  # assign skipped, rollup redone
