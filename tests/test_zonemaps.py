"""icelite zone maps: per-file min/max stats + file skipping on a
non-partition column (what hive directory layout alone cannot prune)."""

import pytest
from pyspark.sql import functions as F

from hand_index_spark.tables.icelite import IceliteTable


def _table(spark, tmp_path, n=100_000, files=16):
    t = IceliteTable(str(tmp_path), "zm")
    df = (
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(files, "k")
    )
    t.write(df, stats_cols=["k"])
    return t


def test_pruning_skips_files_and_matches_full_scan(spark, tmp_path):
    t = _table(spark, tmp_path)
    files, total = t.pruned_files(spark, "k", 1000, 1999)
    assert total == 16
    assert 1 <= len(files) <= 2  # range-clustered layout -> ~1 file
    got = t.read_pruned(spark, "k", 1000, 1999)
    full = t.read(spark).filter(F.col("k").between(1000, 1999))
    assert got.count() == 1000
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in full.collect()
    )
    # the pruned plan really reads fewer files
    assert len(got.inputFiles()) < len(t.read(spark).inputFiles())


def test_empty_range_returns_no_rows(spark, tmp_path):
    t = _table(spark, tmp_path, n=1000, files=4)
    files, total = t.pruned_files(spark, "k", 10_000_000, 20_000_000)
    assert files == [] and total == 4
    assert t.read_pruned(spark, "k", 10_000_000, 20_000_000).count() == 0


def test_append_accumulates_zonemaps(spark, tmp_path):
    t = IceliteTable(str(tmp_path), "zm")
    a = spark.range(0, 1000).select(F.col("id").alias("k"))
    b = spark.range(5000, 6000).select(F.col("id").alias("k"))
    t.write(a.repartitionByRange(2, "k"), stats_cols=["k"])
    t.write(b.repartitionByRange(2, "k"), stats_cols=["k"], mode="append")
    files, total = t.pruned_files(spark, "k", 5000, 5100)
    assert total == 4 and len(files) == 1
    assert t.read_pruned(spark, "k", 5000, 5100).count() == 101
    # full read still sees both writes
    assert t.read(spark).count() == 2000


def test_partitioned_write_keeps_partition_column(spark, tmp_path):
    t = IceliteTable(str(tmp_path), "zmp")
    df = spark.range(1000).select(
        (F.col("id") % 4).alias("p"), F.col("id").alias("k")
    )
    t.write(df, partition_by=["p"], stats_cols=["k"])
    got = t.read_pruned(spark, "k", 100, 199)
    assert "p" in got.columns  # basePath pinned -> hive column recovered
    assert got.count() == 100
    assert got.agg(F.countDistinct("p")).collect()[0][0] == 4


def test_missing_stats_col_raises(spark, tmp_path):
    t = _table(spark, tmp_path, n=100, files=2)
    with pytest.raises(ValueError, match="no zone maps for column"):
        t.pruned_files(spark, "v", 0, 10)

# ---------------------------------------------------------------- Z-order


def test_zorder_key_matches_python_reference(spark):
    from hand_index_spark.operators.zorder import zorder_key

    def py_spread(x):
        x &= 0xFFFF
        for sh, m in [
            (8, 0x00FF00FF),
            (4, 0x0F0F0F0F),
            (2, 0x33333333),
            (1, 0x55555555),
        ]:
            x = (x | (x << sh)) & m
        return x

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    rows = df.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("zk")).collect()
    assert all(r["zk"] == (py_spread(r["x"]) | py_spread(r["y"]) << 1) for r in rows)
    # edge: max 16-bit inputs interleave to the max 32-bit key
    one = spark.range(1).select(
        zorder_key(F.lit(0xFFFF), F.lit(0xFFFF)).alias("zk")
    ).collect()[0]["zk"]
    assert one == 0xFFFFFFFF


def test_zorder_prunes_second_column_where_linear_sort_cannot(spark, tmp_path):
    """The Iceberg ZORDER claim, measured: a predicate on y ONLY. An
    x-range-partitioned layout cannot skip anything (every file spans
    all y); the Z-order layout confines a 32-row y-stripe to the files
    whose Morton blocks intersect it."""
    from hand_index_spark.operators.zorder import cluster_zorder

    side, files = 512, 16
    n = side * side  # square power-of-two grid: 16 files ~ one aligned
    # 128x128 Morton block each, so a y-stripe inside one quadrant
    # touches ~4 blocks; non-square regions smear blocks across files
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
    )
    lin = IceliteTable(str(tmp_path), "linear")
    lin.write(df.repartitionByRange(files, "x"), stats_cols=["x", "y"])
    zo = IceliteTable(str(tmp_path), "zorder")
    zo.write(cluster_zorder(df, "x", "y", files), stats_cols=["x", "y"])

    preds = [("y", 64, 95)]
    lin_files, lin_total = lin.pruned_files_multi(spark, preds)
    zo_files, zo_total = zo.pruned_files_multi(spark, preds)
    assert lin_total == zo_total == files
    assert len(lin_files) == files  # x-sort: zero skipping on y
    assert len(zo_files) <= files // 2  # z-order: most files skipped

    # both layouts return the exact same rows as a full scan + filter
    expect = sorted(
        r["doc_id"]
        for r in df.filter(F.col("y").between(64, 95)).collect()
    )
    got = sorted(
        r["doc_id"] for r in zo.read_pruned_multi(spark, preds).collect()
    )
    assert got == expect


def test_optimize_zorder_rewrites_in_place(spark, tmp_path):
    from hand_index_spark.operators.zorder import zorder_key  # noqa: F401

    t = IceliteTable(str(tmp_path), "opt")
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("long").alias("y"),
    )
    t.write(df.repartition(4), stage="ingest")  # unclustered, no stats
    t.optimize_zorder(spark, "x", "y", n_files=8)
    # row set identical after the rewrite
    assert t.read(spark).count() == 10_000
    assert (
        t.read(spark).agg(F.sum("doc_id")).collect()[0][0]
        == df.agg(F.sum("doc_id")).collect()[0][0]
    )
    # and the new snapshot prunes a 2-D box
    fs, total = t.pruned_files_multi(spark, [("x", 0, 24), ("y", 0, 24)])
    assert total == 8 and len(fs) < 8
    assert (
        t.read_pruned_multi(spark, [("x", 0, 24), ("y", 0, 24)]).count()
        == 25 * 25
    )


def test_compaction_preserves_zonemaps(spark, tmp_path):
    t = _table(spark, tmp_path, n=10_000, files=8)
    t.write(
        spark.range(20_000, 21_000)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartitionByRange(2, "k"),
        stats_cols=["k"],
        mode="append",
    )
    t.compact(spark, target_files=4)
    files, total = t.pruned_files(spark, "k", 20_000, 20_499)
    assert total <= 4 and len(files) < total
    assert t.read_pruned(spark, "k", 20_000, 20_499).count() == 500


# ------------------------------------------------- files without stats


def test_pruned_read_keeps_files_written_without_stats(spark, tmp_path):
    """A file whose write recorded no zone map for a column can never be
    pruned on it: appending stats on a new column, or appending onto a
    write that had no stats at all, must not hide the older rows."""
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(1000, 2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))

    t = IceliteTable(str(tmp_path), "newcol")
    t.write(a.repartition(2), stats_cols=["k"])
    t.write(b.repartition(2), stats_cols=["k", "v"], mode="append")
    preds = [("k", 0, 1999), ("v", 0, 4000)]
    full = t.read(spark).filter(
        F.col("k").between(0, 1999) & F.col("v").between(0, 4000)
    )
    assert full.count() == 2000
    assert t.read_pruned_multi(spark, preds).count() == 2000

    u = IceliteTable(str(tmp_path), "nostats")
    u.write(a.repartition(2))
    u.write(b.repartitionByRange(2, "k"), stats_cols=["k"], mode="append")
    files, total = u.pruned_files(spark, "k", 500, 1200)
    assert total == 4 and len(files) == 3  # b's upper file is skipped
    assert u.read_pruned(spark, "k", 500, 1200).count() == 701


# ------------------------------------------- driver-side range pruning


def test_driver_side_pruning_edge_values(spark, tmp_path):
    """Pruning runs on the driver from the manifest and must agree with
    Spark's own BETWEEN: NaN sorts above every number (and equals
    itself), NULLs never match, and a file whose stats column is all
    NULL cannot match at all."""
    nan = float("nan")
    rows = [
        (0, 1.0, "apple"), (0, nan, "banana"), (0, None, None),
        (1, None, "cherry"), (1, None, "date"),  # x all NULL
        (2, 5.0, "fig"), (2, -3.5, "Zebra"),
    ]
    df = spark.createDataFrame(rows, "f int, x double, s string")
    t = IceliteTable(str(tmp_path), "edge")
    t.write(df.repartition("f"), partition_by=["f"], stats_cols=["x", "s"])

    def rows_of(d):
        return sorted(str(r) for r in d.select("f", "x", "s").collect())

    for col, lo, hi in [
        ("x", 0, 2), ("x", 2, nan), ("x", nan, nan), ("x", -10, -1.0),
        ("x", 100, 200), ("x", -1e308, 1e308),
        ("s", "a", "c"), ("s", "Z", "Zz"), ("s", "g", "z"),
    ]:
        want = rows_of(t.read(spark).filter(F.col(col).between(lo, hi)))
        assert rows_of(t.read_pruned(spark, col, lo, hi)) == want, (col, lo, hi)

    files, total = t.pruned_files(spark, "x", -1e308, 1e308)
    assert total == 3 and not any("f=1/" in p for p in files)
    files, _ = t.pruned_files(spark, "x", nan, nan)
    assert len(files) == 1 and "f=0/" in files[0]


def test_stats_col_of_inexact_type_is_refused(spark, tmp_path):
    t = IceliteTable(str(tmp_path), "dates")
    df = spark.range(3).select(F.col("id").alias("k"), F.current_date().alias("d"))
    with pytest.raises(ValueError, match="integer, floating or string"):
        t.write(df, stats_cols=["d"])
    assert t.current_snapshot() is None
