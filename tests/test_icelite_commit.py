"""icelite commit: one pass over the committed files gives lineage, zone
maps and the snapshot summary, at the grain of the files themselves."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from hand_index_spark.tables.icelite import IceliteTable


def test_lineage_grain_is_the_committed_files(spark, tmp_path):
    """One lineage row per committed file, whatever the read's split
    packing: the same 40-file table gives identical lineage rows and an
    identical snapshot summary with 1 and with 4 minimum read splits."""
    df = spark.range(1000).select(
        (F.col("id") % 40).alias("cell"), F.col("id").alias("v")
    ).repartition(4, "cell")  # one file per cell dir
    snaps, lineages = [], []
    try:
        for n in (1, 4):
            spark.conf.set("spark.sql.files.minPartitionNum", str(n))
            t = IceliteTable(str(tmp_path), f"split{n}")
            snaps.append(t.write(df, partition_by=["cell"]))
            lineages.append(t.lineage(spark).collect())
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")

    def grain(rows):
        return sorted(
            (r.partition_id, r.cell_min, r.cell_max, r.row_count, r.checksum, r.stage)
            for r in rows
        )

    assert grain(lineages[0]) == grain(lineages[1])
    for rows, snap in zip(lineages, snaps):
        assert len(rows) == 40 == snap["n_partitions"] == len(snap["files"])
        for r in rows:
            assert r.cell_min == r.cell_max and f"/cell={r.cell_min}/" in r.file
        assert {r.cell_min for r in rows} == set(range(40))
    a, b = snaps
    assert (a["row_count"], a["checksum"]) == (b["row_count"], b["checksum"])


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"icelite-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_job_count_does_not_grow(spark, tmp_path):
    """Zone maps ride the lineage pass (no extra job), an append never
    re-reads the table's history, and pruning plans on the driver."""
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartition(4)
    plain = IceliteTable(str(tmp_path), "plain")
    stats = IceliteTable(str(tmp_path), "stats")
    assert _jobs(spark, lambda: stats.write(df, stats_cols=["k", "v"])) <= _jobs(
        spark, lambda: plain.write(df)
    )

    t = IceliteTable(str(tmp_path), "appends")
    counts = [
        _jobs(spark, lambda: t.write(df, stats_cols=["k"], mode="append"))
        for _ in range(10)
    ]
    assert counts[-1] <= counts[0], counts
    assert len(t.current_snapshot()["files"]) == 40  # carried forward
    assert t.read(spark).count() == 20_000
    assert _jobs(spark, lambda: t.pruned_files(spark, "k", 0, 10)) == 0
    assert _jobs(spark, lambda: t.pruned_files_multi(spark, [("k", 0, 10)])) == 0
