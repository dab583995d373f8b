"""End-to-end pipeline tests: index build -> icelite tables -> ROI
queries with engineered golden outcomes (SURVEY.md §5.2 items 3-4)."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from hand_index_spark.geo import albers, polygon as P
from hand_index_spark.pipelines.build_index import build_index
from hand_index_spark.pipelines.query_roi import roi_query, write_results
from hand_index_spark.tables import datagen, tilegrid as tg
from hand_index_spark.tables.icelite import IceliteTable


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("icelite"))
    snaps = build_index(
        spark, datagen.tiles_raw(spark), datagen.file_manifest(spark), root
    )
    return root, snaps


def test_build_index_tables(spark, index_root):
    root, snaps = index_root
    cat = IceliteTable(root, "catchments").read(spark)
    n_branches = len(datagen.branch_quads_5070())
    assert cat.count() == n_branches
    row = cat.first()
    assert len(row.catchment_id) == 64  # sha2 hex
    assert row.hand_version_id == "fim100"
    # deterministic id
    import hashlib

    assert (
        hashlib.sha256(row.branch_path.encode()).hexdigest() == row.catchment_id
    )
    hydro = IceliteTable(root, "hydrotables").read(spark)
    assert hydro.count() >= n_branches  # 1-3 per branch
    rem = IceliteTable(root, "rem_rasters").read(spark)
    missing = n_branches - rem.count()
    assert missing > 0  # deterministic gaps exercise left-join nulls


def test_icelite_lineage_and_resume(spark, index_root):
    root, snaps = index_root
    t = IceliteTable(root, "catchments")
    snap = t.current_snapshot()
    assert snap["stage"] == "build_catchments"
    lin = t.lineage(spark).toPandas()
    assert {"stage", "partition_id", "cell_min", "cell_max", "row_count", "checksum", "snapshot_id"} <= set(lin.columns)
    assert lin.row_count.sum() == t.read(spark).count()
    # resume: a second build is a no-op (no new snapshots)
    n_before = len(t.snapshots())
    build_index(spark, datagen.tiles_raw(spark), datagen.file_manifest(spark), root)
    assert len(t.snapshots()) == n_before


def test_catchment_centroid_h3_consistency(spark, index_root):
    """centroid (5070) -> albers inverse -> cell must equal stored key."""
    from hand_index_spark.geo import cells as h3lite
    from hand_index_spark.geo import wkb

    root, _ = index_root
    cat = IceliteTable(root, "catchments").read(spark).limit(20).collect()
    for row in cat:
        _, rings = wkb.parse_wkb(bytes(row.geometry))
        cx, cy = P.ring_centroid(rings[0])
        lon, lat = albers.inverse(np.array([cx]), np.array([cy]))
        assert int(h3lite.encode(lat, lon, 5)[0]) == row.h3_r5


def _roi(spark, index_root, kind, threshold=10.0):
    root, _ = index_root
    cat = IceliteTable(root, "catchments").read(spark)
    hydro = IceliteTable(root, "hydrotables").read(spark)
    rem = IceliteTable(root, "rem_rasters").read(spark)
    crs = IceliteTable(root, "catchment_rasters").read(spark)
    return roi_query(
        spark, cat, datagen.roi_geojson(kind), hydro, rem, crs,
        overlap_threshold_pct=threshold,
    )


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_roi_query_plan_pins(spark, index_root):
    """attrs reads the one refine of kept (a single Python stage), and
    kept's scan still prunes on the partition column."""
    kept, attrs, _ = _roi(spark, index_root, "within")
    assert _executed_plan(attrs).count("MapInPandas") == 1
    assert "PartitionFilters: [h3_index" in _executed_plan(kept)


def test_roi_query_construction_round_trips(spark, index_root, jvm_commands):
    """Building an ROI query's plans costs a bounded number of JVM calls
    (332 here; 2,379 when the partition IN-list took ~4 calls per cell):
    the IN-list is one SQL text, and the scan still prunes on it."""
    root, _ = index_root
    cat = IceliteTable(root, "catchments").read(spark)
    roi = datagen.roi_geojson("within")
    roi_query(spark, cat, roi, collect_stats=False)
    with jvm_commands() as n:
        kept, _, _ = roi_query(spark, cat, roi, collect_stats=False)
    assert n[0] < 600, n[0]
    assert "PartitionFilters: [h3_index" in _executed_plan(kept)


@pytest.mark.parametrize("kind", ["within", "partial"])
def test_roi_attrs_and_stats_match_keep_set(spark, index_root, kind):
    """attrs equals the left-semi keep-set construction it replaced, and
    the one-pass stats agree with kept."""
    root, _ = index_root
    kept, attrs, stats = _roi(spark, index_root, kind)
    n_kept = kept.count()
    assert stats["final"] == n_kept > 0
    assert stats["removed"] == stats["initial"] - stats["final"]

    old = kept.select("catchment_id", "branch_path", "overlap_pct")
    sats = [
        (IceliteTable(root, "hydrotables").read(spark), "csv_path", "csv_path"),
        (IceliteTable(root, "rem_rasters").read(spark), "raster_path", "raster_path_rem"),
        (IceliteTable(root, "catchment_rasters").read(spark), "raster_path", "raster_path_cat"),
    ]
    for sat, col, uniq in sats:
        old = old.join(sat.withColumnRenamed(col, uniq), "catchment_id", "left")
    old = old.join(kept.select("catchment_id"), "catchment_id", "left_semi")
    assert attrs.columns == old.columns

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    assert rows(attrs) == rows(old)


def test_roi_contains(spark, index_root):
    """Tiny ROI inside one tile: exactly that catchment, contains flag."""
    kept, attrs, stats = _roi(spark, index_root, "contains")
    rows = kept.collect()
    assert len(rows) == 1
    assert rows[0].contains_query and not rows[0].within_query
    assert stats["contains_count"] == 1
    ids, _rings = tg.tile_ids_and_rings()
    assert rows[0].branch_path == datagen.branch_path(ids[0])


def test_roi_within_many(spark, index_root):
    """Huge ROI: every intersecting catchment fully within it."""
    kept, attrs, stats = _roi(spark, index_root, "within")
    pdf = kept.toPandas()
    assert len(pdf) > 10
    assert pdf.within_query.sum() > 5
    # attributes join fans out: >= one row per kept catchment
    assert attrs.count() >= len(pdf)
    # left-join nulls present (branches without REM rasters)
    assert attrs.filter(F.col("raster_path_rem").isNull()).count() > 0


def test_roi_threshold_branches(spark, index_root):
    """Partial ROI: strict threshold removes low-overlap catchments."""
    kept_lo, _, stats_lo = _roi(spark, index_root, "partial", threshold=1.0)
    kept_hi, _, stats_hi = _roi(spark, index_root, "partial", threshold=60.0)
    n_lo, n_hi = kept_lo.count(), kept_hi.count()
    assert n_lo > n_hi  # threshold actually filters
    assert stats_lo["initial"] == stats_hi["initial"]


def test_roi_gap_empty(spark, index_root):
    """ROI over a grid hole: no catchments intersect."""
    kept, attrs, stats = _roi(spark, index_root, "gap")
    assert kept.count() == 0 and stats["initial"] == 0


def test_roi_write_results(spark, index_root, tmp_path):
    kept, attrs, _ = _roi(spark, index_root, "contains")
    out = str(tmp_path / "roi_out")
    write_results(kept, attrs, out)
    back = spark.read.parquet(f"{out}/geometries")
    assert back.count() == 1 and "catchment_id" in back.columns


def test_roi_geojson_fixture_shapes():
    for kind in ("contains", "within", "partial", "gap", "degenerate"):
        gj = datagen.roi_geojson(kind)
        assert gj["features"][0]["geometry"]["type"] == "Polygon"
        json.dumps(gj)  # serializable


def test_dedup_corpus_pipeline_stages_and_resume(spark, tmp_path):
    """The icelite-staged dedup pipeline must (a) reproduce the direct
    dedup_clusters computation, (b) keep exactly one doc per cluster,
    (c) resume mid-job without re-running committed stages (the
    materialized signatures table survives the restart)."""
    from pyspark.sql import functions as F

    from hand_index_spark.operators.dedup import dedup_clusters
    from hand_index_spark.pipelines.dedup_corpus import dedup_corpus
    from hand_index_spark.tables.icelite import IceliteTable

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    # append byte-identical duplicates so the rep-merge path is live
    dup = docs.filter(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    corpus = docs.unionByName(dup)
    root = str(tmp_path / "dedup")

    snaps = dedup_corpus(spark, corpus, root, fingerprint="t1")
    assert set(snaps) == {"reps", "signatures", "pairs", "clusters", "keep"}

    got = (
        IceliteTable(root, "clusters")
        .read(spark)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        dedup_clusters(corpus, threshold=0.2)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(want)
    # duplicates joined their rep's cluster and were dropped from keep
    dups = got[got.doc_id >= 100000]
    assert (dups.cluster_id < 100000).all()
    kept = IceliteTable(root, "corpus_dedup").read(spark)
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0
    n_clusters = got.cluster_id.nunique()
    assert kept.count() == n_clusters

    # resume: wipe the last two stages, re-run -> only they rebuild
    import shutil

    shutil.rmtree(f"{root}/clusters")
    shutil.rmtree(f"{root}/corpus_dedup")
    snaps2 = dedup_corpus(spark, corpus, root, fingerprint="t1")
    assert set(snaps2) == {"clusters", "keep"}
    got2 = (
        IceliteTable(root, "clusters")
        .read(spark)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got2.equals(want)
