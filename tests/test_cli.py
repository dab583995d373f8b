"""CLI entry points (reference load.py:303-380 / query_geojson.py:250-340
surfaces) + the --calb branch-regexp variant (load.py:208-216)."""

from __future__ import annotations

import json
import os

import pytest

from hand_index_spark.cli import build_index_main, query_roi_main
from hand_index_spark.pipelines.build_index import _asset_join


def test_build_then_query_cli_end_to_end(spark, tmp_path):
    root = str(tmp_path / "index")
    snaps = build_index_main.main(["--output-dir", root], spark=spark)
    assert set(snaps) == {
        "catchments", "hydrotables", "rem_rasters", "catchment_rasters"
    }
    from hand_index_spark.tables.datagen import roi_geojson

    gj = tmp_path / "roi.json"
    gj.write_text(json.dumps(roi_geojson("within")))
    out = str(tmp_path / "results")
    stats = query_roi_main.main(
        ["-g", str(gj), "-p", root, "-o", out], spark=spark
    )
    assert stats["final"] > 0
    assert os.path.isdir(f"{out}/geometries") and os.path.isdir(f"{out}/attributes")
    # rerun = idempotent resume: every stage already committed
    snaps2 = build_index_main.main(["--output-dir", root], spark=spark)
    assert snaps2 == {}


def test_query_cli_reads_partition_resolution_from_index(spark, tmp_path):
    """An index built at a non-default partition resolution is queried
    with cells of that resolution, with no flag to keep in step."""
    root = str(tmp_path / "index_r1")
    build_index_main.main(["--output-dir", root, "--h3-resolution", "1"], spark=spark)
    from hand_index_spark.tables.datagen import roi_geojson

    gj = tmp_path / "roi.json"
    gj.write_text(json.dumps(roi_geojson("within")))
    stats = query_roi_main.main(
        ["-g", str(gj), "-p", root, "-o", str(tmp_path / "results")], spark=spark
    )
    assert stats["final"] > 0


def test_build_cli_refuses_foreign_output_dir(tmp_path):
    d = tmp_path / "occupied"
    d.mkdir()
    (d / "junk.txt").write_text("x")
    with pytest.raises(SystemExit):
        build_index_main.main(["--output-dir", str(d)])


def test_calb_branch_regexp_variant(spark):
    """--calb: branch dir = immediate parent, no /branches/ segment."""
    cat = spark.createDataFrame(
        [("id1", "s3://fix/huc00/b7/")], "catchment_id string, branch_path string"
    )
    manifest = spark.createDataFrame(
        [("s3://fix/huc00/b7/hydroTable_0.csv",)], "file string"
    )
    pat = r".*hydroTable.*\.csv$"
    assert _asset_join(manifest, cat, pat, "csv_path", calb=True).count() == 1
    assert _asset_join(manifest, cat, pat, "csv_path", calb=False).count() == 0


def test_dedup_corpus_cli_and_resume(spark, tmp_path):
    from hand_index_spark.cli import dedup_corpus_main

    root = str(tmp_path / "dedup")
    argv = [
        "--docs-parquet", "/root/testdata/sf0.001/documents.parquet",
        "--output-dir", root, "--perms", "4", "--rows-per-band", "2",
        "--hash-mode", "oracle",
    ]
    snaps = dedup_corpus_main.main(argv, spark=spark)
    assert set(snaps) == {"reps", "signatures", "pairs", "clusters", "keep"}
    assert snaps["keep"]["row_count"] > 0
    # rerun = full fingerprint resume
    assert dedup_corpus_main.main(argv, spark=spark) == {}


def test_ann_index_cli_build_query_resume(spark, tmp_path):
    from hand_index_spark.cli import ann_index_main

    root = str(tmp_path / "annidx")
    argv = [
        "--embeddings-parquet", "/root/testdata/sf0.001/embeddings.parquet",
        "--output-dir", root, "--query-ids", "0,1", "--k", "3",
    ]
    out = ann_index_main.main(argv, spark=spark)
    assert set(out["built"]) == {"vectors", "centroids", "assignments"}
    qids = {r["qid"] for r in out["topk"]}
    assert qids == {0, 1}
    ranks = [r["rank"] for r in out["topk"] if r["qid"] == 0]
    assert ranks == sorted(ranks)
    out2 = ann_index_main.main(argv, spark=spark)
    assert out2["built"] == {}  # resumed
    assert out2["topk"] == out["topk"]  # served from the persisted index


def test_hand_raster_cli_end_to_end(spark, tmp_path):
    from hand_index_spark.cli import hand_raster_main
    from hand_index_spark.tables.icelite import IceliteTable

    # 32x32 tilted-plane DEM: every cell's D8 path descends to (0,0)
    dem = str(tmp_path / "dem.parquet")
    spark.range(32 * 32).selectExpr(
        "id % 32 AS gx", "id DIV 32 AS gy", "id % 32 + (id DIV 32) * 32 AS elev"
    ).write.parquet(dem)
    root = str(tmp_path / "hand")
    out = hand_raster_main.main(
        ["--dem-parquet", dem, "--output-dir", root,
         "--drain-max-elev", "0", "--doublings", "6", "--acc-rounds", "4"],
        spark=spark,
    )
    assert set(out) == {"flow_dir", "flow_accum", "hand"}
    hand = IceliteTable(root, "hand").read(spark)
    rows = {(r["gx"], r["gy"]): r["hand"] for r in hand.collect()}
    # 2^6 = 64 >= the 62-step max path: every cell reaches (0,0), and
    # on this plane HAND == elev exactly
    assert len(rows) == 32 * 32
    assert all(h == gx + gy * 32 for (gx, gy), h in rows.items())
    acc = IceliteTable(root, "flow_accum").read(spark)
    # corner (0,0) is everyone's sink but acc is 4-round-bounded: its
    # count equals cells within 4 hops upstream (exact per the oracle
    # semantics); just require monotone nonzero inflow at the sink
    sink = [r["acc"] for r in acc.collect() if (r["gx"], r["gy"]) == (0, 0)]
    assert sink and sink[0] > 0
