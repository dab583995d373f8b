#!/usr/bin/env python
"""ROI-query CLI — the reference's query_geojson.py entry point restated
(query_geojson.py:250-340): -g GeoJSON ROI, -p index root, -t overlap
threshold, -o output dir; prints the reference's stats dict (:314) as
one JSON line and writes per-catchment partitioned results (:320-334).
The partition-cell resolution is read from the index itself, so the
query always prunes with cells of the resolution the index was built
with.
"""

from __future__ import annotations

import argparse
import json


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="Query the spatial index with a GeoJSON ROI")
    p.add_argument("-g", "--geojson", required=True, help="ROI GeoJSON path or literal")
    p.add_argument("-p", "--parquet-dir", required=True, help="index root (icelite)")
    p.add_argument("-t", "--threshold", type=float, default=10.0,
                   help="overlap percentage threshold (query_geojson.py:213-219)")
    p.add_argument("-o", "--output-dir", required=True)
    p.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    return p.parse_args(argv)


def main(argv=None, spark=None) -> dict:
    args = parse_args(argv)

    from hand_index_spark.geo import cells as h3lite
    from hand_index_spark.pipelines.query_roi import roi_query, write_results
    from hand_index_spark.session import get_spark
    from hand_index_spark.tables.icelite import IceliteTable

    own_session = spark is None
    if own_session:
        master = f"local[{args.cpus}]" if args.cpus else None
        spark = get_spark("query_roi_cli", master=master)
    root = args.parquet_dir
    catchments = IceliteTable(root, "catchments").read(spark)
    hydro = IceliteTable(root, "hydrotables").read(spark)
    rem = IceliteTable(root, "rem_rasters").read(spark)
    crs = IceliteTable(root, "catchment_rasters").read(spark)
    # every h3_index carries its resolution in bits 52-55; an empty index
    # has nothing to prune, so any resolution serves it
    first = catchments.select("h3_index").first()
    res = int(h3lite.decompose(first[0])[0]) if first else 0
    kept, attrs, stats = roi_query(
        spark,
        catchments,
        args.geojson,
        hydrotables=hydro,
        rem_rasters=rem,
        catchment_rasters=crs,
        overlap_threshold_pct=args.threshold,
        partition_res=res,
    )
    write_results(kept, attrs, args.output_dir)
    print(json.dumps({"stats": stats, "output_dir": args.output_dir}))
    if own_session:
        spark.stop()
    return stats


if __name__ == "__main__":
    main()
