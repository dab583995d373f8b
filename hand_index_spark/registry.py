"""The one query registry behind __spark_entry__.queries()/oracle_sql().

Each query module calls ``register(family, name, fn, oracle)`` once per
query at import time: ``fn(spark, sf_dir)`` is the Spark program and
``oracle`` the DuckDB SQL with identical column names and arithmetic.
``ORDER`` is the one statement of query order: ``ordered()`` reads the
registered queries back in that order, so neither the module that
defines a query nor the order in which modules are imported moves it.
A registered name that ``ORDER`` does not list raises, and so does a
listed name that no module registered.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

GEO = "geo"
REL = "relational"
TEXT = "text"

# Every query name, once. ORACLES follows this order, each family dict is
# it filtered by family, and queries() puts
# __spark_entry__.DRIVER_SAMPLE_ORDER first and keeps this order after it.
ORDER = (
    "tile_assign", "tile_histogram", "cells_encode", "cell_parent",
    "text_invariant", "knn_fallback", "bbox_filter", "s2_cells",
    "pricing_summary", "join_left_3way", "window_dedup", "semi_filter",
    "anti_orphans", "topk_orders", "topn_per_group", "distinct_pairs",
    "union_all", "regexp_path_join", "upsert_dedup", "threshold_mask",
    "bool_sum_stats", "events_windowed", "token_count", "exact_dedup",
    "quality_score", "langid", "minhash_signatures", "lsh_dup_pairs",
    "simhash16", "jaccard_pairs", "doc_fingerprint", "embedding_topk",
    "binary_meta", "sessionize", "total_bounds", "drop_columns", "proj_select",
    "limit0_schema", "raster_corners", "multimodal_meta", "multimodal_decode",
    "ann_lsh_topk", "wkb_roundtrip", "albers_forward", "union_catchments",
    "overlap_refine", "roi_pip_filter", "lineage_counts", "atomic_publish",
    "stream_windowed", "partitioned_roundtrip", "dedup_clusters", "dedup_keep",
    "quantiles", "ntile_buckets", "url_parse", "intersect_keys", "except_keys",
    "edit_distance", "path_filter", "token_count_bpe", "multimodal_resize",
    "multimodal_frames", "cosine_dup_pairs", "stream_sessionize",
    "ann_ivf_topk", "rolling_avg", "rollup_counts", "salted_histogram",
    "stream_late_drop", "cube_counts", "pivot_user_events",
    "stream_icelite_ingest", "png_decode_stats", "png_resize_stats",
    "png_frames_stats", "wav_decode_stats", "jpeg_decode_stats",
    "datetime_functions", "json_extract", "tile_assign_joined",
    "ann_ivf_indexed", "asof_join_latest_order", "schema_evolution",
    "stream_dedup", "lm_score", "lang_centroids", "decontam_exact",
    "decontam_ngram", "dem_slope_stats", "funnel_conversion", "bm25_search",
    "stratified_sample", "sql_text_surface", "spatial_join_generic",
    "hll_distinct", "icelite_merge", "icelite_compact", "stream_stream_join",
    "html_extract_text", "range_join_followers", "simplify_ring",
    "union_overlap", "line_dedup", "asof_join_tolerance", "repetition_stats",
    "pii_scrub", "ann_pq_adc", "ann_pq_indexed", "ann_ivfpq",
    "ann_ivf_filtered", "simhash_dup_pairs", "quality_filter",
    "tfidf_topterms", "pmi_bigrams", "containment_pairs", "pagerank_links",
    "cms_heavy_hitters", "warc_roundtrip", "phrase_search", "crawl_delta",
    "robots_filter", "anchor_agg", "url_canonicalize", "template_clusters",
    "hll_by_group", "zonemap_pruned_read", "zorder_pruned_read",
    "matview_incremental", "bloom_semi_join", "substring_dup_spans",
    "snapshot_changes", "stream_matview", "rasterize_polys", "bpe_train",
    "bloom_point_lookup", "zonal_stats", "distance_band_join",
    "segment_intersect_join", "convex_hull", "bpe_encode",
    "gapfill_interpolate", "cell_pyramid", "knn_radius_join", "bfs_hops",
    "geohash_encode", "ring_validity", "interval_overlap_join",
    "consistent_hash_assign", "politeness_schedule", "geodesic_band_join",
    "quadkey_encode", "triangle_counts", "sssp_weighted", "idw_interpolate",
    "morans_i_grid", "sitemap_extract", "d8_flow_dir", "flow_accumulation",
    "hand_height", "kde_heatmap", "cohort_retention", "trajectory_length",
    "winnow_fingerprints", "cdc_chunks", "tfidf_cosine_pairs", "kcore_nodes",
    "dbscan_clusters", "stream_geofence", "hillshade_stats",
    "raster_overviews", "contour_segments", "kneser_ney_score",
    "weighted_sample_mix", "text_chunks", "snap_points", "geodesic_area",
    "stream_topk", "dem_hillshade_stats", "resample_traj", "contour_loops",
    "ray_viewshed", "hilbert_encode", "strahler_order", "watershed_label",
    "hilbert_pruned_read", "staypoint_detect", "interval_coverage",
    "mad_outliers", "cell_dilate_cover", "scd2_intervals", "prorate_cents",
    "ewma_smooth", "od_matrix", "hits_scores", "cusum_changepoints",
    "fuzzy_name_join", "stream_enrich", "wap_publish", "clip_to_tiles",
    "buffer_area", "dsir_weights", "label_prop_communities", "pack_chunks",
    "acf_lags", "triangulate_mesh", "token_budget_mix", "modularity_score",
    "gc_waypoints", "postings_build", "merkle_root", "survivorship_golden",
    "lttb_downsample", "encoding_advisor", "attribution_last_touch",
    "bitmap_index_ops", "jsonl_roundtrip", "dominance_skyline",
    "k_anonymity_audit", "ab_test_ztest", "zipf_vocab_growth",
    "event_bigram_mining", "value_histogram", "langid_confusion", "iou_eval",
    "calibration_bins", "data_quality_checks", "column_entropy", "basket_lift",
    "concentration_metrics", "quantile_sketch", "time_to_convert",
    "readability_scores", "tokenizer_fertility", "linear_trend",
    "benford_digits", "longest_streak", "chisq_independence", "kendall_tau",
    "holt_forecast", "dtw_distance", "zscore_normalize", "areal_interpolate",
    "frechet_distance", "toposort_layers", "psi_drift", "rrf_fusion",
    "roc_auc", "path_prefix_rollup", "theil_sen_slope", "ndcg_at_k",
    "backtest_mase", "partition_evolution", "l_diversity_audit",
    "sq8_quantize", "weighted_median", "point_diameter", "twap_value",
    "geohash_neighbors", "markov_transitions", "spearman_rho", "fdr_bh",
    "emd_1d", "mutual_information", "bearing_rose", "clamped_balance",
    "rendezvous_assign", "zonemap_overlap_audit", "cross_track_dev",
    "cohens_kappa", "degree_powerlaw", "mode_impute", "max_concurrency",
    "sprt_crossing", "kmv_distinct", "audience_overlap", "coverage_gaps",
    "mix_shift", "hex_bin", "latency_histogram", "kwic_concordance",
    "feature_hashing", "gdpr_forget", "star_revenue_rollup", "business_days",
    "dow_hour_heatmap", "control_chart", "winsorized_mean", "cidr_match",
    "abc_classification", "copresence_pairs", "quantile_transform",
    "corridor_membership", "new_vs_returning", "ohlc_candles", "top_movers",
    "assign_path_parity", "method_share", "kaplan_meier", "rfm_segments",
    "item_cf", "fifo_allocation", "cells_compact", "link_predict",
)

_QUERIES: dict[str, tuple] = {}


def register(family: str, name: str, fn, oracle: str) -> None:
    """Record query ``name``; it must be listed in ORDER, and only once."""
    if name in _QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    if name not in ORDER:
        raise ValueError(f"query {name!r} is not listed in registry.ORDER")
    _QUERIES[name] = (family, fn, oracle)


def ordered() -> list[tuple]:
    """(name, family, fn, oracle) of every query, in ORDER."""
    missing = [n for n in ORDER if n not in _QUERIES]
    if missing:
        raise ValueError(f"listed in registry.ORDER but never registered: {missing}")
    return [(n, *_QUERIES[n]) for n in ORDER]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fresh_dir(prefix: str) -> str:
    """A fresh scratch dir for side-effecting driver queries, garbage-
    collecting earlier same-prefix dirs first (each invocation must see
    a clean icelite root for deterministic snapshot counts, but repeated
    driver/verify loops must not accumulate unbounded /tmp copies)."""
    base = os.path.join(tempfile.gettempdir(), "hand_index_spark_q")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith(prefix):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)
