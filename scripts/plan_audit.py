#!/usr/bin/env python
"""Physical-plan audit: capture .explain("formatted") for the headline
queries and check the plan properties the engine promises:

- filters/projections reach the parquet scan (PushedFilters/ReadSchema),
- small dimensions broadcast (BroadcastHashJoin, no SortMergeJoin for
  path-regex joins),
- encode stages stay inside WholeStageCodegen (no Python in the cell
  hot path),
- the ROI query's scan carries the partition-pruning predicate.

Writes PLANS.md at the repo root.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.01"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from hand_index_spark.session import get_spark

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    from hand_index_spark.entry_queries import GEO_QUERIES, RELATIONAL, TEXTOPS

    sections = []
    checks = []

    def audit(name, fn, expect=(), forbid=()):
        plan = grab(fn(spark, SF))
        ok = all(e in plan for e in expect) and not any(f in plan for f in forbid)
        for e in expect:
            checks.append((name, f"expect {e}", e in plan))
        for f in forbid:
            checks.append((name, f"forbid {f}", f not in plan))
        sections.append((name, plan, ok))

    # cells encode: must be pure codegen ("[codegen id :" markers in
    # formatted mode), no Python eval
    audit(
        "cells_encode",
        GEO_QUERIES["cells_encode"],
        expect=("[codegen id :",),
        forbid=("ArrowEvalPython", "BatchEvalPython"),
    )
    # tile_assign: exactly one Arrow python stage, narrow input
    audit("tile_assign", GEO_QUERIES["tile_assign"], expect=("ArrowEvalPython",))
    # pricing summary: partial aggregation (map-side combine)
    audit(
        "pricing_summary",
        RELATIONAL["pricing_summary"],
        expect=("HashAggregate", "PushedFilters"),
    )
    # path-regex join must broadcast the dimension
    audit(
        "regexp_path_join",
        RELATIONAL["regexp_path_join"],
        expect=("BroadcastHashJoin",),
        forbid=("SortMergeJoin",),
    )
    # semi filter should stay a join, pruned columns only
    audit("semi_filter", RELATIONAL["semi_filter"], expect=("ReadSchema",))
    # minhash: explode + partial agg, no Python
    audit(
        "minhash_signatures",
        TEXTOPS["minhash_signatures"],
        expect=("Generate", "explode", "HashAggregate"),
        forbid=("ArrowEvalPython", "BatchEvalPython"),
    )

    # round-2 scale paths: candidate generation must be bucket-key
    # equi-joins — never a cross/nested-loop join (VERDICT items 3/4)
    # round-3: the dedup corpus is scanned ONCE into dedup_base
    # (localCheckpoint) — the final plan must read checkpointed RDDs,
    # never re-derive the signature subtree from parquet (VERDICT r2
    # item 1; was 8+ corpus scans)
    audit(
        "jaccard_pairs",
        TEXTOPS["jaccard_pairs"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython", "Scan parquet"),
    )
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT3

    audit(
        "dedup_clusters",
        _TEXT3["dedup_clusters"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython", "Scan parquet"),
    )
    audit(
        "ann_lsh_topk",
        TEXTOPS["ann_lsh_topk"],
        expect=("Generate",),  # multi-probe explode
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # IVF ANN: the coarse-quantizer assignment is INTENTIONALLY a
    # broadcast nested-loop against the tiny centroid set (16 rows,
    # map-side); candidate generation must stay an equi-join
    audit(
        "ann_ivf_topk",
        TEXTOPS["ann_ivf_topk"],
        expect=("BroadcastNestedLoopJoin",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # salted repartition: explicit shuffle keyed on (cell, salt)
    audit(
        "salted_histogram",
        GEO_QUERIES["salted_histogram"],
        expect=("__salt", "REPARTITION_BY_NUM"),
    )

    # round-4: the large-dimension assignment path must be pure shuffle
    # equi-joins — NO broadcast anywhere (the whole point is a dimension
    # past the broadcast ceiling) and no Python assignment stage
    audit(
        "tile_assign_joined",
        GEO_QUERIES["tile_assign_joined"],
        expect=("ShuffledHashJoin",),
        forbid=("BroadcastHashJoin", "BroadcastExchange", "ArrowEvalPython",
                "BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    # round-4: as-of join is the union-timeline form — a Window over one
    # keyed shuffle, containing NO join operator of any kind
    audit(
        "asof_join_latest_order",
        TEXTOPS["asof_join_latest_order"],
        expect=("Window",),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-4: banded range join = bucket explode + equi-join + refine;
    # the inequality must never degrade to a cross/nested-loop join
    audit(
        "range_join_followers",
        TEXTOPS["range_join_followers"],
        expect=("Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-4: IVF from the persisted index — same broadcast-NLJ-only-
    # for-centroids contract as ann_ivf_topk, reading icelite tables
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT4

    audit(
        "ann_ivf_indexed",
        _TEXT4["ann_ivf_indexed"],
        expect=("BroadcastNestedLoopJoin",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-4: generic covering-cell spatial join — Catalyst polyfill
    # (Generate) + shuffle equi-join, zero broadcast, zero Python
    audit(
        "spatial_join_generic",
        GEO_QUERIES["spatial_join_generic"],
        expect=("ShuffledHashJoin", "Generate"),
        forbid=("BroadcastExchange", "BroadcastHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin", "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-4: HLL sketch — one scan + one tiny groupBy, all codegen
    audit(
        "hll_distinct",
        _TEXT4["hll_distinct"],
        expect=("HashAggregate",),
        forbid=("ArrowEvalPython", "BatchEvalPython", "CartesianProduct"),
    )

    # round-5: line-level dedup — two keyed shuffles (chunk counts +
    # doc reassembly) with map-side partial aggregation, no Python, and
    # the chunk-count join must never degrade to a nested loop
    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5, TEXTOPS as _TEXT5

    audit(
        "line_dedup",
        _TEXT5["line_dedup"],
        expect=("HashAggregate", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: Gopher repetition stats — explode + two-level partial agg,
    # pure Catalyst
    audit(
        "repetition_stats",
        _TEXT5["repetition_stats"],
        expect=("Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: PII scrub — regex surface stays inside codegen entirely
    audit(
        "pii_scrub",
        _TEXT5["pii_scrub"],
        expect=("[codegen id :",),
        forbid=("ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: Douglas-Peucker — exactly the one irreducible Python
    # stage (MapInPandas), stats JVM-side, no shuffle at all
    audit(
        "simplify_ring",
        _GEO5["simplify_ring"],
        expect=("MapInPandas",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin", "Exchange"),
    )
    # round-5: overlay union — ONE grouped-map Python stage keyed on the
    # group column (the union aggregate is not decomposable), no joins
    audit(
        "union_overlap",
        _GEO5["union_overlap"],
        expect=("FlatMapGroupsInPandas",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ShuffledHashJoin"),
    )
    # round-5: asof with tolerance keeps the no-join union-timeline plan
    audit(
        "asof_join_tolerance",
        _TEXT5["asof_join_tolerance"],
        expect=("Window",),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5: composed IVF+PQ — both quantizer assignments are the
    # deliberate broadcast-NLJ against tiny codebooks; candidate
    # generation and the code/LUT joins must stay equi-joins, zero
    # Python anywhere
    audit(
        "ann_ivfpq",
        _TEXT5["ann_ivfpq"],
        expect=("BroadcastNestedLoopJoin",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: PQ/ADC — same contract
    audit(
        "ann_pq_adc",
        _TEXT5["ann_pq_adc"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5 text additions: TF-IDF / PMI are pure Catalyst
    # explode+agg+window pipelines (zero Python, no cross joins);
    # containment_pairs shares jaccard_pairs' one-scan candidate
    # contract (checkpointed base, bounded bucket self-join)
    audit(
        "tfidf_topterms",
        _TEXT5["tfidf_topterms"],
        expect=("Generate", "HashAggregate", "Window"),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    audit(
        "pmi_bigrams",
        _TEXT5["pmi_bigrams"],
        expect=("Generate", "HashAggregate", "Window"),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    audit(
        "containment_pairs",
        _TEXT5["containment_pairs"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython", "Scan parquet"),
    )
    # round-5: pagerank — iterative join-agg loop over a checkpointed
    # edge frame; every iteration is keyed equi-joins + integer sums
    # (the returned frame is the post-iteration checkpoint, so the
    # visible plan is just the ExistingRDD scan — the per-iteration
    # join+agg shape is pinned by the checks on the other iterative
    # queries and the zero-Python/zero-cross forbids still apply here)
    audit(
        "pagerank_links",
        _TEXT5["pagerank_links"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython",
                "Scan parquet"),
    )
    # round-5: CMS heavy hitters — the probe join must BROADCAST the
    # sketch (<= d*w rows by construction); no cross joins, no Python
    audit(
        "cms_heavy_hitters",
        _TEXT5["cms_heavy_hitters"],
        expect=("BroadcastHashJoin", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5: phrase search — posexplode postings + keyed equi-joins
    # on (doc_id, pos+k); term filters must stay pushed, no cross join
    audit(
        "phrase_search",
        _TEXT5["phrase_search"],
        expect=("Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5: crawl delta — ONE shuffle join on url, no cross, no Python
    audit(
        "crawl_delta",
        _TEXT5["crawl_delta"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: robots filter — the rules dim must BROADCAST (host
    # equi-key + startswith residual); longest-prefix pick is one window
    audit(
        "robots_filter",
        _TEXT5["robots_filter"],
        expect=("BroadcastHashJoin", "Window"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5: url canonicalization — pure per-row Catalyst expressions
    # + one groupBy; no join at all, no Python
    audit(
        "url_canonicalize",
        _TEXT5["url_canonicalize"],
        expect=("Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
                "BroadcastHashJoin", "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5: anchor extraction — per-row regex + one groupBy, no join
    audit(
        "anchor_agg",
        _TEXT5["anchor_agg"],
        expect=("Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # round-5: WARC parse — the ONE legitimate Python stage (a byte-level
    # source parser): exactly one MapInPandas over the binaryFile scan
    audit(
        "warc_roundtrip",
        _TEXT5["warc_roundtrip"],
        expect=("MapInPandas",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin"),
    )
    # round-5: template fingerprint + grouped HLL — pure agg shapes
    audit(
        "template_clusters",
        _TEXT5["template_clusters"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
                "BroadcastHashJoin", "ArrowEvalPython", "BatchEvalPython"),
    )
    audit(
        "hll_by_group",
        _TEXT5["hll_by_group"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # runtime Bloom semi-join: the membership test must be a JVM
    # expression under the join (xxhash64 visible in the plan), with
    # no Python stage and no nested-loop fallback
    audit(
        "bloom_semi_join",
        _TEXT5["bloom_semi_join"],
        expect=("xxhash64", "LeftSemi"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # zone-map pruned read: after the manifest-level file skip, the
    # residual box predicate must STILL be pushed into the surviving
    # files' parquet scan (two pruning layers), all JVM-side
    audit(
        "zorder_pruned_read",
        _TEXT5["zorder_pruned_read"],
        expect=("PushedFilters: [", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import (  # noqa: E402
        GEO_QUERIES as _GEO5B,
        TEXTOPS as _TEXT5B,
    )

    # distance-band join: ONE cell-key equi-join, exact integer refine —
    # no cross product, no broadcast-nested-loop, no Python stage
    audit(
        "distance_band_join",
        _GEO5B["distance_band_join"],
        expect=("Join",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # segment overlay: covering-cell candidates + orientation refine —
    # the whole predicate stays JVM-side (hash join; AQE broadcasts the
    # tiny sf0.01 side, at scale both sides shuffle on the cell key)
    audit(
        "segment_intersect_join",
        _GEO5B["segment_intersect_join"],
        expect=("Join",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # gap fill: join-FREE — one keyed window + explode; any join node
    # in this plan means the bracket pairing regressed to a self-join
    audit(
        "gapfill_interpolate",
        _TEXT5B["gapfill_interpolate"],
        expect=("Window", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # fixed-vocab BPE encode: pure map work (replace chain), zero
    # shuffle apart from the scan — no exchange at all in this plan
    audit(
        "bpe_encode",
        _TEXT5B["bpe_encode"],
        expect=("[codegen id :",),
        forbid=("Exchange", "ArrowEvalPython", "BatchEvalPython"),
    )

    # cell pyramid: CASCADING rollup — no Expand node (that's GROUPING
    # SETS' full row replication, the shape this operator exists to
    # avoid), no Python, every level a plain hash aggregate
    audit(
        "cell_pyramid",
        _GEO5B["cell_pyramid"],
        expect=("HashAggregate", "Union"),
        forbid=("Expand", "CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # kNN-radius join: grid candidates -> shuffled hash join -> window
    # top-k; never a cross product, never Python
    audit(
        "knn_radius_join",
        _GEO5B["knn_radius_join"],
        expect=("ShuffledHashJoin", "Window"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # geohash: pure codegen encode, no exchange, no Python
    audit(
        "geohash_encode",
        _GEO5B["geohash_encode"],
        expect=("[codegen id :",),
        forbid=("Exchange", "ArrowEvalPython", "BatchEvalPython"),
    )

    # interval overlap: bucketed candidates through a shuffled hash
    # join (same banding as the distance-band grid, in 1-D)
    audit(
        "interval_overlap_join",
        _TEXT5B["interval_overlap_join"],
        expect=("ShuffledHashJoin",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # rendezvous hashing: per-row argmax over shard scores — pure
    # codegen map work, no exchange, no Python
    audit(
        "consistent_hash_assign",
        _TEXT5B["consistent_hash_assign"],
        expect=("[codegen id :",),
        forbid=("Exchange", "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import (  # noqa: E402
        GEO_QUERIES as _GEO5C,
        TEXTOPS as _TEXT5C,
    )

    # geodesic band join: lat/lon grid candidates through ONE shuffled
    # hash join on the packed cell key; haversine refine stays codegen
    audit(
        "geodesic_band_join",
        _GEO5C["geodesic_band_join"],
        expect=("ShuffledHashJoin",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # quadkey: pure codegen encode — no exchange, no Python
    audit(
        "quadkey_encode",
        _GEO5C["quadkey_encode"],
        expect=("[codegen id :",),
        forbid=("Exchange", "ArrowEvalPython", "BatchEvalPython"),
    )

    # triangle counting: degree-ordered wedge join — equi-joins and
    # hash aggregates only, never a cross product, never Python
    audit(
        "triangle_counts",
        _TEXT5C["triangle_counts"],
        expect=("Join", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # weighted SSSP: per-round frontier equi-join + min aggregate over
    # a checkpointed frontier (Scan ExistingRDD), no cross product
    audit(
        "sssp_weighted",
        _TEXT5C["sssp_weighted"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # IDW: radius-kNN grid join + ordered-array fold — all JVM-side
    audit(
        "idw_interpolate",
        _GEO5C["idw_interpolate"],
        expect=("ShuffledHashJoin",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # Moran's I: the neighbor pairing is a shuffled hash join on the
    # packed cell key; the two 1-row scalar broadcasts are deliberate
    # (BroadcastNestedLoopJoin on a single-row side), so only a true
    # cross product or Python stage is forbidden
    audit(
        "morans_i_grid",
        _GEO5C["morans_i_grid"],
        expect=("ShuffledHashJoin",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )

    # sitemap extraction: build + parse + posexplode is pure per-row
    # map work — Generate with NO exchange, no Python
    audit(
        "sitemap_extract",
        _TEXT5C["sitemap_extract"],
        expect=("Generate",),
        forbid=("Exchange", "ArrowEvalPython", "BatchEvalPython"),
    )

    # D8 flow direction: one packed-key neighbor equi-join + max(struct)
    # argmax — exact BIGINT slope ranks, zero Python
    audit(
        "d8_flow_dir",
        _GEO5C["d8_flow_dir"],
        expect=("ShuffledHashJoin", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # flow accumulation: per-round edge join + sum over checkpointed
    # state (Scan ExistingRDD), last round declarative
    audit(
        "flow_accumulation",
        _GEO5C["flow_accumulation"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # HAND: pointer-doubling self-joins over the checkpointed
    # next-pointer table — log-round path composition, no Python
    audit(
        "hand_height",
        _GEO5C["hand_height"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # KDE heatmap: JOIN-FREE — candidate cells by bounded explode, one
    # hash aggregate; any join node means the kernel window regressed
    # to a points-x-cells join
    audit(
        "kde_heatmap",
        _GEO5C["kde_heatmap"],
        expect=("Generate", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # cohort retention: two keyed aggregates + one equi-join
    audit(
        "cohort_retention",
        _TEXT5C["cohort_retention"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # trajectory length: one keyed window (lag) + one aggregate — no
    # join in the plan at all
    audit(
        "trajectory_length",
        _GEO5C["trajectory_length"],
        expect=("Window", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # winnowing: pure window pipeline (leads + frame max) over the
    # exploded token stream — no join, no Python, no HOF lambdas
    audit(
        "winnow_fingerprints",
        _TEXT5C["winnow_fingerprints"],
        expect=("Window", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # CDC chunking: window pipeline over the char stream + ONE equi-join
    # back to documents for the substr cut — no cross product, no Python
    audit(
        "cdc_chunks",
        _TEXT5C["cdc_chunks"],
        expect=("Window", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # TF-IDF cosine pairs: df-capped postings self-join (shuffled hash
    # on the token key) + exact-integer threshold — no cross product,
    # no Python
    audit(
        "tfidf_cosine_pairs",
        _TEXT5C["tfidf_cosine_pairs"],
        expect=("ShuffledHashJoin", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # k-core: per-round degree agg + two LEFT-SEMI trims over the
    # checkpointed edge list — no cross product, no Python
    audit(
        "kcore_nodes",
        _TEXT5C["kcore_nodes"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # DBSCAN: grid band join for neighborhoods, degree agg, semi-join
    # core trims, checkpointed component rounds — no cross product, no
    # Python
    audit(
        "dbscan_clusters",
        _GEO5C["dbscan_clusters"],
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # round-5d terrain + text stages
    from hand_index_spark.entry_queries import (  # noqa: E402
        GEO_QUERIES as _GEO5D,
        TEXTOPS as _TEXT5D,
    )

    # hillshade: ONE neighbor-key shuffled hash join + kernel-folded
    # aggregate — no broadcast of the grid, no cross product, no Python
    audit(
        "hillshade_stats",
        _GEO5D["hillshade_stats"],
        expect=("ShuffledHashJoin", "HashAggregate", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # overview pyramid: pure hierarchical aggregates — zero joins
    audit(
        "raster_overviews",
        _GEO5D["raster_overviews"],
        expect=("HashAggregate", "Union"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # marching squares: one shuffled corner-assembly join + explode of
    # the per-case segment array — no cross product, no Python
    audit(
        "contour_segments",
        _GEO5D["contour_segments"],
        expect=("ShuffledHashJoin", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # weighted corpus-mix sample: distributed top-k, not a
    # single-partition global sort or window
    audit(
        "weighted_sample_mix",
        _TEXT5D["weighted_sample_mix"],
        expect=("TakeOrderedAndProject",),
        forbid=("Window", "Sort ", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # RAG chunking: explode + slice, no joins, no Python
    audit(
        "text_chunks",
        _TEXT5D["text_chunks"],
        expect=("Generate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # map matching: grid candidate join (shuffled hash on the packed
    # cell key) + exact rational refine — no cross product, no Python
    audit(
        "snap_points",
        _GEO5D["snap_points"],
        expect=("ShuffledHashJoin", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # geodesic polygon area: one groupBy over the vertex table, term
    # sum inside the aggregate — join-free, no Python
    audit(
        "geodesic_area",
        _GEO5D["geodesic_area"],
        expect=("HashAggregate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    # streaming top-k runs a stream first (audited for batch parity in
    # tests); the serving-side ranking plan is what matters at scale —
    # windowed over the ALREADY-REDUCED aggregate. dem_hillshade's
    # Arrow stages are the deliberate codec path (mapInPandas), so only
    # cartesian is forbidden there.
    audit(
        "resample_traj",
        _GEO5D["resample_traj"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    audit(
        "contour_loops",
        _GEO5D["contour_loops"],
        # at fixture scale AQE broadcasts the tiny checkpointed edge
        # frames; the scale-safety claim is the forbid list
        expect=("HashAggregate", "Scan ExistingRDD"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # viewshed: pure-filter ray membership + one window; the only join
    # is the broadcast of the 1-row observer elevation
    audit(
        "ray_viewshed",
        _GEO5D["ray_viewshed"],
        expect=("Window", "PushedFilters"),
        forbid=("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5E
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5E

    # hilbert encode: pure chained projections — a codec, so NO
    # shuffle, NO join, NO Python anywhere in the plan
    audit(
        "hilbert_encode",
        _GEO5E["hilbert_encode"],
        expect=("[codegen id :",),
        forbid=("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython"),
    )
    # strahler: per-round keyed shuffles over the EDGES (shuffled hash
    # join like the other hydrology recurrences), never a cross product
    audit(
        "strahler_order",
        _GEO5E["strahler_order"],
        expect=("ShuffledHashJoin",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # staypoints / interval coverage: pure window pipelines — one
    # partition sort per user stream, zero joins
    audit(
        "staypoint_detect",
        _GEO5E["staypoint_detect"],
        expect=("Window",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    audit(
        "interval_coverage",
        _TEXT5E["interval_coverage"],
        expect=("Window", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # MAD outliers: the two tiny per-group stats must broadcast back
    # onto the stream — no shuffle of the big side for the join
    audit(
        "mad_outliers",
        _TEXT5E["mad_outliers"],
        expect=("BroadcastHashJoin",),
        forbid=("SortMergeJoin", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # cell dilation: distinct + Generate + hash aggregate, NO join at
    # all — cost is |cover| * 9 at any scale
    audit(
        "cell_dilate_cover",
        _GEO5E["cell_dilate_cover"],
        expect=("Generate", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # watershed: pointer-doubling self-joins (log rounds) over the
    # checkpointed state (Scan ExistingRDD, the hand_height protocol);
    # never a cross product, zero Python
    audit(
        "watershed_label",
        _GEO5E["watershed_label"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # hilbert-clustered pruned read: the aggregate over the pruned box
    # must stay pure codegen (the bit-walk is chained projections)
    audit(
        "hilbert_pruned_read",
        _GEO5E["hilbert_pruned_read"],
        expect=("HashAggregate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5F
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5F

    # SCD2 + OD matrix: pure window pipelines, zero joins
    audit(
        "scd2_intervals",
        _TEXT5F["scd2_intervals"],
        expect=("Window",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    audit(
        "od_matrix",
        _GEO5F["od_matrix"],
        expect=("Window", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # proration: ONE keyed join of lineitem->orders + windows, no
    # cross product; EWMA: the fold runs inside Catalyst aggregate()
    # (ObjectHashAggregate on the collected list), zero Python
    audit(
        "prorate_cents",
        _TEXT5F["prorate_cents"],
        expect=("Window",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    audit(
        "ewma_smooth",
        _TEXT5F["ewma_smooth"],
        expect=("Aggregate",),
        forbid=("Join", "CartesianProduct", "Window", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5G

    # HITS: the final authority/hub join reads the CHECKPOINTED
    # iterates (never re-derives the edge subtree from parquet);
    # join-agg rounds only, no nested loops, no Python
    audit(
        "hits_scores",
        _TEXT5G["hits_scores"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython", "Scan parquet"),
    )
    # CUSUM: the closed form must be a pure window pipeline — zero
    # joins (the sequential recursion rewritten as prefix-sum +
    # running-min), one hash aggregate on top
    audit(
        "cusum_changepoints",
        _TEXT5G["cusum_changepoints"],
        expect=("Window", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # fuzzy join: blocking must be hash equi-joins + distinct —
    # NEVER an all-pairs comparison
    audit(
        "fuzzy_name_join",
        _TEXT5G["fuzzy_name_join"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5H
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5H

    # Sutherland-Hodgman tile clip: the whole 4-pass clip is ONE
    # codegen'd projection (the aggregate-fold form — the naive chained
    # form exploded the plan 3^4x and stalled analysis); zero joins,
    # zero Python; the only exchange is the final tile-keyed aggregate
    audit(
        "clip_to_tiles",
        _GEO5H["clip_to_tiles"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # Minkowski buffer: hull construction is explode + the per-group
    # vectorized Arrow hull kernel (FlatMapGroupsInPandas, the same
    # applyInPandas path hull_stats always uses) — no nested loops, no
    # row-at-a-time Python
    audit(
        "buffer_area",
        _GEO5H["buffer_area"],
        expect=("FlatMapGroupsInPandas", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython"),
    )
    # DSIR weights: token explode + TWO 64-row broadcast hash joins +
    # doc-keyed aggregate; the 1-row totals attach via broadcast
    # nested-loop by construction (bounded: 1x64), so only an actual
    # CartesianProduct or Python eval is forbidden
    audit(
        "dsir_weights",
        _TEXT5H["dsir_weights"],
        expect=("BroadcastHashJoin", "HashAggregate"),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # label propagation: the returned frame must read the
    # CHECKPOINTED final label state (each round's join-agg work is
    # materialized per round, like hits_scores — never re-derived
    # from parquet), no nested loops, no Python
    audit(
        "label_prop_communities",
        _TEXT5H["label_prop_communities"],
        expect=("Scan ExistingRDD",),
        forbid=("Scan parquet", "CartesianProduct",
                "BroadcastNestedLoopJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5I
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5I

    # sequence packing: the corpus-scale running sum must be the
    # BUCKET-partitioned window (windowspecdefinition(bucket...)), the
    # bucket offsets attach via broadcast, the chunk explode is
    # Generate, and the chunk stats are one hash aggregate — no
    # nested loops, no Python. (A single-partition global window over
    # the corpus would be the 10^12-row killer; the only empty
    # partition spec allowed is the #buckets-row offset frame.)
    audit(
        "pack_chunks",
        _TEXT5I["pack_chunks"],
        expect=("windowspecdefinition(bucket", "BroadcastHashJoin",
                "Generate", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # autocorrelation: keyed lead window + hash aggregate per lag,
    # union of the three lag frames — zero joins, zero Python
    audit(
        "acf_lags",
        _TEXT5I["acf_lags"],
        expect=("Window", "HashAggregate", "Union"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # fan triangulation: pure projection + Generate from Range — no
    # parquet scan, no joins, no Python
    audit(
        "triangulate_mesh",
        _GEO5I["triangulate_mesh"],
        expect=("Generate", "Range"),
        forbid=("Scan parquet", "Join", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5J
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5J

    # token budgeting: the running sum partitions on lang (parallel),
    # totals attach via broadcast — no corpus-scale single-partition
    # window, no nested loops, no Python
    audit(
        "token_budget_mix",
        _TEXT5J["token_budget_mix"],
        expect=("windowspecdefinition(lang", "BroadcastHashJoin",
                "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # modularity: keyed equi-joins + hash aggregates over the edge
    # list and the checkpointed LPA labels — never all-pairs, no Python
    audit(
        "modularity_score",
        _TEXT5J["modularity_score"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # great-circle waypoints: pure Range + Generate + trig projection —
    # no parquet scan, no joins, no Python
    audit(
        "gc_waypoints",
        _GEO5J["gc_waypoints"],
        expect=("Generate", "Range"),
        forbid=("Scan parquet", "Join", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5K

    # postings build: explode + distinct + ONE term-keyed aggregate
    # (sort_array inside the agg keeps it order-free) — no joins, no
    # Python
    audit(
        "postings_build",
        _TEXT5K["postings_build"],
        expect=("Generate", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # merkle root: 12 pairing rounds, each ONE lang+pos-keyed hash
    # aggregate (ObjectHashAggregate for min_by/max_by) — the only
    # join is the final tiny per-lang doc-count attach; no Python
    audit(
        "merkle_root",
        _TEXT5K["merkle_root"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # survivorship: two hash aggregates + one keyed join — order-free
    # struct-min election, no windows over the corpus, no Python
    audit(
        "survivorship_golden",
        _TEXT5K["survivorship_golden"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5L

    # LTTB: user-partitioned windows + keyed join + struct-max argmax
    # — never all-pairs, no Python
    audit(
        "lttb_downsample",
        _TEXT5L["lttb_downsample"],
        expect=("windowspecdefinition(user_id", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # encoding advisor: the per-value window partitions on
    # (col_name, bucket) — the corpus-scale scan is range-decomposed;
    # the only unpartitioned window is the per-bucket boundary frame
    audit(
        "encoding_advisor",
        _TEXT5L["encoding_advisor"],
        expect=("windowspecdefinition(col_name", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # attribution: ONE user-keyed running window (struct-carried click,
    # the as-of idiom) + one aggregate — zero joins, no Python
    audit(
        "attribution_last_touch",
        _TEXT5L["attribution_last_touch"],
        expect=("windowspecdefinition(user_id", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5M

    # bitmap algebra: word-keyed equi-join of the tiny word tables +
    # popcount aggregates; cardinalities attach via broadcast — never
    # a row-level join of the underlying doc sets, no Python
    audit(
        "bitmap_index_ops",
        _TEXT5M["bitmap_index_ops"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # skyline: the corpus-scale window partitions on the local-pass
    # bucket; the only unpartitioned window runs over the surviving
    # frontier — no joins at all, no Python
    audit(
        "dominance_skyline",
        _TEXT5M["dominance_skyline"],
        expect=("windowspecdefinition(bucket",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5N

    # k-anonymity: two hash aggregates + a 1-row broadcast total +
    # bounded k explode — no nested loops beyond the 1-row scalar
    # attach, no Python
    audit(
        "k_anonymity_audit",
        _TEXT5N["k_anonymity_audit"],
        expect=("HashAggregate", "Generate"),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # A/B z-test: two hash aggregates + a 1-row broadcast attach —
    # the only nested loop is the deliberate 1x1 scalar join
    audit(
        "ab_test_ztest",
        _TEXT5N["ab_test_ztest"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # vocabulary growth: one token scan, one term-keyed min-aggregate,
    # bounded threshold explode, keyed join of two tiny curves — no
    # per-k rescans (exactly one parquet scan in the plan), no Python
    audit(
        "zipf_vocab_growth",
        _TEXT5N["zipf_vocab_growth"],
        expect=("HashAggregate", "Generate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5O

    # sequence mining: one keyed lead window + one hash aggregate —
    # zero joins, no Python
    audit(
        "event_bigram_mining",
        _TEXT5O["event_bigram_mining"],
        expect=("windowspecdefinition(user_id", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # histogram: ONE hash aggregate over a projection — nothing else
    audit(
        "value_histogram",
        _TEXT5O["value_histogram"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5P
    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5P

    # confusion matrix: aggregates + one tiny per-class keyed join —
    # the voting rule stays in codegen (HOF filter), no Python
    audit(
        "langid_confusion",
        _TEXT5P["langid_confusion"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # IoU report: pure projection + ONE aggregate — no joins (pred and
    # truth boxes derive from the same row), no windows, no Python
    audit(
        "iou_eval",
        _GEO5P["iou_eval"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # calibration: projection + ONE aggregate — nothing else
    audit(
        "calibration_bins",
        _TEXT5P["calibration_bins"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5Q

    # data contracts: one aggregate per check + the RI left join —
    # never all-pairs, no Python, no collect-driven loops
    audit(
        "data_quality_checks",
        _TEXT5Q["data_quality_checks"],
        expect=("HashAggregate", "Union"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # entropy: per-column count aggregate + scalar roll-up, terms
    # quantized BEFORE summation (order-free) — no joins, no windows
    audit(
        "column_entropy",
        _TEXT5Q["column_entropy"],
        expect=("HashAggregate", "Union"),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5R

    # basket lift: distinct + user-keyed self-join (bounded: <=
    # |event types| rows per user) + aggregate + broadcast singles —
    # never a cross product, no Python
    audit(
        "basket_lift",
        _TEXT5R["basket_lift"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # concentration: per-source aggregate; the rank window runs over
    # the handful of source rows, never the corpus — no joins
    audit(
        "concentration_metrics",
        _TEXT5R["concentration_metrics"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5S

    # quantile sketch: type-partitioned rank window + tiny bin-frame
    # cumsum + keyed joins of the 15-row target/estimate frames —
    # never all-pairs, no Python
    audit(
        "quantile_sketch",
        _TEXT5S["quantile_sketch"],
        expect=("windowspecdefinition(event_type", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # time-to-convert: per-user firsts aggregate; the rank windows run
    # over the converted-users frame only — no joins, no Python
    audit(
        "time_to_convert",
        _TEXT5S["time_to_convert"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5T

    # readability: pure per-row projection — no joins, no windows
    audit(
        "readability_scores",
        _TEXT5T["readability_scores"],
        expect=("Project",),
        forbid=("Join", "Window", "HashAggregate", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # fertility: per-row merge-chain projection + one lang aggregate
    audit(
        "tokenizer_fertility",
        _TEXT5T["tokenizer_fertility"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5U

    # linear trend: one event_type aggregate over exact BIGINT moments
    # (map-side partial agg) — no joins, no windows, no Python
    audit(
        "linear_trend",
        _TEXT5U["linear_trend"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # benford: 9-digit aggregate + the 1-row scalar-total broadcast —
    # the only join is the deliberate 9x1 scalar attach
    audit(
        "benford_digits",
        _TEXT5U["benford_digits"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5V

    # longest streak: user-keyed window + two hash aggregates — the
    # window never partitions wider than one user
    audit(
        "longest_streak",
        _TEXT5V["longest_streak"],
        expect=("windowspecdefinition(user_id", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # chi-square grid: tiny dim-frame crosses (broadcast) + one
    # broadcast left join of the observed cells — never a corpus join
    audit(
        "chisq_independence",
        _TEXT5V["chisq_independence"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5W

    # kendall tau: lang-keyed self-join over the 20-per-lang frame —
    # equi-keyed on lang (bounded 20x20 per group), never all-pairs
    audit(
        "kendall_tau",
        _TEXT5W["kendall_tau"],
        expect=("windowspecdefinition(lang", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # holt: two hash aggregates + the in-Catalyst fold (aggregate HOF)
    # — no joins, no Python
    audit(
        "holt_forecast",
        _TEXT5W["holt_forecast"],
        expect=("HashAggregate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5X

    # dtw: keyed aggregates + the 1-row reference-series broadcast;
    # the DP fold itself is pure Catalyst HOF — no Python anywhere
    audit(
        "dtw_distance",
        _TEXT5X["dtw_distance"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "ArrowEvalPython", "BatchEvalPython"),
    )
    # zscore: 5-row stats frame broadcast back onto the corpus — the
    # corpus itself never shuffles for the join
    audit(
        "zscore_normalize",
        _TEXT5X["zscore_normalize"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5Y

    # areal interpolation: bounded 3x3 explode + one tile-keyed
    # aggregate — no joins at all, pure integers
    audit(
        "areal_interpolate",
        _GEO5Y["areal_interpolate"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # frechet: user-keyed window/aggregate + in-Catalyst nested fold;
    # the reference polyline is built closed-form (no join needed)
    audit(
        "frechet_distance",
        _GEO5Y["frechet_distance"],
        expect=("HashAggregate", "windowspecdefinition(user_id"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5Z

    # toposort: checkpointed equi-join + max-agg rounds only (the bfs
    # shape); the visible plan is the final checkpointed state — the
    # per-round shape is the same equi-join + HashAggregate as bfs
    audit(
        "toposort_layers",
        _TEXT5Z["toposort_layers"],
        expect=("Scan ExistingRDD",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # psi: two corpus filters + the 9-value cuts broadcast + bin
    # aggregate; the crosses are 1-row scalar attaches
    audit(
        "psi_drift",
        _TEXT5Z["psi_drift"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5AA

    # rrf: lang-partitioned rank windows + top-10 window — no joins
    # at all (both rankings come from one frame)
    audit(
        "rrf_fusion",
        _TEXT5AA["rrf_fusion"],
        expect=("windowspecdefinition(lang",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # roc_auc: score-group aggregate + lang-partitioned cumsum window
    # + final aggregate — no joins, pure integers
    audit(
        "roc_auc",
        _TEXT5AA["roc_auc"],
        expect=("HashAggregate", "windowspecdefinition(lang"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5BB

    # prefix rollup: bounded <=3 explode + one prefix aggregate — no
    # joins at all
    audit(
        "path_prefix_rollup",
        _TEXT5BB["path_prefix_rollup"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # theil-sen: type-keyed self-join over <=31 day rows (bounded
    # ~465 pairs per type) + rank window — never all-pairs over rows
    audit(
        "theil_sen_slope",
        _TEXT5BB["theil_sen_slope"],
        expect=("HashAggregate", "windowspecdefinition(event_type"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5CC

    # ndcg: two lang rank windows + one aggregate with ordered folds
    # — no joins
    audit(
        "ndcg_at_k",
        _TEXT5CC["ndcg_at_k"],
        expect=("windowspecdefinition(lang", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # mase: daily aggregate + lag window + final aggregate — no joins,
    # pure integers
    audit(
        "backtest_mase",
        _TEXT5CC["backtest_mase"],
        expect=("HashAggregate", "windowspecdefinition(event_type"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5DD, TEXTOPS as _TEXT5DD

    # partition evolution: the readback is parquet scans + one
    # aggregate — no Python, no cross product (the union of the two
    # layouts is a plain unionByName)
    audit(
        "partition_evolution",
        _GEO5DD["partition_evolution"],
        expect=("HashAggregate", "Union"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # l-diversity: one QI-group aggregate — no joins
    audit(
        "l_diversity_audit",
        _TEXT5DD["l_diversity_audit"],
        expect=("HashAggregate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5EE

    # sq8: posexplode + the 64-row per-dim stats broadcast back onto
    # the elements — the element stream never shuffles for the join
    audit(
        "sq8_quantize",
        _TEXT5EE["sq8_quantize"],
        expect=("HashAggregate", "BroadcastHashJoin", "Generate"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # weighted median: lang-partitioned cumsum + rank windows — no
    # joins, pure integers
    audit(
        "weighted_median",
        _TEXT5EE["weighted_median"],
        expect=("windowspecdefinition(lang",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5FF, TEXTOPS as _TEXT5FF

    # diameter: user-keyed self-join over <=48 capped points (bounded
    # 48x48 per group) + rank window — never corpus all-pairs
    audit(
        "point_diameter",
        _GEO5FF["point_diameter"],
        expect=("windowspecdefinition(user_id",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # twap: lead window + one aggregate — no joins, pure integers
    audit(
        "twap_value",
        _TEXT5FF["twap_value"],
        expect=("HashAggregate", "windowspecdefinition(user_id"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5GG, TEXTOPS as _TEXT5GG

    # neighbors: bounded 8-way explode over literal-shift bit sums —
    # whole-stage codegen ("codegen id" in the formatted plan), no
    # joins, no Python
    audit(
        "geohash_neighbors",
        _GEO5GG["geohash_neighbors"],
        expect=("Generate", "codegen id"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # markov: lag window + pair aggregate + row-total window — no
    # joins, pure integers
    audit(
        "markov_transitions",
        _TEXT5GG["markov_transitions"],
        expect=("HashAggregate", "windowspecdefinition(user_id"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5HH

    # spearman: two lang rank windows + one aggregate — O(n) per
    # group (vs kendall's bounded pairwise), no joins
    audit(
        "spearman_rho",
        _TEXT5HH["spearman_rho"],
        expect=("windowspecdefinition(lang", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # fdr: the m-row test battery ranks in one global window (the
    # battery is GROUPS, never the corpus) — no joins
    audit(
        "fdr_bh",
        _TEXT5HH["fdr_bh"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5II

    # emd: one bin aggregate + ~20-row cumsum windows + final scalar
    # — no joins, pure integers
    audit(
        "emd_1d",
        _TEXT5II["emd_1d"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # mi: cell aggregate + marginal windows over the grid rows + one
    # ordered fold — no joins
    audit(
        "mutual_information",
        _TEXT5II["mutual_information"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5JJ, TEXTOPS as _TEXT5JJ

    # rose: lag window + integer sector CASE + two aggregates — no
    # joins, no transcendentals
    audit(
        "bearing_rose",
        _GEO5JJ["bearing_rose"],
        expect=("HashAggregate", "windowspecdefinition(user_id"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # clamped balance: one groupBy + the in-Catalyst fold — no joins,
    # no windows, pure integers
    audit(
        "clamped_balance",
        _TEXT5JJ["clamped_balance"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5KK, TEXTOPS as _TEXT5KK

    # hrw: per-row bounded 16-node fold, pure projection — no joins,
    # no windows, no Python
    audit(
        "rendezvous_assign",
        _TEXT5KK["rendezvous_assign"],
        expect=("Project",),
        forbid=("Join", "Window", "HashAggregate", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # zonemap audit: the 6-row metadata frame self-joins broadcast —
    # the corpus is touched only by the one-time icelite write
    audit(
        "zonemap_overlap_audit",
        _GEO5KK["zonemap_overlap_audit"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5LL, TEXTOPS as _TEXT5LL

    # cross-track: user-keyed anchor windows + rank window — no
    # joins, pure integers
    audit(
        "cross_track_dev",
        _GEO5LL["cross_track_dev"],
        expect=("windowspecdefinition(user_id",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # kappa: confusion aggregate + marginal windows over the 16-cell
    # grid + one scalar aggregate — no joins
    audit(
        "cohens_kappa",
        _TEXT5LL["cohens_kappa"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5MM

    # power-law: bounded explode + two aggregates + one 13-row
    # ordered fold — no joins
    audit(
        "degree_powerlaw",
        _TEXT5MM["degree_powerlaw"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # impute: mode frame (few rows) broadcast back onto the corpus —
    # the corpus never shuffles for the join
    audit(
        "mode_impute",
        _TEXT5MM["mode_impute"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5NN

    # concurrency: endpoint union + type-keyed cumsum + rank window —
    # no joins
    audit(
        "max_concurrency",
        _TEXT5NN["max_concurrency"],
        expect=("windowspecdefinition(event_type", "Union"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # sprt: user-keyed cumsum windows + the per-user first-crossing
    # frame broadcast back — never a corpus shuffle join
    audit(
        "sprt_crossing",
        _TEXT5NN["sprt_crossing"],
        expect=("windowspecdefinition(user_id", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5OO

    # kmv: bounded explode + lang rank window + the tiny kth/exact
    # frames joined — no corpus self-join, no Python
    audit(
        "kmv_distinct",
        _TEXT5OO["kmv_distinct"],
        expect=("windowspecdefinition(lang", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # audience overlap: ONE user-keyed bitmask aggregate + bounded
    # 10-pair explode — never a corpus self-join
    audit(
        "audience_overlap",
        _TEXT5OO["audience_overlap"],
        expect=("HashAggregate", "Generate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5PP, TEXTOPS as _TEXT5PP

    # coverage gaps: closed-form universe + broadcast LEFT ANTI against
    # the dilated cell set — never universe x corpus
    audit(
        "coverage_gaps",
        _GEO5PP["coverage_gaps"],
        expect=("BroadcastHashJoin", "LeftAnti"),
        forbid=("SortMergeJoin", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # mix shift: one segment aggregate + the 1-row totals broadcast
    audit(
        "mix_shift",
        _TEXT5PP["mix_shift"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5QQ, TEXTOPS as _TEXT5QQ

    # hex: bounded 9-way candidate explode + per-point argmin window
    # + one bin aggregate — no joins, pure integers
    audit(
        "hex_bin",
        _GEO5QQ["hex_bin"],
        expect=("Generate", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # latency: lag window + bucket aggregate + cumsum windows — no
    # joins, integer log2 via binary-string length
    audit(
        "latency_histogram",
        _TEXT5QQ["latency_histogram"],
        expect=("windowspecdefinition(event_type", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5RR2

    # kwic: pure instr/substr projection + a 2-way union — no joins,
    # no windows, no regex backtracking
    audit(
        "kwic_concordance",
        _TEXT5RR2["kwic_concordance"],
        expect=("Union", "Project"),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # feature hashing: token explode + two aggregates + the 32-row
    # stats frame broadcast back
    audit(
        "feature_hashing",
        _TEXT5RR2["feature_hashing"],
        expect=("HashAggregate", "BroadcastHashJoin", "Generate"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5SS, TEXTOPS as _TEXT5SS

    # gdpr: post-delete readback aggregate + the 1-row changelog
    # scalar broadcast; exceptAll inside changes() is keyed hash aggs
    audit(
        "gdpr_forget",
        _GEO5SS["gdpr_forget"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("CartesianProduct", "ArrowEvalPython", "BatchEvalPython"),
    )
    # star rollup: fact-side joins + three broadcast dims — the dims
    # must never shuffle
    audit(
        "star_revenue_rollup",
        _TEXT5SS["star_revenue_rollup"],
        expect=("BroadcastHashJoin", "HashAggregate"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5TT

    # business days: one equi-join + order aggregate, closed-form
    # weekday CASE — no windows, no Python
    audit(
        "business_days",
        _TEXT5TT["business_days"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # heatmap: one 168-cell aggregate + the share window over cells
    audit(
        "dow_hour_heatmap",
        _TEXT5TT["dow_hour_heatmap"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5UU

    # control chart: daily + overall aggregates, overall broadcast
    # back onto the ~150 daily rows
    audit(
        "control_chart",
        _TEXT5UU["control_chart"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # winsorized mean: rank windows + the 5-row bounds broadcast back
    # onto the corpus — the corpus never shuffles for the join
    audit(
        "winsorized_mean",
        _TEXT5UU["winsorized_mean"],
        expect=("windowspecdefinition(event_type", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5VV

    # cidr: the 16-row block table broadcasts (the cross is the
    # deliberate bounded prefix probe) + longest-prefix rank window
    audit(
        "cidr_match",
        _TEXT5VV["cidr_match"],
        expect=("windowspecdefinition(event_id", "HashAggregate"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # abc: one part aggregate + global cumsum/rank windows over the
    # part frame (parts, never lineitems)
    audit(
        "abc_classification",
        _TEXT5VV["abc_classification"],
        expect=("HashAggregate", "Window"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5WW, TEXTOPS as _TEXT5WW

    # copresence: distinct + one cell aggregate, NO pair join — the
    # count shortcut is the whole point
    audit(
        "copresence_pairs",
        _GEO5WW["copresence_pairs"],
        expect=("HashAggregate",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # quantile transform: one rank window per type — no joins
    audit(
        "quantile_transform",
        _TEXT5WW["quantile_transform"],
        expect=("windowspecdefinition(event_type",),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5XX, TEXTOPS as _TEXT5XX

    # corridor: bounded 23-segment explode per sampled point + one
    # aggregate — no joins, division-free integer predicates
    audit(
        "corridor_membership",
        _GEO5XX["corridor_membership"],
        expect=("Generate", "HashAggregate"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # nvr: first-seen frame broadcast back + daily aggregate + the
    # ~30-row cumulative window
    audit(
        "new_vs_returning",
        _TEXT5XX["new_vs_returning"],
        expect=("HashAggregate", "BroadcastHashJoin"),
        forbid=("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5YY

    # ohlc: ONE aggregate with min_by/max_by on the packed order key
    # — no windows, no joins
    audit(
        "ohlc_candles",
        _TEXT5YY["ohlc_candles"],
        expect=("HashAggregate",),
        forbid=("Join", "Window", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # movers: daily aggregate + lag + day-rank windows over the ~150
    # daily rows
    audit(
        "top_movers",
        _TEXT5YY["top_movers"],
        expect=("HashAggregate", "windowspecdefinition(event_type"),
        forbid=("Join", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5ZZ

    # parity: both assignment plans + one url equi-join + method agg;
    # the Arrow stage is the deliberate kernel path
    audit(
        "assign_path_parity",
        _GEO5ZZ["assign_path_parity"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BatchEvalPython"),
    )
    # method share: flagship output + the 1-row total broadcast
    audit(
        "method_share",
        _GEO5ZZ["method_share"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "CartesianProduct", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5AAA

    # kaplan-meier: one user-keyed aggregate, the 1-row horizon
    # broadcast back, then calendar-bounded window + one-group fold —
    # no data-sized joins, no Python
    audit(
        "kaplan_meier",
        _TEXT5AAA["kaplan_meier"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin"),
        forbid=("SortMergeJoin", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )
    # rfm: one custkey aggregate + 1-row horizon broadcast + the three
    # customer-count ntile windows (small-dim path, like ntile_buckets)
    audit(
        "rfm_segments",
        _TEXT5AAA["rfm_segments"],
        expect=("HashAggregate", "BroadcastNestedLoopJoin", "Window"),
        forbid=("SortMergeJoin", "CartesianProduct", "ArrowEvalPython",
                "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import TEXTOPS as _TEXT5BBB

    # item_cf: one basket shuffle + HOF pair expansion (no corpus
    # self-join), support joins on the parts dim, top-5 window —
    # no Python, no cross join anywhere
    audit(
        "item_cf",
        _TEXT5BBB["item_cf"],
        expect=("HashAggregate", "Window"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # fifo: two window cumsums + an equi-join on partkey with range
    # residuals — must never degrade to a cross product
    audit(
        "fifo_allocation",
        _TEXT5BBB["fifo_allocation"],
        expect=("Window",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    from hand_index_spark.entry_queries import GEO_QUERIES as _GEO5CCC, TEXTOPS as _TEXT5CCC

    # cells_compact: one corpus distinct + 4 cover-sized window rounds,
    # all Catalyst bit arithmetic — no joins, no Python
    audit(
        "cells_compact",
        _GEO5CCC["cells_compact"],
        expect=("HashAggregate", "Window"),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )
    # link_predict: wedge equi-join on the center node + anti-join of
    # existing edges — never a cross product, no Python
    audit(
        "link_predict",
        _TEXT5CCC["link_predict"],
        expect=("HashAggregate",),
        forbid=("CartesianProduct", "BroadcastNestedLoopJoin",
                "ArrowEvalPython", "BatchEvalPython"),
    )

    # ROI query: the covering-cell predicate must reach the scan as a
    # PARTITION filter (the reference hive-partitioned by h3 but never
    # pruned — SURVEY §4.1; this engine's fix must be visible in the plan)
    import json as _json
    import tempfile

    from hand_index_spark.pipelines.build_index import build_index
    from hand_index_spark.pipelines.query_roi import roi_query
    from hand_index_spark.tables import datagen
    from hand_index_spark.tables.icelite import IceliteTable

    root = tempfile.mkdtemp(prefix="plan_audit_idx_")
    build_index(spark, datagen.tiles_raw(spark), datagen.file_manifest(spark), root)
    catchments = IceliteTable(root, "catchments").read(spark)
    kept, _attrs, _stats = roi_query(
        spark, catchments, _json.dumps(datagen.roi_geojson("within"))
    )
    audit(
        "roi_query_kept",
        lambda _s, _d: kept,
        expect=("PartitionFilters: [h3_index", "PushedFilters:"),
    )

    out = ["# PLANS — physical-plan audit (auto-generated by scripts/plan_audit.py)\n"]
    out.append("## Checks\n")
    out.append("| query | property | ok |\n|---|---|---|\n")
    for name, prop, ok in checks:
        out.append(f"| {name} | `{prop}` | {'✅' if ok else '❌'} |\n")
    for name, plan, ok in sections:
        out.append(f"\n## {name} {'✅' if ok else '❌'}\n\n```\n{plan}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.writelines(out)
    bad = [c for c in checks if not c[2]]
    print(f"{len(checks) - len(bad)}/{len(checks)} plan checks pass")
    for name, prop, _ in bad:
        print(f"FAIL: {name}: {prop}")
    spark.stop()


if __name__ == "__main__":
    main()
