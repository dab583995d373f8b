"""The two workloads. Each has a ``setup`` (seeded inputs and
anything a user of the system would also pay once), ``warmups()``, an
``op(i)`` for the closed loop, and ``layers(i, out)`` for the traced
run: it calls each layer's public function, materialises its output
with the no-op sink and records a span around it.

An op object has ``run()`` (the timed part), ``check(out)`` (None or
what is wrong), ``cleanup()`` and ``units`` (work done, for throughput).
"""

from __future__ import annotations

import shutil
import statistics
from pathlib import Path

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from hand_index_spark.geo import albers
from hand_index_spark.geo import cells as h3lite
from hand_index_spark.geo import polygon as P
from hand_index_spark.operators import assign as A
from hand_index_spark.operators import encode as E
from hand_index_spark.operators.overlap import refine_overlap
from hand_index_spark.operators.skew import detect_hot_cells, salted_repartition
from hand_index_spark.operators.union_agg import union_branches
from hand_index_spark.pipelines.build_index import CATCHMENT_PARTITION_RES, build_catchments, build_index
from hand_index_spark.pipelines.query_roi import roi_candidates, roi_query
from hand_index_spark.sources.geojson import load_roi
from hand_index_spark.tables import tilegrid as tg
from hand_index_spark.tables.icelite import IceliteTable

from . import checks, gen
from .harness import JobCounter, Tracer, dir_stats, noop, run_plan

SIZES = {
    "full": {"branches": 1000, "deck": 400, "pages": 500_000, "sample": 2000},
    "tiny": {"branches": 40, "deck": 24, "pages": 20_000, "sample": 200},
}
WARMUPS = {"roi": 6, "assign": 5}

# Every per-layer metric, in print order. A layer that a workload does
# not run reports 0 there: it did no work.
LAYER_METRICS = {
    "session.start_s": "s",
    "geojson.load_roi_ms": "ms",
    "cells.cover_ms": "ms",
    "cells.cover_cells": "count",
    "query_roi.coarse_ms": "ms",
    "query_roi.partitions_scanned": "count",
    "query_roi.candidates": "count",
    "query_roi.attrs_self_ms": "ms",
    "overlap.refine_self_ms": "ms",
    "overlap.rows_in": "count",
    "overlap.kept_ratio": "ratio",
    "union_agg.self_ms": "ms",
    "union_agg.groups": "count",
    "union_agg.method_dissolve": "count",
    "union_agg.method_overlay": "count",
    "union_agg.method_hull": "count",
    "build_index.catchments_self_ms": "ms",
    "build_index.asset_joins_ms": "ms",
    "icelite.write_ms": "ms",
    "icelite.files_written": "count",
    "icelite.bytes_written": "B",
    "icelite.partition_dirs": "count",
    "icelite.rows_per_file": "count",
    "icelite.stored_bytes_per_row": "B",
    "icelite.read_ms": "ms",
    "skew.detect_ms": "ms",
    "skew.hot_cells": "count",
    "skew.repartition_self_ms": "ms",
    "encode.self_ms": "ms",
    "assign.self_ms": "ms",
    "assign.knn_share": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "trace.op_ms": "ms",
    "trace.unaccounted_share": "ratio",
}


class Op:
    def __init__(self, run, check, cleanup=lambda: None, units=1):
        self.run, self.check, self.cleanup, self.units = run, check, cleanup, units


class Workload:
    name = ""

    def __init__(self, spark, seed: int, scale: str, work: Path, tracer: Tracer | None, inject_fault: bool):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[scale]
        self.work = work
        self.tracer = tracer
        self.jobs = JobCounter(spark)
        self.inject_fault = inject_fault
        self.layer: dict[str, list[float]] = {}
        self.checksum: str | None = None

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def layer_metrics(self) -> dict[str, float]:
        """Median over traced ops of each recorded layer value."""
        return {k: statistics.median(v) for k, v in self.layer.items()}

    def _corrupt(self, i: int) -> bool:
        return self.inject_fault and i == WARMUPS[self.name]

    def warmups(self) -> list[Op]:
        return [self.op(i) for i in range(WARMUPS[self.name])]

    def traced(self, i: int, real_op: Op) -> Op:
        """Wrap the real op in an ``op`` span (with its Spark job
        counts), then run the layer decomposition under a ``layers``
        span; the layer spans share the op id."""
        tr = self.tracer

        def run():
            with self.jobs.group() as jc, tr.span("op", i) as sp:
                out = real_op.run()
            op_ms = tr.dur_ms(sp)
            with tr.span("layers", i):
                accounted = self.layers(i, out)
            self.note("trace.op_ms", op_ms)
            self.note("trace.unaccounted_share", (op_ms - accounted) / op_ms)
            self.note("spark.jobs_per_op", jc["jobs"])
            self.note("spark.stages_per_op", jc["stages"])
            self.note("spark.tasks_per_op", jc["tasks"])
            return out

        return Op(run, real_op.check, real_op.cleanup, real_op.units)


# ------------------------------------------------------------------- roi


class Roi(Workload):
    """One op is ``roi_query`` of the next seeded ROI, with ``kept`` and
    ``attrs`` materialised on the driver, against the index that
    ``build_index`` builds from a seeded HAND tree in set-up (the first
    warm-up, checked like an op). A traced run also decomposes that
    build into its layers."""

    name = "roi"

    def setup(self) -> None:
        self.tree = gen.hand_tree(self.seed, self.size["branches"])
        self.oracle = checks.RoiOracle(self.tree)
        self.deck = gen.roi_deck(self.seed, self.size["deck"], self.tree)
        self.tiles_raw = self.spark.createDataFrame(
            self.tree.tiles_raw, "geom binary, branch_path string, src_file string"
        ).localCheckpoint(eager=True)
        self.manifest = self.spark.createDataFrame(self.tree.manifest, "file string").localCheckpoint(eager=True)
        self.root = self.work / "index"

    def warmups(self) -> list[Op]:
        return [self.build_op()] + super().warmups()

    def _build(self, root: Path) -> dict:
        return build_index(
            self.spark, self.tiles_raw, self.manifest, str(root), input_fingerprint=f"seed{self.seed}"
        )

    def build_op(self) -> Op:
        """``build_index`` of the tree into the index the queries read."""
        spark, tr = self.spark, self.tracer

        def run():
            if not tr:
                return self._build(self.root)
            with tr.span("build", -1):
                snaps = self._build(self.root)
            with tr.span("layers", -1):
                self.build_layers()
            return snaps

        def check(snaps) -> str | None:
            self.checksum = snaps["catchments"]["checksum"]
            self.catchments = IceliteTable(str(self.root), "catchments").read(spark)
            self.sats = {n: IceliteTable(str(self.root), n).read(spark) for n in self.tree.assets}
            rows = self.catchments.select("catchment_id", "branch_path", "geometry", "geom_count").collect()
            counts = {n: df.count() for n, df in self.sats.items()}
            return checks.check_build(self.tree, [tuple(r) for r in rows], counts)

        return Op(run, check, units=len(self.tree.ids))

    def build_layers(self) -> None:
        tr, spark, op = self.tracer, self.spark, -1
        raw = self.tiles_raw
        # the P4 path filter and J7 first-file dedup of build_catchments,
        # restated so the union's input can be materialised on its own
        src = raw.filter(F.col("src_file").contains("/branches/") & ~F.col("src_file").contains("_pixels_"))
        w = Window.partitionBy("branch_path").orderBy("src_file")
        first = (
            src.select("branch_path", "src_file").distinct()
            .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
            .select("branch_path", "src_file")
        )
        deduped = src.join(F.broadcast(first), ["branch_path", "src_file"])
        with tr.span("union_agg.input", op) as s_in:
            noop(deduped)
        with tr.span("union_agg", op, input=s_in["id"]) as s_u:
            methods = dict(union_branches(deduped).groupBy("union_method").count().collect())
        with tr.span("build_index.catchments", op) as s_bc:
            noop(build_catchments(raw))
        root_w = self.work / "layer-write"
        with tr.span("icelite.write", op, input=s_bc["id"]) as s_w:
            IceliteTable(str(root_w), "catchments").write(
                build_catchments(raw).repartition("h3_index"), partition_by=["h3_index"],
                stage="build_catchments", lineage_key="h3_r5",
            )
        # asset joins alone: a root whose catchments stage is already
        # committed makes build_index skip straight to the joins
        root_a = self.work / "layer-assets"
        shutil.copytree(self.root / "catchments", root_a / "catchments")
        with tr.span("build_index.asset_joins", op) as s_a:
            self._build(root_a)
        with tr.span("icelite.read", op) as s_r:
            noop(IceliteTable(str(self.root), "catchments").read(spark))
        tables = ("catchments", *self.tree.assets)
        files, size, dirs = dir_stats(self.root / "catchments" / "data")
        all_size = sum(dir_stats(self.root / t / "data")[1] for t in tables)
        n = len(self.tree.ids)
        shutil.rmtree(root_w, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)

        union_self = tr.self_ms(s_u)
        self.note("union_agg.self_ms", union_self)
        self.note("union_agg.groups", sum(methods.values()))
        for m in ("dissolve", "overlay", "hull"):
            self.note(f"union_agg.method_{m}", methods.get(m, 0))
        self.note("build_index.catchments_self_ms", tr.dur_ms(s_bc) - union_self)
        self.note("build_index.asset_joins_ms", tr.dur_ms(s_a))
        self.note("icelite.write_ms", tr.self_ms(s_w))
        self.note("icelite.files_written", files)
        self.note("icelite.bytes_written", size)
        self.note("icelite.partition_dirs", dirs)
        self.note("icelite.rows_per_file", n / max(files, 1))
        self.note("icelite.stored_bytes_per_row", all_size / (n + sum(self.tree.asset_rows.values())))
        self.note("icelite.read_ms", tr.dur_ms(s_r))
        if methods.get("dissolve", 0) != n:
            raise ValueError(f"union methods {methods}: expected all {n} dissolve")

    def _query(self, q):
        return roi_query(
            self.spark, self.catchments, q.geojson,
            self.sats["hydrotables"], self.sats["rem_rasters"], self.sats["catchment_rasters"],
            collect_stats=False,
        )

    def op(self, i: int) -> Op:
        q = self.deck[i % len(self.deck)]

        def run():
            kept, attrs, _ = self._query(q)
            return list(kept.toPandas()["catchment_id"]), list(attrs.toPandas()["catchment_id"])

        def check(out) -> str | None:
            kept_ids, attr_ids = out
            if self._corrupt(i):
                kept_ids = kept_ids + ["not-a-catchment"]
            return checks.check_roi(self.oracle, q.ring, kept_ids, attr_ids)

        return Op(run, check)

    def layers(self, i: int, out) -> float:
        tr, spark = self.tracer, self.spark
        q = self.deck[i % len(self.deck)]
        with tr.span("geojson.load_roi", i) as s_g:
            ring = load_roi(q.geojson)[0]
        x, y = albers.forward(ring[:, 0], ring[:, 1])
        ring5070 = np.column_stack([x, y])
        # times cover_bbox over roi_candidates' buffered bbox, restated;
        # the cell count is read from the plan below
        lon0, lat0, lon1, lat1 = P.bbox_of(ring)
        cs = 1.0 / (1 << CATCHMENT_PARTITION_RES)
        buf = (int(np.ceil(max(tg.W, tg.H) / cs)) + 1) * cs
        with tr.span("cells.cover", i) as s_c:
            h3lite.cover_bbox(lon0 - buf, lat0 - buf, lon1 + buf, lat1 + buf, CATCHMENT_PARTITION_RES)
        coarse = roi_candidates(self.catchments, ring, ring5070)
        with tr.span("query_roi.coarse", i) as s_q:
            scan = run_plan(coarse)
        with tr.span("overlap.refine", i, input=s_q["id"]) as s_r:
            noop(refine_overlap(coarse, spark, ring5070))
        kept, attrs, _ = self._query(q)
        with tr.span("query_roi.kept", i) as s_k:
            noop(kept)
        with tr.span("query_roi.attrs", i, input=s_k["id"]) as s_a:
            noop(attrs)
        candidates = coarse.count()
        self.note("geojson.load_roi_ms", tr.dur_ms(s_g))
        self.note("cells.cover_ms", tr.dur_ms(s_c))
        self.note("cells.cover_cells", scan["in_list"])
        self.note("query_roi.coarse_ms", tr.dur_ms(s_q))
        self.note("query_roi.partitions_scanned", scan["partitions"])
        self.note("query_roi.candidates", candidates)
        self.note("query_roi.attrs_self_ms", tr.self_ms(s_a))
        self.note("overlap.refine_self_ms", tr.self_ms(s_r))
        self.note("overlap.rows_in", candidates)
        self.note("overlap.kept_ratio", len(out[0]) / candidates if candidates else 0.0)
        return tr.dur_ms(s_g) + tr.dur_ms(s_c) + tr.dur_ms(s_q) + tr.self_ms(s_r) + tr.self_ms(s_a)


# ---------------------------------------------------------------- assign


class Assign(Workload):
    """One op = P seeded pages through geotag -> cells -> the fused
    PIP/kNN/S2 UDF -> the (tile, method) histogram; nothing written."""

    name = "assign"

    def setup(self) -> None:
        n = self.size["pages"]
        self.base = gen.page_base(self.seed, n)
        self.expected = checks.expected_histogram(np.arange(self.base, self.base + n, dtype=np.int64))
        self.pages = self._pages(self.spark.range(self.base, self.base + n).withColumnRenamed("id", "doc_id"))

    @staticmethod
    def _pages(ids):
        url = F.concat(
            F.lit("https://site"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example/d"), F.col("doc_id").cast("string"),
        )
        return ids.withColumn("url", url)

    def _assigned(self, pages):
        return A.assign_tiles(E.with_cells(E.with_geotag(pages)), self.spark, pip="convex", with_s2=True)

    def sample_op(self) -> Op:
        """A seeded page sample through the engine, page by page,
        against the DuckDB oracle."""
        ids = gen.page_sample(self.seed, self.size["pages"], self.size["sample"])

        def run():
            df = self._pages(self.spark.createDataFrame([(int(d),) for d in ids], "doc_id long"))
            return {r.doc_id: (r.tile_id, r.method) for r in self._assigned(df).select("doc_id", "tile_id", "method").collect()}

        def check(got) -> str | None:
            want = checks.duckdb_assign(ids)
            bad = [d for d in want if got.get(d) != want[d]]
            return f"{len(bad)} sampled pages differ from the DuckDB oracle" if bad or len(got) != len(want) else None

        return Op(run, check)

    def op(self, i: int) -> Op:
        def run():
            asg = self._assigned(self.pages)
            mix = F.col("s2_cell")
            for res in (5, 6, 7, 8, 9):
                mix = mix.bitwiseXOR(F.col(f"h3_r{res}"))
            rows = (
                asg.groupBy("tile_id", "method")
                .agg(F.count(F.lit(1)).alias("n"), F.bit_xor(mix).alias("x"))
                .collect()
            )
            return {(r.tile_id, r.method): (r.n, r.x) for r in rows}

        def check(hist) -> str | None:
            if self._corrupt(i):
                k = next(iter(hist))
                hist = {**hist, k: (hist[k][0] - 1, hist[k][1])}
            total = sum(v[0] for v in hist.values())
            if total != self.size["pages"]:
                return f"histogram holds {total} pages, not {self.size['pages']}"
            if hist != self.expected:
                return "histogram differs from the oracle"
            return None

        return Op(run, check, units=self.size["pages"])

    def warmups(self) -> list[Op]:
        return [self.sample_op()] + super().warmups()

    def layers(self, i: int, hist) -> float:
        tr, spark = self.tracer, self.spark
        with tr.span("pages", i) as s_p:
            noop(self.pages)
        # ingest_pages keys pages by the res-0 cell before assigning
        enc = E.with_cells(E.with_geotag(self.pages))
        keyed = enc.withColumn("h3_r0", h3lite.encode_col(F.col("lat"), F.col("lon"), 0))
        with tr.span("encode", i, input=s_p["id"]) as s_e:
            noop(keyed)
        with tr.span("skew.detect", i) as s_d:
            hot = detect_hot_cells(keyed, "h3_r0", quantile=0.99, sample_fraction=0.1)
        with tr.span("assign", i, input=s_e["id"]) as s_a:
            asg = A.assign_tiles(keyed, spark, pip="convex", with_s2=True)
            noop(asg)
        with tr.span("skew.repartition", i, input=s_a["id"]) as s_r:
            noop(salted_repartition(asg, spark.sparkContext.defaultParallelism, cell_col="h3_r0", hot_cells=hot or None))
        knn = sum(v[0] for (_, m), v in hist.items() if m == "knn")
        self.note("encode.self_ms", tr.self_ms(s_e))
        self.note("assign.self_ms", tr.self_ms(s_a))
        self.note("assign.knn_share", knn / self.size["pages"])
        self.note("skew.detect_ms", tr.dur_ms(s_d))
        self.note("skew.hot_cells", len(hot))
        self.note("skew.repartition_self_ms", tr.self_ms(s_r))
        return tr.dur_ms(s_p) + tr.self_ms(s_e) + tr.self_ms(s_a)


WORKLOADS = {w.name: w for w in (Roi, Assign)}
