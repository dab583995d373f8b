"""icelite — Iceberg-style table layer: snapshots, manifests, lineage.

No Iceberg runtime jar exists in this sandbox, so the engine emulates
the parts the north rule actually needs (BASELINE.json:6,14):

- **atomic publish**: each write lands in a fresh uniquely-named
  subdirectory under ``data/``; the snapshot JSON records the exact
  directory list (``data_paths``) and ``_meta/current`` is swapped last
  (POSIX rename). ``read()`` resolves paths through the current
  snapshot, so a reader sees either the previous complete snapshot or
  the new complete one — never partial data; a crashed write leaves
  only an unreferenced directory. This is the grown-up version of the
  reference's constraint-free staging table + upsert
  (load.py:62-64,190-196) and its refuse-to-overwrite guard
  (load.py:326-348).
- **per-file lineage rows**: every write records, per committed file,
  (cell range, row count, checksum, wall-time) — appended to
  ``_meta/lineage`` as parquet. The checksum is an order-insensitive
  xxhash64 XOR so it is stable under shuffle nondeterminism. The same
  one pass gives the snapshot summary and the per-file zone maps.
- **idempotent resume**: ``stage_done()`` checks whether a stage already
  committed a snapshot for the same (stage, input fingerprint); pipeline
  drivers skip completed stages mid-job (reference ``--skip-load``
  resume flag, load.py:316,351-356, generalized).

Layout on disk::

    <root>/<table>/data/...(hive-partitioned parquet)...
    <root>/<table>/_meta/snap-<n>.json     (data_paths; files: [{path, stats: {col: [min, max]}}])
    <root>/<table>/_meta/current           (atomic pointer, rename-swapped)
    <root>/<table>/_meta/lineage/*.parquet
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the snapshot id this writer computed —
    the optimistic-concurrency conflict Iceberg surfaces as
    CommitFailedException. The losing writer's data directory is
    unreferenced (atomic publish), so the correct recovery is: re-read
    the table, re-derive the write, retry."""


class NonAppendHistoryError(RuntimeError):
    """The snapshot range contains a rewrite (overwrite / compact /
    MERGE / DELETE), so "files added since" is not the row delta.
    Incremental consumers catch this and fall back to a full scan."""


class IceliteTable:
    def __init__(self, root: str, name: str):
        self.base = os.path.join(root, name)
        self.data_dir = os.path.join(self.base, "data")
        self.meta_dir = os.path.join(self.base, "_meta")
        self.lineage_dir = os.path.join(self.meta_dir, "lineage")
        self.bloom_dir = os.path.join(self.meta_dir, "blooms")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    # ------------------------------------------------------------ snapshots

    def _pointer_file(self, pointer: str) -> str:
        # "current" is the published table head; any other name is a
        # staging branch pointer (Iceberg's write-audit-publish refs)
        name = pointer if pointer == "current" else f"branch-{pointer}"
        return os.path.join(self.meta_dir, name)

    def _head(self, pointer: str) -> dict | None:
        ptr = self._pointer_file(pointer)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snap_file = f.read().strip()
        with open(os.path.join(self.meta_dir, snap_file)) as f:
            return json.load(f)

    def current_snapshot(self) -> dict | None:
        return self._head("current")

    def _snap_by_id(self, sid: int) -> dict | None:
        p = os.path.join(self.meta_dir, f"snap-{sid:06d}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _next_sid(self) -> int:
        # global monotonic id across ALL refs (main + branches): on a
        # linear history this is exactly current+1, and the O_EXCL
        # create in _commit_snapshot keeps it race-safe either way
        sids = [
            int(fn[5:-5])
            for fn in os.listdir(self.meta_dir)
            if fn.startswith("snap-") and fn.endswith(".json")
        ]
        return (max(sids) + 1) if sids else 0

    def branches(self) -> list[str]:
        return sorted(
            fn[len("branch-"):]
            for fn in os.listdir(self.meta_dir)
            if fn.startswith("branch-")
        )

    def snapshots(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.meta_dir)):
            if fn.startswith("snap-") and fn.endswith(".json"):
                with open(os.path.join(self.meta_dir, fn)) as f:
                    out.append(json.load(f))
        return out

    def _commit_snapshot(self, meta: dict, pointer: str = "current") -> dict:
        # optimistic concurrency (CAS), Iceberg CommitFailedException
        # semantics: the commit only lands if the target pointer still
        # names the head this writer read. Snapshot ids are globally
        # monotonic across refs; the O_EXCL snapshot-file create
        # serializes id allocation, and the pointer re-check below
        # rejects stale writers even when their id did not collide.
        if pointer == "current":
            expected = self.current_snapshot()
            parent = expected["snapshot_id"] if expected else None
        else:
            expected = self._head(pointer)
            # first write on a branch forks from the published head
            fork = expected or self.current_snapshot()
            parent = fork["snapshot_id"] if fork else None
        expected_sid = expected["snapshot_id"] if expected else None
        base = {
            "parent_id": parent,
            "committed_ms": int(time.time() * 1000),
            **meta,
        }
        for _ in range(5):
            sid = self._next_sid()
            out = {"snapshot_id": sid, **base}
            snap_name = f"snap-{sid:06d}.json"
            path = os.path.join(self.meta_dir, snap_name)
            try:
                with open(path, "x") as f:
                    json.dump(out, f, indent=1)
            except FileExistsError:
                live = self._head(pointer)
                if (live["snapshot_id"] if live else None) == expected_sid:
                    continue  # another REF took this id; re-allocate
                raise ConcurrentWriteError(
                    f"snapshot {sid} was committed by another writer; "
                    "re-read the table and retry the write"
                ) from None
            live = self._head(pointer)
            if (live["snapshot_id"] if live else None) != expected_sid:
                os.remove(path)  # our token, safe to retract pre-publish
                raise ConcurrentWriteError(
                    f"{pointer!r} moved while this write ran; "
                    "re-read the table and retry the write"
                )
            # atomic pointer swap: write temp then rename (POSIX atomic)
            tmp = os.path.join(self.meta_dir, f".current.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(snap_name)
            os.replace(tmp, self._pointer_file(pointer))
            return out
        raise ConcurrentWriteError("snapshot id allocation contention")

    # --------------------------------------------------------------- writes

    def write(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        stage: str = "write",
        fingerprint: str = "",
        mode: str = "overwrite",
        lineage_key: str | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 4096,
        bloom_k: int = 4,
        branch: str | None = None,
    ) -> dict:
        """Write df into a fresh data subdirectory, record lineage from
        the **committed files** (never by re-running the upstream plan),
        then publish atomically via the snapshot pointer swap.

        ``branch="name"`` stages the snapshot on a branch pointer
        instead of ``current`` (Iceberg write-audit-publish): readers of
        the table see nothing until ``publish_branch`` fast-forwards
        ``current``; ``audit_branch`` validates the staged rows first.

        ``mode="append"`` keeps the previous snapshot's directories in
        the new manifest; ``"overwrite"`` replaces them (the old dirs
        stay on disk for snapshot time-travel until vacuumed).

        ``stats_cols`` must be integer, floating or string columns (the
        JSON manifest holds their min/max exactly), else ``ValueError``.
        """
        t0 = time.time()
        stats_cols = stats_cols or []
        bad = [c for c in stats_cols if df.schema[c].dataType.simpleString() not in _STATS_TYPES]
        if bad:
            raise ValueError(f"zone maps need integer, floating or string columns: {bad}")
        lineage_key = lineage_key or (partition_by[0] if partition_by else None)
        rel = f"d-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.data_dir, rel)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out_dir)
        wall_ms = int((time.time() - t0) * 1000)
        # one pass over the data as committed (what a reader will see)
        # gives lineage, zone maps and the summary: one row per file, so
        # the grain is the data layout, not Spark's split packing
        spark = df.sparkSession
        committed = spark.read.parquet(out_dir)
        key = lineage_key if lineage_key in committed.columns else None
        cell = F.col(key).cast("long") if key else F.lit(None).cast("long")
        per_file = sorted(
            committed.groupBy(F.input_file_name())
            .agg(
                F.min(cell),
                F.max(cell),
                F.count(F.lit(1)),
                F.bit_xor(F.xxhash64(*[F.col(c) for c in committed.columns])),
                *[f(c) for c in stats_cols for f in (F.min, F.max)],
            )
            .collect()
        )
        pointer = "current" if branch is None else branch
        cur = self._head(pointer)
        if cur is None and branch is not None:
            cur = self.current_snapshot()  # new branch forks the published head
        sid = self._next_sid()
        # manifest-sized, so written from the driver like the snapshot,
        # without a Spark job; partition_id is the file's rank
        lineage = pa.Table.from_pylist(
            [
                dict(zip(_LINEAGE.names, (i, *r[:5], stage, sid, wall_ms, rel)))
                for i, r in enumerate(per_file)
            ],
            schema=_LINEAGE,
        )
        tmp = os.path.join(self.lineage_dir, f".{rel}.parquet")  # hidden from readers
        pq.write_table(lineage, tmp)
        os.replace(tmp, os.path.join(self.lineage_dir, f"{rel}.parquet"))
        # per-file zone maps (read_pruned() skips a file whose [min, max]
        # misses the range) and the write's xor checksum
        files, checksum = [], 0
        for r in per_file:
            files.append({"path": r[0], "stats": dict(zip(stats_cols, zip(r[5::2], r[6::2])))})
            checksum ^= r[4]
        # per-file Bloom indexes (Parquet's column bloom filters rebuilt
        # at the table layer): equality lookups on high-cardinality
        # unsorted columns, where min/max zone maps cannot prune. The
        # distinct-positions frame is bounded by files * bloom_bits —
        # manifest-scale — before the driver ever sees it.
        if bloom_cols:
            os.makedirs(self.bloom_dir, exist_ok=True)
            for c in bloom_cols:
                pos_rows = (
                    committed.select(
                        F.input_file_name().alias("file"),
                        F.explode(
                            F.array(
                                *[
                                    F.pmod(
                                        F.xxhash64(F.col(c), F.lit(j)),
                                        F.lit(bloom_bits),
                                    )
                                    for j in range(bloom_k)
                                ]
                            )
                        ).alias("p"),
                    )
                    .distinct()
                    .groupBy("file")
                    .agg(F.collect_list("p").alias("ps"))
                    .collect()
                )
                out = []
                for r in pos_rows:
                    words = [0] * (bloom_bits // 64)
                    for p in r["ps"]:
                        p = int(p)
                        words[p // 64] |= 1 << (p % 64)
                    words = [
                        w - (1 << 64) if w >= (1 << 63) else w for w in words
                    ]
                    out.append((r["file"], c, words, rel))
                spark.createDataFrame(
                    out,
                    schema="file string, col string, words array<long>, "
                    "write_id string",
                ).write.mode("append").parquet(self.bloom_dir)
        if mode == "append" and cur is not None:
            prev = cur.get("data_paths")
            if not prev:
                # a legacy (pre-manifest) snapshot has no directory list;
                # silently continuing would publish a manifest that HIDES
                # all pre-existing rows — refuse instead of losing data
                raise ValueError(
                    "append onto a pre-manifest table would orphan its "
                    "existing data; rewrite it once with mode='overwrite'"
                )
            data_paths = list(prev) + [rel]
            # unknown (None) after a snapshot that predates the file list
            files = cur["files"] + files if cur.get("files") is not None else None
        else:
            data_paths = [rel]
        snap = self._commit_snapshot(
            {
                "stage": stage,
                "fingerprint": fingerprint,
                "schema": df.schema.jsonValue(),
                "partition_by": partition_by or [],
                "data_paths": data_paths,
                "row_count": sum(r[3] for r in per_file),
                "n_partitions": len(per_file),
                "checksum": (
                    format(checksum & 0xFFFFFFFFFFFFFFFF, "016x")
                    if per_file
                    else "0"
                ),
                "wall_ms": wall_ms,
                "stats_cols": stats_cols,
                "bloom_cols": bloom_cols or [],
                "bloom_bits": bloom_bits,
                "bloom_k": bloom_k,
                "branch": branch,
                "files": files,
            },
            pointer=pointer,
        )
        # equality except under cross-ref id-allocation contention, where
        # _commit_snapshot may re-allocate upward (lineage rows keep the
        # planned sid; consumers key on write_id, never on lineage sid)
        assert snap["snapshot_id"] >= sid
        return snap

    # ---------------------------------------------------------------- reads

    def read(self, spark: SparkSession) -> DataFrame:
        """Read the current snapshot's manifest paths (atomic view)."""
        cur = self.current_snapshot()
        paths = (cur or {}).get("data_paths")
        if not paths:  # pre-manifest table or never written: legacy layout
            return spark.read.parquet(self.data_dir)
        return self._read_dirs(spark, paths)

    def _read_dirs(self, spark: SparkSession, dirs, files=None) -> DataFrame:
        """Union by name (absent columns null) of the manifest write
        dirs ``dirs``, in order. With ``files`` ({dir: [path]}) only
        those files of each dir are scanned, the dir pinned as basePath
        so leaf-file reads keep their hive partition columns."""
        out = None
        for d in dirs:
            base = os.path.join(self.data_dir, d)
            df = (
                spark.read.option("basePath", base).parquet(*files[d])
                if files
                else spark.read.parquet(base)
            )
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out

    def read_branch(self, spark: SparkSession, branch: str) -> DataFrame:
        """Read a staging branch's head snapshot (falls back to the
        published head if the branch has no commits yet)."""
        snap = self._head(branch) or self.current_snapshot()
        paths = (snap or {}).get("data_paths")
        if not paths:
            return spark.read.parquet(self.data_dir)
        return self._read_dirs(spark, paths)

    # -------------------------------------------------- write-audit-publish

    def audit_branch(
        self,
        spark: SparkSession,
        branch: str,
        row_checks: dict[str, str] | None = None,
        min_rows: int = 1,
    ) -> dict:
        """Validate a staged branch before publishing (the Iceberg WAP
        audit step). ``row_checks`` maps check-name -> SQL boolean
        expression that must hold for EVERY row; all checks run in ONE
        aggregate pass (a single row reaches the driver, so the audit
        costs one scan regardless of table size)."""
        df = self.read_branch(spark, branch)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for name, pred in (row_checks or {}).items():
            aggs.append(
                F.sum(
                    F.when(F.expr(pred), F.lit(0)).otherwise(F.lit(1))
                ).alias(name)
            )
        row = df.agg(*aggs).collect()[0]
        checks = {
            name: int(row[name] or 0) == 0 for name in (row_checks or {})
        }
        checks["min_rows"] = int(row["__n"]) >= min_rows
        return {
            "pass": all(checks.values()),
            "rows": int(row["__n"]),
            "checks": checks,
        }

    def publish_branch(self, branch: str, drop_branch: bool = True) -> dict:
        """Fast-forward ``current`` to the branch head (the WAP publish
        step): a single atomic pointer swap, so readers flip from the
        old table to the fully-audited new one with no partial state.
        Refuses (ConcurrentWriteError) unless the published head is an
        ancestor of the branch head — a diverged main means the branch
        must be rewritten from the new head, exactly Iceberg's
        fast-forward-only cherry-pick contract."""
        head = self._head(branch)
        if head is None:
            raise ValueError(f"branch {branch!r} has no commits")
        cur = self.current_snapshot()
        node, ok = head, cur is None
        while node is not None and not ok:
            if node["snapshot_id"] == cur["snapshot_id"]:
                ok = True
                break
            pid = node.get("parent_id")
            node = self._snap_by_id(pid) if pid is not None else None
        if not ok:
            raise ConcurrentWriteError(
                f"current moved past branch {branch!r}'s fork point; "
                "rebuild the branch from the new head and re-audit"
            )
        tmp = os.path.join(self.meta_dir, f".current.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(f"snap-{head['snapshot_id']:06d}.json")
        os.replace(tmp, self._pointer_file("current"))
        if drop_branch:
            os.remove(self._pointer_file(branch))
        return head

    def read_incremental(
        self, spark: SparkSession, since_snapshot_id: int
    ) -> DataFrame:
        """Rows in data directories appended AFTER ``since_snapshot_id``
        (Iceberg's incremental append scan). Only valid along an
        append-only chain: if any later snapshot REMOVED a directory the
        base snapshot referenced (overwrite / compact / MERGE / DELETE
        rewrite), the delta is not expressible as "new files only" and
        this raises — callers fall back to a full scan. This is the
        primitive that makes downstream work proportional to the DELTA,
        never the table (tables/matview.py)."""
        cur = self.current_snapshot()
        base = next(
            (s for s in self.snapshots() if s["snapshot_id"] == since_snapshot_id),
            None,
        )
        if cur is None or base is None:
            raise ValueError(f"unknown snapshot {since_snapshot_id}")
        base_paths = set(base.get("data_paths") or [])
        cur_paths = list(cur.get("data_paths") or [])
        removed = base_paths - set(cur_paths)
        if removed:
            raise NonAppendHistoryError(
                f"history since snapshot {since_snapshot_id} rewrote "
                f"{sorted(removed)}; incremental read undefined"
            )
        new = [p for p in cur_paths if p not in base_paths]
        if not new:
            return self.read(spark).filter(F.lit(False))
        return self._read_dirs(spark, new)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_dir)

    # ------------------------------------------------------------ zone maps

    def pruned_files(
        self, spark: SparkSession, col: str, lo, hi
    ) -> tuple[list[str], int]:
        """(surviving file paths, total files) for ``col BETWEEN lo AND
        hi`` against the current snapshot's zone maps. Planned on the
        driver from the manifest's ``files`` list, as every table format
        does (Iceberg manifests, Delta logs): no Spark job, and data
        rows never move."""
        return self.pruned_files_multi(spark, [(col, lo, hi)])

    def pruned_files_multi(
        self, spark: SparkSession, preds: list[tuple]
    ) -> tuple[list[str], int]:
        """Multi-column pruning: a file survives only if EVERY
        ``(col, lo, hi)`` range can intersect its [min,max] — the
        conjunction that makes Z-order layouts (operators/zorder.py)
        skip all files outside a 2-D box, not just an x-stripe."""
        cur = self.current_snapshot()
        if not cur or cur.get("files") is None:
            raise ValueError("no snapshot / file manifest to prune against")
        for col, _, _ in preds:
            if col not in cur["stats_cols"]:
                raise ValueError(
                    f"no zone maps for column {col!r} in the current "
                    f"snapshot; write(stats_cols=[{col!r}]) first"
                )
        files = cur["files"]
        return [
            f["path"]
            for f in files
            if all(_may_match(f["stats"], c, lo, hi) for c, lo, hi in preds)
        ], len(files)

    def read_pruned(
        self, spark: SparkSession, col: str, lo, hi
    ) -> DataFrame:
        """``read()`` + ``col BETWEEN lo AND hi``, but scanning ONLY the
        files whose zone map can intersect the range (file skipping on a
        NON-partition column — what directory layout alone cannot give).
        The residual filter still applies, so results equal a full scan
        + filter exactly; only the scanned byte count changes."""
        return self.read_pruned_multi(spark, [(col, lo, hi)])

    def read_pruned_multi(
        self, spark: SparkSession, preds: list[tuple]
    ) -> DataFrame:
        """Conjunctive multi-range pruned read (see pruned_files_multi);
        residual filters still apply, so results equal full scan +
        filter exactly."""
        files, _ = self.pruned_files_multi(spark, preds)
        residual = F.lit(True)
        for col, lo, hi in preds:
            residual = residual & F.col(col).between(F.lit(lo), F.lit(hi))
        return self._read_files(spark, files, residual)

    def _read_files(self, spark: SparkSession, files: list[str], residual):
        """Scan only ``files`` (+ the residual filter), grouped by
        owning write dir (dirs are few)."""
        if not files:
            return self.read(spark).filter(F.lit(False))
        by_dir: dict[str, list[str]] = {}
        for f in files:
            p = f[len("file:"):] if f.startswith("file:") else f
            rel = os.path.relpath(p, self.data_dir)
            by_dir.setdefault(rel.split(os.sep)[0], []).append(p)
        by_dir = {d: sorted(fs) for d, fs in by_dir.items()}
        return self._read_dirs(spark, sorted(by_dir), by_dir).filter(residual)

    # --------------------------------------------------------- bloom index

    def lookup_files(
        self, spark: SparkSession, col: str, value
    ) -> tuple[list[str], int]:
        """(files that might contain ``col == value``, total files)
        against the per-file Bloom index — the point-lookup planner for
        high-cardinality UNSORTED columns, where zone maps cannot
        prune. False negatives impossible (same xxhash64 family on
        build and probe); false positives only cost extra file scans,
        never correctness (read_point re-filters exactly)."""
        cur = self.current_snapshot()
        if not cur or not cur.get("data_paths"):
            raise ValueError("no snapshot / manifest to look up against")
        if col not in (cur.get("bloom_cols") or []):
            raise ValueError(
                f"no bloom index for column {col!r}; "
                f"write(bloom_cols=[{col!r}]) first"
            )
        m, k = cur["bloom_bits"], cur["bloom_k"]
        pos_row = (
            spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(F.lit(value), F.lit(j)), F.lit(m)).alias(
                        f"p{j}"
                    )
                    for j in range(k)
                ]
            )
            .collect()[0]
        )
        positions = [int(pos_row[f"p{j}"]) for j in range(k)]
        rows = (
            spark.read.parquet(self.bloom_dir)
            .filter(
                (F.col("col") == col)
                & F.col("write_id").isin(list(cur["data_paths"]))
            )
            .collect()
        )
        surviving = []
        for r in rows:
            words = [w + (1 << 64) if w < 0 else w for w in r["words"]]
            if all((words[p // 64] >> (p % 64)) & 1 for p in positions):
                surviving.append(r["file"])
        return surviving, len(rows)

    def read_point(self, spark: SparkSession, col: str, value) -> DataFrame:
        """Point lookup ``col == value`` scanning only Bloom-surviving
        files; equals a full scan + filter exactly."""
        files, _ = self.lookup_files(spark, col, value)
        return self._read_files(spark, files, F.col(col) == F.lit(value))

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Time travel: read the table exactly as of ``snapshot_id``
        (manifest dirs are immutable once written; an overwrite only
        redirects the manifest, it never deletes data)."""
        with open(os.path.join(self.meta_dir, f"snap-{snapshot_id:06d}.json")) as f:
            snap = json.load(f)
        paths = snap.get("data_paths") or []
        if not paths:
            raise ValueError(f"snapshot {snapshot_id} has no data manifest")
        return self._read_dirs(spark, paths)

    # ---------------------------------------------------------------- merge

    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        stage: str = "merge",
        fingerprint: str = "",
    ) -> dict:
        """Row-level MERGE / upsert (Iceberg MERGE INTO, copy-on-write
        strategy): current rows whose ``key`` appears in ``updates`` are
        replaced, unseen keys insert. One key anti-join + union + the
        normal atomic overwrite commit — so the merge is all-or-nothing
        and time travel still reads the pre-merge snapshot. At scale the
        anti-join shuffles on the key like any equi-join (AQE-splittable);
        the rewrite cost is the copy-on-write trade, the same one
        Iceberg's default MERGE makes.

        Duplicate keys in ``updates`` would all be unioned in and silently
        break the one-row-per-key contract downstream (Iceberg's MERGE
        raises on multiple matches too), so key uniqueness is asserted
        up front — one cheap agg over updates only.
        """
        dup = (
            updates.groupBy(key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"merge updates contain duplicate key {key}={dup[0][0]!r}; "
                "deduplicate updates before merging (one row per key)"
            )
        cur = self.read(spark)
        kept = cur.join(updates.select(key).distinct(), key, "left_anti")
        merged = kept.unionByName(updates)
        return self.write(
            merged, stage=stage, fingerprint=fingerprint, lineage_key=key
        )

    def delete(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key: str,
        stage: str = "delete",
        fingerprint: str = "",
    ) -> dict:
        """Row-level DELETE (copy-on-write, like :meth:`merge` without
        the insert side): rows whose ``key`` appears in ``keys`` are
        removed in one atomic snapshot. Pre-delete snapshots remain
        time-travelable until vacuumed — which is also the compliance
        story: a takedown = delete + vacuum."""
        cur = self.read(spark)
        # re-select the original column order: a USING-style anti-join
        # moves the join key to the front, and a later changes() diff
        # (positional exceptAll) would then mis-pair every column —
        # the delete snapshot must be column-order-identical to its
        # predecessor
        kept = cur.join(keys.select(key).distinct(), key, "left_anti").select(
            *cur.columns
        )
        return self.write(
            kept, stage=stage, fingerprint=fingerprint, lineage_key=key
        )

    def changes(
        self, spark: SparkSession, from_snapshot_id: int, to_snapshot_id: int
    ) -> DataFrame:
        """Row-level changelog between two snapshots (Delta CDF /
        Iceberg changelog scan): multiset diff of the two manifest
        reads, tagged ``_change_type`` in {'insert','delete'} — an
        UPDATE surfaces as its delete+insert pair, exactly like
        copy-on-write CDC. Works for ANY history (merge, delete,
        overwrite, compact): correctness never depends on the snapshot
        chain being append-only, unlike :meth:`read_incremental` (which
        is the cheap path when it IS). exceptAll is a keyed hash
        aggregate over both reads — no driver collection, shuffles on
        the full row like any set op."""
        old = self.read_snapshot(spark, from_snapshot_id)
        new = self.read_snapshot(spark, to_snapshot_id)
        ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    # --------------------------------------------------------------- compact

    def compact(
        self, spark: SparkSession, target_files: int = 1, stage: str = "compact"
    ) -> dict:
        """Maintenance: rewrite the current manifest (possibly many
        append-accumulated directories / small files) into one coalesced
        directory (Iceberg rewrite_data_files). The row set must be
        byte-identical — callers can assert the order-insensitive
        full-table checksum is unchanged; old dirs remain readable for
        time travel until :meth:`vacuum`."""
        cur = self.current_snapshot()
        df = self.read(spark).coalesce(max(target_files, 1))
        return self.write(
            df,
            stage=stage,
            fingerprint=f"compact-of-{cur['snapshot_id'] if cur else 'empty'}",
            # zone maps survive compaction: recompute per-file stats for
            # the rewritten files (Iceberg rewrites data-file stats too)
            stats_cols=(cur.get("stats_cols") or None) if cur else None,
        )

    def optimize_zorder(
        self, spark: SparkSession, x: str, y: str, n_files: int = 8
    ) -> dict:
        """Maintenance: rewrite the current snapshot Z-order-clustered
        on (x, y) with zone maps on BOTH columns (Iceberg's
        rewrite_data_files strategy=sort sort_order=zorder(x,y)). One
        range shuffle on the Morton key; afterwards a 2-D box predicate
        via :meth:`read_pruned_multi` touches O(perimeter) files. Row
        set is byte-identical; old dirs stay for time travel."""
        from ..operators.zorder import cluster_zorder

        cur = self.current_snapshot()
        df = cluster_zorder(self.read(spark), x, y, n_files)
        return self.write(
            df,
            stage="optimize_zorder",
            fingerprint=f"zorder-of-{cur['snapshot_id'] if cur else 'empty'}",
            stats_cols=[x, y],
        )

    # --------------------------------------------------------------- vacuum

    def vacuum(self, keep_last: int = 2) -> dict:
        """Expire all but the newest ``keep_last`` snapshots and delete
        data directories no surviving snapshot references (Iceberg's
        expire_snapshots + remove_orphan_files). The current snapshot is
        always kept; lineage history is never touched."""
        import shutil

        snaps = self.snapshots()
        keep = snaps[-max(keep_last, 1):]
        # staged (unpublished) branch heads are live refs: never expire
        # them or reclaim their data mid-audit
        keep += [h for b in self.branches() if (h := self._head(b))]
        keep_ids = {s["snapshot_id"] for s in keep}
        referenced = {p for s in keep for p in s.get("data_paths", [])}
        removed_dirs = []
        if os.path.isdir(self.data_dir):
            for d in sorted(os.listdir(self.data_dir)):
                if d.startswith("d-") and d not in referenced:
                    shutil.rmtree(os.path.join(self.data_dir, d))
                    removed_dirs.append(d)
        removed_snaps = []
        for s in snaps:
            if s["snapshot_id"] not in keep_ids:
                os.remove(
                    os.path.join(self.meta_dir, f"snap-{s['snapshot_id']:06d}.json")
                )
                removed_snaps.append(s["snapshot_id"])
        return {"removed_dirs": removed_dirs, "expired_snapshots": removed_snaps}

    # --------------------------------------------------------------- resume

    def stage_done(self, stage: str, fingerprint: str = "") -> bool:
        """True if some committed snapshot already covers (stage, fingerprint)
        — the idempotent-resume check."""
        return any(
            s.get("stage") == stage and s.get("fingerprint") == fingerprint
            for s in self.snapshots()
        )


_LINEAGE = pa.schema(
    [("partition_id", pa.int32()), ("file", pa.string()), ("cell_min", pa.int64()),
     ("cell_max", pa.int64()), ("row_count", pa.int64()), ("checksum", pa.int64()),
     ("stage", pa.string()), ("snapshot_id", pa.int64()),
     ("wall_ms_total", pa.int64()), ("write_id", pa.string())]
)

# zone-map value types whose min/max JSON holds exactly and Python orders
# as Spark does (a collated string would not)
_STATS_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double", "string")


def _may_match(stats: dict, col: str, lo, hi) -> bool:
    """Whether a file with zone maps ``stats`` can hold a row with
    ``col BETWEEN lo AND hi``. A file with no stats for ``col`` (its
    write recorded none) always can; an all-NULL column cannot."""
    if col not in stats:
        return True
    mn, mx = stats[col]
    return mn is not None and _le(lo, mx) and _le(mn, hi)


def _le(a, b) -> bool:
    """``a <= b`` in Spark's order: with a float on either side both
    compare as doubles, and NaN sorts above every number."""
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(b)
    return a <= b
