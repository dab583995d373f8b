"""Run mechanics shared by the workloads: the Spark session, the closed
loop, the span recorder, Spark job counters and process-tree memory."""

from __future__ import annotations

import gc
import json
import os
import statistics
import subprocess
import time
import traceback
from contextlib import contextmanager
from pathlib import Path


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    """One session from the package's factory at local[<cpus>], with
    every scratch location inside ``work``. Returns (spark, seconds)."""
    from hand_index_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    n = cpu_count()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def nudge_gc(spark) -> None:
    """Free the previous op's unreferenced blocks before the next op."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def noop(df) -> None:
    """Materialise every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def run_plan(df) -> dict[str, int]:
    """Materialise ``df`` by executing its own physical plan, then read
    what its file scans did from that plan's SQL metrics: files and
    partitions read, and ``in_list``, the number of values in the
    partition IN-lists pushed into the scans."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    out = {"files": 0, "partitions": 0, "in_list": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            metrics = node.metrics()
            out["files"] += metrics.apply("numFiles").value()
            out["partitions"] += metrics.apply("numPartitions").value()
            filters = node.partitionFilters().iterator()
            while filters.hasNext():
                f = filters.next()
                if f.nodeName() == "InSet":
                    out["in_list"] += f.hset().size()
                elif f.nodeName() == "In":
                    out["in_list"] += f.list().size()
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return out


def dir_stats(path: Path) -> tuple[int, int, int]:
    """(data files, bytes, partition directories) under a table's data
    directory; Spark's ``_SUCCESS`` and ``.crc`` files are not data."""
    files = size = 0
    dirs = set()
    for root, _sub, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
                dirs.add(root)
    return files, size, len(dirs)


# ---------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_peak_rss_mb() -> float:
    """Sum of kernel-tracked ``VmHWM`` over this process and all its
    descendants (driver, JVM, Python workers), read once."""
    todo = [os.getpid()]
    total_kb = 0
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0


# ----------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory, written out once when the run ends.

    A span has a name, start and end (seconds since the tracer began),
    its parent span and the op it belongs to. ``input`` names the span
    that materialised the layer's input, so self time = duration - the
    input's duration. Counts taken at the same boundary go to
    ``Workload.note``."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int, input: int | None = None):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "input": input,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    @staticmethod
    def dur_ms(rec: dict) -> float:
        return (rec["end"] - rec["start"]) * 1000.0

    def self_ms(self, rec: dict) -> float:
        d = self.dur_ms(rec)
        if rec["input"] is not None:
            d -= self.dur_ms(self.spans[rec["input"]])
        return d

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class JobCounter:
    """Spark jobs, stages and tasks of one op, read from the status
    tracker through a job group (outside the program)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def group(self):
        self.n += 1
        gid = f"perfbench-op-{self.n}"
        self.sc.setJobGroup(gid, gid)
        res = {"jobs": 0, "stages": 0, "tasks": 0}
        try:
            yield res
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            res["jobs"] = len(jobs)
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    sinfo = st.getStageInfo(s)
                    if sinfo is not None:
                        res["stages"] += 1
                        res["tasks"] += sinfo.numTasks


# ------------------------------------------------------------------ loop


class Loop:
    """A closed loop with one client: the next op starts when the last
    one has been checked. Only the op itself is timed; checks, output
    clean-up and the GC nudge run between timed regions."""

    def __init__(self, spark, seconds: float, wall_cap: float):
        self.spark = spark
        self.seconds = seconds
        self.wall_cap = wall_cap
        self.latencies: list[float] = []
        self.units = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_one(self, op, timed: bool = True) -> None:
        """Run, time and check one op. A wrong result still took its
        time, so it counts in the latencies but adds no units; an op
        that raised has no latency."""
        nudge_gc(self.spark)
        self.attempted += 1
        dt = None
        try:
            t = time.perf_counter()
            out = op.run()
            dt = time.perf_counter() - t
            problem = op.check(out)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            problem = f"{type(e).__name__}: {e}"
        finally:
            op.cleanup()
        if problem is not None:
            self.failed += 1
            self.errors.append(problem)
        if timed and dt is not None:
            self.latencies.append(dt)
            self.units += op.units if problem is None else 0

    def measure(self, next_op) -> None:
        """Run ops until ``seconds`` of op time are measured (or the
        wall cap is hit), at least one op."""
        start = time.perf_counter()
        i = 0
        while True:
            self.run_one(next_op(i))
            i += 1
            if sum(self.latencies) >= self.seconds:
                break
            if time.perf_counter() - start > self.wall_cap:
                break

    def summary(self) -> dict:
        lat = sorted(self.latencies) or [0.0]
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0]
        busy = sum(self.latencies)
        return {
            "throughput_per_s": self.units / busy if busy > 0 else 0.0,
            "latency_p50_ms": statistics.median(lat) * 1000.0,
            "latency_p90_ms": p90 * 1000.0,
            "ops": len(self.latencies),
        }
