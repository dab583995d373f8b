"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload roi --seed 1 --seconds 18 --trace 0

Runs from the root of a source checkout, in one process with one
closed-loop client and one Spark session at local[<cpus>]. Inputs are
generated from ``--seed``; every op's output is checked. The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of
a traced run (``--trace 1``). The line before it is a summary with
both, ``error_rate``, and the committed snapshot checksum. Scratch
files live under ``.perfbench/`` in the checkout; traced runs leave
their spans in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("roi", "assign"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="op time to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full", help="tiny: smoke-test sizes")
    p.add_argument("--inject-fault", action="store_true", help="corrupt the first measured op's output")
    return p.parse_args(argv)


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench import harness
    from perfbench.workloads import LAYER_METRICS, WARMUPS, WORKLOADS

    t0 = time.perf_counter()
    spark, session_s = harness.start_session(work)
    try:
        tracer = harness.Tracer() if args.trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work, tracer, args.inject_fault)
        wl.note("session.start_s", session_s)
        t1 = time.perf_counter()
        wl.setup()
        t2 = time.perf_counter()
        loop = harness.Loop(spark, args.seconds, wall_cap=2 * args.seconds + 30)
        for op in wl.warmups():
            loop.run_one(op, timed=False)
        setup_s = time.perf_counter() - t0
        parts = {"session_s": session_s, "inputs_s": t2 - t1, "warmups_s": time.perf_counter() - t2}
        first = WARMUPS[args.workload]

        def next_op(i):
            op = wl.op(first + i)
            return wl.traced(first + i, op) if tracer else op

        loop.measure(next_op)
        peak = harness.tree_peak_rss_mb()
    finally:
        harness.stop_session(spark)
    e2e = {"setup_s": setup_s, "peak_rss_mb": peak, **loop.summary()}
    trace_file = None
    if tracer:
        trace_file = f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
        tracer.write(ROOT / ".perfbench" / "traces" / trace_file)
        layer = {k: 0.0 for k in LAYER_METRICS}
        layer.update(wl.layer_metrics())
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "trace": args.trace,
        "ops": e2e.pop("ops"),
        "error_rate": {"value": loop.failed / loop.attempted, "unit": "ratio"},
        "snapshot_checksum": wl.checksum,
        "errors": loop.errors[:5],
        "latencies_ms": [round(x * 1000.0, 1) for x in loop.latencies],
        "setup_parts": parts,
        "trace_file": trace_file,
        "end_to_end": e2e,
        "per_layer": wl.layer_metrics() if tracer else {},
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }
    return summary, result


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(ROOT))
    try:
        import hand_index_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine under test ({e})", file=sys.stderr)
        return 2

    # every scratch file of the run, Spark's and the JVM's included,
    # stays inside the checkout; Python workers import from it too
    work = ROOT / ".perfbench" / f"run-{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    try:
        summary, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
