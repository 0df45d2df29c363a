"""Benchmark for seismic_spark: the ingest and interactive workloads (the
latter ending with the offline bulk ops) on local[4], from one driver
process.

Usage, from the repository root:

    python3 perfbench/run.py --workload {ingest,interactive} \\
        --seed N --seconds S --trace {0,1}

The seed makes the inputs (pages and queries); the program receives only
those.  ``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is the
separate traced run that records spans and reports the per-layer metrics.
Metric names and units come from BENCHMARK.json at the repository root.

Output: report lines (``perfbench: name = value unit``) with the
workload's detailed figures and host context, then as the last line one
JSON object with the keys correct, attempted, failed and metrics.  All files
the run writes go under ``.perfbench_run/`` in the current directory; only
the trace JSON of a traced run is kept there.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

REPORT_UNITS = {
    "setup_s": "s",
    "session_s": "s",
    "ops_failed_ratio": "ratio",
    "driver_peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s",
    "hydrate_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "exact_call_p50_ms": "ms",
    "approx_call_p50_ms": "ms",
    "call_tail_ms": "ms",
    "replica_query_p50_us": "us",
    "replica_query_tail_us": "us",
    "approx_recall_at_10": "ratio",
    "bulk_queries_per_s": "q/s",
    "knn_docs_per_s": "docs/s",
    "tracing_overhead_ratio": "ratio",
    "canary_pre_first_touch_mbps": "MB/s",
    "canary_post_first_touch_mbps": "MB/s",
}


def canary() -> float | None:
    """First-touch MB/s from a child process (its pages stay out of the
    driver's RSS).  Context only."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "canary.py")],
        capture_output=True, text=True, timeout=120,
    )
    if out.returncode != 0:
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])["first_touch_mbps"]


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``; enable the event log for traced runs."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # small corpora: a 2 GB heap keeps the JVM's footprint modest on a
    # shared host (the program's own default is 8 GB)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            "spark.executor.metrics.pollingInterval": "500ms",
            "spark.executor.heartbeatInterval": "2s",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "interactive"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "seismic_spark", "__init__.py")) or not os.path.isfile(spec_path):
        print("perfbench: run from the repository root (seismic_spark/ and "
              "BENCHMARK.json not found here)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    trace = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, trace)

    import workloads
    from spans import SpanView, Tracer, layer_records, parse_event_log

    pre = canary()
    tracer = Tracer()
    if trace:
        tracer.instrument()
    run = workloads.Run(args.seed, args.seconds, trace, work, tracer)
    t0 = time.time()
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        run.stop()
        tracer.uninstrument()
    wall = time.time() - t0
    post = canary()

    report = dict(run.report)
    report.update(
        ops_failed_ratio=run.failed / max(run.attempted, 1),
        canary_pre_first_touch_mbps=pre,
        canary_post_first_touch_mbps=post,
    )
    report.update({k: v for k, v in run.metrics.items() if k == "setup_s"})
    if trace:
        logs = sorted(
            p for p in glob.glob(os.path.join(work, "events", "**"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
        )
        view = SpanView(tracer.spans, parse_event_log(logs))
        values = layer_records(view)
        values["trace.overhead_ratio"] = run.overhead_ratio()
        report["tracing_overhead_ratio"] = values["trace.overhead_ratio"]
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_file = os.path.join(
            base, "traces", f"{args.workload}-seed{args.seed}-{int(t0)}.json"
        )
        tracer.dump(trace_file)
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        values = dict(run.metrics)
    shutil.rmtree(work, ignore_errors=True)

    missing = [m for m in units if m not in values or not math.isfinite(values[m])]
    for e in run.errors:
        print(f"perfbench: error: {e}")
    for m in missing:
        print(f"perfbench: error: metric {m} was not measured")
    print(f"perfbench: workload = {args.workload}, seed = {args.seed}, "
          f"seconds = {args.seconds:g}, trace = {int(trace)}, wall = {wall:.1f} s")
    for k, v in report.items():
        unit = REPORT_UNITS.get(k, "")
        print(f"perfbench: {k} = {v} {unit}".rstrip())
    result = {
        "correct": run.failed == 0 and not missing,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m: {"value": values[m], "unit": u} for m, u in units.items() if m not in missing
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
