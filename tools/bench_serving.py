"""Interactive-batch serving floor — round-5 experiments (VERDICT r4 #8).

The r4 per-stage profile put the remaining interactive floor at
ubs-scan+collect 1.8-1.9 s, phase-1 rescore 1.0-1.2 s, final rescore
0.9-1.4 s per batch-10 search on a 1M-doc index — two real scan jobs, not
scheduling.  This harness measures a scan-side lever in a SAME-WINDOW
INTERLEAVED design (every rep runs every variant back-to-back, so host
drift cannot favor a side):

- ``compact`` — a serving snapshot of the postings table rewritten as a few
  term-RANGE-sorted parquet files (repartitionByRange(8, term_id) +
  sortWithinPartitions): the per-batch UB scan schedules ~8 tasks instead
  of one per build-output file, and the term-IN predicate prunes whole row
  groups because term ids are clustered.  This caches the SCAN shape, not
  the relation — distinct from prepare_serving()'s InMemoryRelation
  experiment, which measured SLOWER than re-scanning tmpfs parquet
  (index.py prepare_serving docstring).

Variants: base / compact, batch sizes 10/100/1000 (1000 exercises the
in-plan path — compact applies there too).  The deferred-gaps variant
measured here in round 5 lost every cell (BENCH/serving_r5.json) and was
deleted from the engine.  Canary protocol: pre/post brackets + 30 s
watcher.

Usage: python tools/bench_serving.py [--docs 1000000] [--cores 16]
       [--sizes 10,100,1000] [--reps 3] [--out /tmp/serving.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_scaling import DAEMON_ENV, MASTER, ensure_cluster, stop_cluster  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, "@REPO@")
from pyspark.sql import SparkSession, functions as F
from seismic_spark.checkpoint import CheckpointedBuild
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages
from seismic_spark import search as srch
from bench import bench_queries

cores_max = @CORES@
n_docs = @NDOCS@
vocab_size = @VOCAB@
sizes = @SIZES@
reps = @REPS@
spark = (SparkSession.builder.appName("serving-%d" % cores_max)
    .master("@MASTER@")
    .config("spark.cores.max", str(cores_max))
    .config("spark.executor.cores", "2")
    .config("spark.executor.memory", "7g")
    .config("spark.executorEnv.PYTHONPATH", "@REPO@")
    .config("spark.locality.wait", "1s")
    .config("spark.sql.shuffle.partitions", "128")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

input_path = "/dev/shm/scaling-input-%d-%d" % (n_docs, vocab_size)
if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
    pages = synth_pages(spark, n_docs, vocab_size=vocab_size, seed=42, partitions=64)
    pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    ).write.mode("overwrite").parquet(input_path)
docs = spark.read.parquet(input_path)

ckpt_path = "/dev/shm/scaling-ckpt-%d" % cores_max
idx = CheckpointedBuild(spark, ckpt_path, resume=True, lineage_detail="light").build(
    docs, IndexConfig(n_postings=1000, pruning="fixed",
                      summary_energy=0.5, quant_ceil=True)
)

# serving snapshot: few term-range-sorted files (the scan-shape cache)
snap = "/dev/shm/serving-postings-%d" % n_docs
if not os.path.exists(os.path.join(snap, "_SUCCESS")):
    (idx.postings.repartitionByRange(8, "term_id")
        .sortWithinPartitions("term_id")
        .write.mode("overwrite").parquet(snap))
postings_compact = spark.read.parquet(snap)
n_files_build = idx.postings.rdd.getNumPartitions()

terms = [r["term"] for r in
         idx.vocab.filter(F.col("df") > 5).select("term").collect()]
qs_all = bench_queries(terms, n=max(sizes))          # (qid, tokens, weights)
qvecs_all = srch.resolve_queries(spark, qs_all, idx.vocab)
qids = [q[0] for q in qs_all]

variants = [
    ("base",    idx.postings),
    ("compact", postings_compact),
]
regs = {name: [] for name, _ in variants}

# warm every variant once, untimed (python workers, parquet footers)
warm = {q: qvecs_all[q] for q in qids[:5] if q in qvecs_all}
for name, p in variants:
    srch.batch_search(spark, p, idx.forward, warm, k=10, query_cut=10,
                      heap_factor=0.8, two_phase=True,
                      cache_registry=regs[name]).count()

out = []
for b in sizes:
    qs = {q: qvecs_all[q] for q in qids[:b] if q in qvecs_all}
    for rep in range(reps):
        for name, p in variants:             # interleaved: AB AB ...
            t0 = time.time()
            srch.batch_search(spark, p, idx.forward, qs, k=10,
                              query_cut=10, heap_factor=0.8, two_phase=True,
                              cache_registry=regs[name]).count()
            sec = round(time.time() - t0, 2)
            out.append({"batch": b, "variant": name, "rep": rep, "sec": sec})
            print("ROW " + json.dumps(out[-1]), flush=True)

spark.stop()
print("RESULT " + json.dumps({
    "cores": cores_max, "docs": n_docs, "vocab": vocab_size,
    "n_build_partitions": n_files_build, "rows": out,
}))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vocab", type=int, default=100_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--sizes", default="10,100,1000")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="/tmp/serving.json")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from canary import measure

    ensure_cluster()
    child = (
        CHILD.replace("@REPO@", REPO)
        .replace("@MASTER@", MASTER)
        .replace("@CORES@", str(args.cores))
        .replace("@NDOCS@", str(args.docs))
        .replace("@VOCAB@", str(args.vocab))
        .replace("@SIZES@", json.dumps(sizes))
        .replace("@REPS@", str(args.reps))
    )
    pre = measure()
    in_run: list[float] = []
    stop = threading.Event()

    def watch() -> None:
        while not stop.wait(30.0):
            in_run.append(measure()["first_touch_mbps"])

    t = threading.Thread(target=watch, daemon=True)
    t.start()
    try:
        env = dict(os.environ, PYTHONPATH=REPO, **DAEMON_ENV)
        proc = subprocess.run(
            [sys.executable, "-c", child], capture_output=True,
            text=True, timeout=3600, env=env,
        )
    finally:
        stop.set()
        t.join(timeout=5)
    post = measure()
    line = next(
        (ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")),
        None,
    )
    if line is None:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:] + "\n")
        sys.exit(1)
    res = json.loads(line[len("RESULT "):])
    res["ts"] = time.time()
    res["canary_pre_mbps"] = pre["first_touch_mbps"]
    res["canary_post_mbps"] = post["first_touch_mbps"]
    res["canary_in_run_min_mbps"] = min(in_run) if in_run else None
    res["canary_in_run"] = in_run
    with open(args.out, "w") as f:
        f.write(json.dumps(res) + "\n")
    print(json.dumps(res, indent=1))
    stop_cluster()


if __name__ == "__main__":
    main()
