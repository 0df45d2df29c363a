"""One fresh-process leg for interleaved knn A/B: builds the geometric index
and runs the knn graph job N times, printing one JSON line with the times and
canary brackets.  Env: SEISMIC_MALLOC_TUNE etc. are read by the session
this leg starts, so sides differ only by env.

Usage: python tools/ab_knn_leg.py [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from canary import measure  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    pre = measure()
    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark import knn as knn_mod
    from seismic_spark.postings import IndexConfig
    from seismic_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("ab-knn", cores=cores, shuffle_partitions=max(32, cores))
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.count()

    t0 = time.time()
    idx_geo = SeismicSparkIndex.build(
        spark, docs,
        IndexConfig(n_postings=1000, pruning="fixed", summary_energy=0.8),
    )
    idx_geo.postings.count()
    build_s = round(time.time() - t0, 2)

    times = []
    for rep in range(args.reps):
        t0 = time.time()
        kdf = knn_mod.build_knn(idx_geo, nknn=5, query_cut=10, heap_factor=0.6)
        kdf = kdf.persist()
        n = kdf.count()
        times.append(round(time.time() - t0, 3))
        kdf.unpersist()
    post = measure()
    spark.stop()
    print(json.dumps({
        "mtune": os.environ.get("SEISMIC_MALLOC_TUNE", "1"),
        "build_s": build_s, "knn_times": times, "n": n,
        "canary_pre": pre["first_touch_mbps"],
        "canary_post": post["first_touch_mbps"],
    }))


if __name__ == "__main__":
    main()
