"""The two workloads: ingest and interactive (whose traced run ends with the
offline bulk ops: one in-plan 2,000-query batch and one kappa-NN graph).

Each workload sets up (timed as ``setup_s``), runs a closed loop of ops for
the run's seconds with one client, records what every op returned, and only
after the measured region builds the numpy oracle (``seismic_spark.oracle``)
and checks a fixed sample of each op's results against it.

Ops alternate between untraced and traced in a traced run, so the tracing
overhead is measured inside one run, against the same inputs.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time

import numpy as np

import gen

K = 10
QUERY_CUT = 10
CORES = 4
SHUFFLE_PARTITIONS = 8
N_DOCS = {"ingest": 1500, "interactive": 1500}
READBACKS = 3  # load + serving_replica() per ingest op
WARMUP_DOCS = 300  # ingest set-up: one op on this many pages
INGEST_OP_S = 8.0  # nominal ingest op length: sets a run's op count
INTERACTIVE_BATCH = 16
REPLICA_BURST = 768  # interactive: replica queries after each round's calls
BULK_BATCH = 2000
APPROX_HF = 0.9
KNN = {"nknn": 5, "query_cut": 10, "heap_factor": 0.6}


def serving_config():
    """bench.py's serving config: kmeans blocking, energy 0.5 summaries."""
    from seismic_spark.postings import IndexConfig

    return IndexConfig(
        n_postings=1000, pruning="fixed", blocking="kmeans",
        centroid_fraction=0.1, min_cluster_size=2, kmeans_doc_cut=15,
        summary_energy=0.5, quant_ceil=False,
    )


def exact_config():
    from seismic_spark.postings import IndexConfig

    return IndexConfig(n_postings=10**6)


def default_two_phase(cfg, hf: float) -> bool:
    """SeismicSparkIndex.batch_search's default, mirrored for the oracle."""
    return cfg.summary_energy < 1.0 or not cfg.quant_ceil or hf < 1.0


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def array_bytes(obj) -> int:
    """Bytes held in numpy arrays reachable through dicts/lists/tuples."""
    if isinstance(obj, np.ndarray):
        return int(obj.nbytes)
    if isinstance(obj, dict):
        return sum(array_bytes(v) for v in obj.values())
    if isinstance(obj, (list, tuple)):
        return sum(array_bytes(v) for v in obj)
    return 0


def ranked(rows) -> dict[str, list[tuple[int, float]]]:
    """(query_id, rank, doc_id, score) rows -> per query, rank-ordered."""
    out: dict[str, list] = {}
    for qid, rank, doc, score in rows:
        out.setdefault(str(qid), []).append((int(rank), int(doc), float(score)))
    return {
        q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()
    }


def spark_rows(rows) -> list[tuple]:
    return [(r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows]


def pandas_rows(pdf) -> list[tuple]:
    return list(
        zip(pdf["query_id"], pdf["rank"].tolist(), pdf["doc_id"].tolist(),
            pdf["score"].tolist())
    )


def mismatch(got: list, want: list, bitwise: bool = False) -> str | None:
    """None when ``got`` is rank-identical to ``want`` (same doc ids in the
    same order; scores equal to 1e-9 relative, or bit for bit)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc ids {[d for d, _ in got]} != {[d for d, _ in want]}"
    for (_, a), (_, b) in zip(got, want):
        if bitwise and a != b:
            return f"score {a!r} != {b!r}"
        if abs(a - b) > 1e-9 * max(1.0, abs(b)):
            return f"score {a!r} != {b!r}"
    return None


def is_edge(q) -> bool:
    """Empty, all-unknown, head-term-only or duplicate-term query."""
    return len(q[1]) < 3 or gen.has_duplicate_terms(q)


def checked(batch: list, n_regular: int) -> list:
    """The fixed check sample of a batch: its first ``n_regular`` queries
    and every edge case in it."""
    return batch[:n_regular] + [q for q in batch[n_regular:] if is_edge(q)]


def tail(values: list[float]) -> tuple[str, float]:
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least ten samples
    beyond it; the maximum when there are fewer than twenty samples."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return f"p{p:g}", xs[min(n - 1, int(np.ceil(p / 100.0 * n)) - 1)]
    return "max", xs[-1] if xs else 0.0


class Run:
    """State shared by a workload's set-up, ops and checks."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, tracer) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict[str, object] = {}
        self.metrics: dict[str, float] = {}
        self.overhead: list[tuple[bool, float]] = []

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg[:500])

    def start_session(self) -> float:
        from seismic_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark", "session"), self.tracer.opaque():
            self.spark = get_spark(
                "perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS
            )
        dt = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def pages_df(self, pdf):
        """Input generation: the seeded pages handed to the program."""
        return self.spark.createDataFrame(pdf)

    def rounds(self, budget_s: float):
        """Closed-loop round numbers within ``budget_s``: a round starts
        only if, at the mean round length so far, it ends less than half a
        round past the window (the first always runs).  A traced run
        alternates untraced/traced rounds and runs at least one of each."""
        t0 = time.perf_counter()
        r = 0
        while True:
            elapsed = time.perf_counter() - t0
            if r and elapsed * (r + 0.5) / r > budget_s and not (self.trace and r < 2):
                return
            yield r, self.trace and r % 2 == 1
            r += 1

    def overhead_ratio(self) -> float:
        plain = [d for t, d in self.overhead if not t]
        traced = [d for t, d in self.overhead if t]
        if not plain or not traced:
            return 0.0
        return statistics.median(traced) / statistics.median(plain) - 1.0


def call_checks(o, cfg, hf: float, got: dict, kind: str) -> list[str]:
    """Failure messages for recorded calls {round: (sample, results)}
    that are not rank-identical to the oracle ``o``."""
    fails = []
    for r, (sample, res) in got.items():
        want = oracle_ranked(o, sample, hf, cfg)
        bad = [f"{q[0]}: {m}" for q in sample
               if (m := mismatch(res[q[0]], want.get(q[0], [])))]
        if bad:
            fails.append(f"{kind} call {r}: " + "; ".join(bad[:3]))
    return fails


_TASKS: list = []


def _run_task(i: int):
    return _TASKS[i]()


def in_parallel(*fns) -> list:
    """Run callables in forked child processes, one each, and return their
    results in order (the oracle builds are single-threaded Python).  Call
    only after the Spark session has stopped."""
    import multiprocessing as mp

    _TASKS[:] = fns
    pool = mp.get_context("fork").Pool(len(fns))
    try:
        return pool.map(_run_task, range(len(fns)))
    finally:
        pool.close()
        pool.join()
        _TASKS.clear()


def build_oracle(pdf, cfg):
    from seismic_spark import oracle

    docs = [(int(i), gen.page_text(h)) for i, h in zip(pdf["doc_id"], pdf["html"])]
    return oracle.build(docs, cfg)


def oracle_ranked(o, queries: list, hf: float, cfg, k: int = K) -> dict:
    from seismic_spark import oracle

    res = oracle.search(
        o, [gen.merged(q) for q in queries], k=k, query_cut=QUERY_CUT,
        heap_factor=hf, two_phase=default_two_phase(cfg, hf),
    )
    return ranked(res)


# ------------------------------------------------------------------ ingest --


def ingest_op(run: Run, pages, snap: str, cfg) -> tuple:
    """One build into ``snap`` plus READBACKS load + serving_replica()
    of it: (build seconds, read-back seconds, loaded index, last replica)."""
    from seismic_spark import textprep
    from seismic_spark.checkpoint import CheckpointedBuild
    from seismic_spark.index import SeismicSparkIndex

    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("checkpoint.build", "checkpoint") as ck:
        docs = textprep.with_extracted_text(pages).select("doc_id", "text")
        CheckpointedBuild(run.spark, snap, resume=False).build(docs, cfg)
    build_s = time.perf_counter() - t0
    if ck is not None:
        ck.update(postings_stats(os.path.join(snap, "postings")))
        ck["bytes_written"] = dir_bytes(snap)
    reads = []
    idx = rep = None
    for _ in range(READBACKS):
        # drop the previous read-back first, as a reload that replaces it would
        idx = rep = None
        t0 = time.perf_counter()
        with tr.span("index.load", "index"):
            idx = SeismicSparkIndex.load(run.spark, snap)
        with tr.span("serving.hydrate", "serving") as hy:
            rep = idx.serving_replica()
        reads.append(time.perf_counter() - t0)
        if hy is not None:
            hy["replica_bytes"] = array_bytes(rep.__getstate__())
    return build_s, reads, idx, rep


def ingest(run: Run) -> None:
    """Each op: CheckpointedBuild(resume=False) of the pages into a fresh
    directory (extract -> tokenize -> BM25 -> vocab -> forward -> postings),
    then SeismicSparkIndex.load + serving_replica() on that snapshot,
    READBACKS times.  Set-up runs one such op on a small warm-up corpus, so
    the timed ops do not include the first build's plan compilation (which
    adds about half a build) or the read path's first, slower read-backs.

    A run takes a fixed number of ops, seconds / INGEST_OP_S and at least
    two, not as many as fit its window: an op is 6.5-10 s, so the count that
    fits would flip between two and three with the host's speed, and as
    builds still get 10-20% faster from the first timed one to the next,
    the median would flip with it."""
    n = N_DOCS["ingest"]
    pdf = gen.pages(n, run.seed)
    warm_pdf = gen.pages(WARMUP_DOCS, run.seed, first_id=n)
    text_bytes = sum(len(h) - len(b"<html><body></body></html>") for h in pdf["html"])
    cfg = serving_config()
    check_qs = gen.queries(12, run.seed, "c", edge_share=0.0) + [
        ("c_empty", [], []),
        ("c_unknown", ["zzz_unknown"], [1.0]),
        ("c_dup", ["term_3", "term_7", "term_3"], [1.5, 2.0, 0.5]),
        ("c_head", ["term_0"], [2.0]),
    ]
    tr = run.tracer
    with tr.op("setup", run.trace):
        t0 = time.perf_counter()
        session_s = run.start_session()
        t1 = time.perf_counter()
        pages, warm_pages = run.pages_df(pdf), run.pages_df(warm_pdf)
        t2 = time.perf_counter()
        snap = os.path.join(run.work, "snapshot-warmup")
        ingest_op(run, warm_pages, snap, cfg)
        shutil.rmtree(snap, ignore_errors=True)
        setup_s = time.perf_counter() - t0 - (t2 - t1)
    run.report["session_s"] = session_s

    builds, reads, index_bytes, outputs = [], [], [], []
    n_ops = max(2, round(run.seconds / INGEST_OP_S))
    for r in range(n_ops):
        traced = run.trace and r % 2 == 1
        snap = os.path.join(run.work, f"snapshot-{r}")
        run.attempted += 1
        try:
            with tr.op("ingest", traced):
                build_s, read_s, idx, rep = ingest_op(run, pages, snap, cfg)
            run.overhead.append((traced, build_s))
            if not traced:
                builds.append(build_s)
                reads.extend(read_s)
            index_bytes.append(
                sum(dir_bytes(os.path.join(snap, t)) for t in ("vocab", "forward", "postings"))
                + os.path.getsize(os.path.join(snap, "meta.json"))
            )
            got = {q[0]: ranked(pandas_rows(rep.batch_search(
                [q], k=K, query_cut=QUERY_CUT, heap_factor=APPROX_HF))).get(q[0], [])
                for q in check_qs}
            outputs.append((r, idx.n_docs, got))
            idx = rep = None
        except Exception as e:  # an op that raises counts as failed
            run.fail(f"ingest op {r}: {e!r}")
        finally:
            shutil.rmtree(snap, ignore_errors=True)
    run.report["driver_peak_rss_mb"] = peak_rss_mb()
    run.stop()

    o = build_oracle(pdf, cfg)
    want = oracle_ranked(o, check_qs, APPROX_HF, cfg)
    for r, n_docs, got in outputs:
        bad = [] if n_docs == n else [f"n_docs {n_docs} != {n}"]
        for q in check_qs:
            m = mismatch(got[q[0]], want.get(q[0], []))
            if m:
                bad.append(f"{q[0]}: {m}")
        if bad:
            run.fail(f"ingest op {r}: " + "; ".join(bad[:3]))

    if builds:
        run.metrics.update(
            setup_s=setup_s, spark_op_p50_ms=1e3 * statistics.median(builds)
        )
        run.report.update(
            build_docs_per_s=n / statistics.median(builds),
            hydrate_s=statistics.median(reads),
            index_bytes_per_text_byte=statistics.median(index_bytes) / text_bytes,
            ops=len(builds),
            build_ms_each=[round(1e3 * t) for t in builds],
            readback_ms_each=[round(1e3 * t) for t in reads],
        )
    run.report.update(corpus_docs=n, text_bytes=text_bytes)


def postings_stats(path: str) -> dict:
    """Block count, on-disk bytes and docs per block of a postings
    snapshot, read with Arrow (no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    tbl = ds.dataset(path, format="parquet").to_table(columns=["n_docs", "block_lens"])
    blocks = int(pc.sum(pc.list_value_length(tbl["block_lens"])).as_py() or 0)
    docs = int(pc.sum(tbl["n_docs"]).as_py() or 0)
    return {
        "postings_blocks": blocks,
        "postings_bytes": dir_bytes(path),
        "docs_per_block": docs / blocks if blocks else 0.0,
    }


# ------------------------------------------------------------- interactive --


def search_stats_span(run: Run, idx, batch: list, hf: float, n_results: int) -> None:
    """search.search_stats on a traced call's batch (its own span, so its
    jobs never count toward the call)."""
    from seismic_spark import search as srch

    with run.tracer.span("search.search_stats", "search_stats") as rec:
        qvecs = srch.resolve_queries(run.spark, batch, idx.vocab)
        st = srch.search_stats(
            run.spark, idx.postings, idx.forward, qvecs, k=K, query_cut=QUERY_CUT,
            heap_factor=hf, two_phase=default_two_phase(idx.config, hf),
        )
        rec.update(
            queries=sum(1 for v in qvecs.values() if len(v[0])),
            blocks_matched=st["blocks_matched"],
            blocks_skipped=st["blocks_skipped"],
            candidates=st["candidates"],
            results=n_results,
        )


def interactive(run: Run) -> None:
    """Closed loop, one client.  Each round: a 16-query
    batch_search(...).collect() call on the exact index, the same on the
    serving index, then a burst of single queries to the serving
    ServingReplica.  After the window, a traced run adds bulk_ops."""
    from seismic_spark import textprep
    from seismic_spark.index import SeismicSparkIndex

    n = N_DOCS["interactive"]
    pdf = gen.pages(n, run.seed)
    ex_cfg, sv_cfg = exact_config(), serving_config()
    warm = gen.queries(INTERACTIVE_BATCH, run.seed, "w", edge_share=0.0)
    pool = gen.queries(INTERACTIVE_BATCH * 200, run.seed, "i")
    rpool = gen.queries(10000, run.seed, "r")
    tr = run.tracer

    with tr.op("setup", run.trace, release=False):
        t0 = time.perf_counter()
        session_s = run.start_session()
        t1 = time.perf_counter()
        pages = run.pages_df(pdf)
        t2 = time.perf_counter()
        docs = textprep.with_extracted_text(pages).select("doc_id", "text")
        with tr.span("index.build", "index"):
            exact = SeismicSparkIndex.build(run.spark, docs, ex_cfg)
            exact.postings.count()
        with tr.span("index.build", "index"):
            serving = SeismicSparkIndex.build(run.spark, docs, sv_cfg)
            serving.postings.count()
        with tr.span("serving.hydrate", "serving"):
            rep = serving.serving_replica()
        # first calls fill the per-index vocab map and forward CSR caches
        exact.batch_search(warm, k=K, query_cut=QUERY_CUT, heap_factor=1.0).collect()
        serving.batch_search(warm, k=K, query_cut=QUERY_CUT, heap_factor=APPROX_HF).collect()
        setup_s = time.perf_counter() - t0 - (t2 - t1)
    run.report["session_s"] = session_s

    calls = {"exact": [], "approx": []}
    got = {"exact": {}, "approx": {}}
    replica_s: list[float] = []
    replica_got: dict[str, list] = {}
    burst_p50: list[float] = []
    i = 0
    for r, traced in run.rounds(run.seconds):
        batch = pool[(r * INTERACTIVE_BATCH) % len(pool):][:INTERACTIVE_BATCH]
        sample = checked(batch, 3)
        for kind, idx, hf in (("exact", exact, 1.0), ("approx", serving, APPROX_HF)):
            run.attempted += 1
            try:
                with tr.op("interactive", traced):
                    t0 = time.perf_counter()
                    with tr.span("search.call", "search", index=kind):
                        rows = idx.batch_search(
                            batch, k=K, query_cut=QUERY_CUT, heap_factor=hf
                        ).collect()
                    dt = time.perf_counter() - t0
                    if traced and kind == "approx":
                        search_stats_span(run, idx, batch, hf, len(rows))
                run.overhead.append((traced, dt))
                if not traced:
                    calls[kind].append(dt)
                res = ranked(spark_rows(rows))
                got[kind][r] = (sample, {q[0]: res.get(q[0], []) for q in sample})
            except Exception as e:
                run.fail(f"{kind} call {r}: {e!r}")

        # the round's replica burst: replica timings spread over the window
        burst_start = len(replica_s)
        for _ in range(REPLICA_BURST):
            q = rpool[i % len(rpool)]
            q_traced = run.trace and i % 2 == 1
            run.attempted += 1
            try:
                with tr.op("interactive", q_traced, spark=False):
                    t0 = time.perf_counter()
                    with tr.span("serving.query", "serving", spark=False):
                        pdf_res = rep.batch_search(
                            [q], k=K, query_cut=QUERY_CUT, heap_factor=APPROX_HF
                        )
                    dt = time.perf_counter() - t0
                if not q_traced:
                    replica_s.append(dt)
                if i < len(rpool) and (i % 97 == 0 or is_edge(q)):
                    replica_got[q[0]] = ranked(pandas_rows(pdf_res)).get(q[0], [])
            except Exception as e:
                run.fail(f"replica query {i}: {e!r}")
            i += 1
        if len(replica_s) > burst_start:
            burst_p50.append(statistics.median(replica_s[burst_start:]))
    run.report["driver_peak_rss_mb"] = peak_rss_mb()
    # the bulk ops feed only the per-layer records, so only a traced run
    # spends its time on them
    bulk_got, knn_got = bulk_ops(run, serving, n) if run.trace else (None, None)

    # ---- checks (outside the measured region) ----------------------------
    rsample = [q for q in rpool if q[0] in replica_got]
    spark_ref = ranked(spark_rows(serving.batch_search(
        rsample, k=K, query_cut=QUERY_CUT, heap_factor=APPROX_HF).collect()))
    run.stop()

    def exact_checks():
        from seismic_spark import oracle

        o = build_oracle(pdf, ex_cfg)
        fails = call_checks(o, ex_cfg, 1.0, got["exact"], "exact")
        # recall of the approx calls against the exact bruteforce top-10
        hits = []
        for sample, res in got["approx"].values():
            brute = ranked(oracle.bruteforce(o, [gen.merged(q) for q in sample], k=K))
            for q in sample:
                truth = {d for d, _ in brute.get(q[0], [])}
                if truth:
                    hits.append(len(truth & {d for d, _ in res[q[0]]}) / len(truth))
        return fails, hits

    def serving_checks():
        o = build_oracle(pdf, sv_cfg)
        fails = call_checks(o, sv_cfg, APPROX_HF, got["approx"], "approx")
        want = oracle_ranked(o, rsample, APPROX_HF, sv_cfg)
        for q in rsample:
            m = mismatch(replica_got[q[0]], want.get(q[0], []))
            if m is None and not gen.has_duplicate_terms(q):
                m = mismatch(replica_got[q[0]], spark_ref.get(q[0], []), bitwise=True)
            if m:
                fails.append(f"replica {q[0]}: {m}")
        return fails + bulk_checks(o, sv_cfg, n, bulk_got, knn_got), []

    hits = []
    for fails, h in in_parallel(exact_checks, serving_checks):
        for f in fails:
            run.fail(f)
        hits.extend(h)

    every = calls["exact"] + calls["approx"]
    if every and replica_s:
        tail_name, tail_s = tail(every)
        rtail_name, rtail_s = tail(replica_s)
        run.metrics.update(
            setup_s=setup_s, spark_op_p50_ms=1e3 * statistics.median(every)
        )
        run.report.update(
            exact_call_p50_ms=1e3 * statistics.median(calls["exact"]),
            approx_call_p50_ms=1e3 * statistics.median(calls["approx"]),
            call_tail_ms=1e3 * tail_s,
            call_tail_percentile=tail_name,
            exact_ms_each=[round(1e3 * t) for t in calls["exact"]],
            approx_ms_each=[round(1e3 * t) for t in calls["approx"]],
            replica_query_p50_us=1e6 * statistics.median(replica_s),
            replica_query_tail_us=1e6 * rtail_s,
            replica_query_tail_percentile=rtail_name,
            replica_queries=len(replica_s),
            replica_burst_p50_us_each=[round(1e6 * t) for t in burst_p50],
        )
    run.report.update(
        approx_recall_at_10=statistics.fmean(hits) if hits else 1.0, corpus_docs=n
    )


# -------------------------------------------------------------------- bulk --


def bulk_ops(run: Run, serving, n: int) -> tuple:
    """The offline ops that end a traced interactive run, once each: a
    2,000-query batch_search(...).collect() on the serving index (beyond the
    driver fast-path limits, so the distributed in-plan formulation runs)
    and a kappa-NN graph over the whole corpus (build_knn, persisted and
    counted).  Their rates are report lines; their spans give the in-plan
    search and knn layers.  Returns what each op returned (None for an op
    that raised), for bulk_checks."""
    from pyspark.sql import functions as F

    batch = gen.queries(BULK_BATCH, run.seed, "b")
    sample = checked(batch, 12)
    rng = np.random.default_rng([run.seed, 3])
    want_docs = sorted(rng.choice(n, 6, replace=False).tolist())
    tr = run.tracer
    bulk_got = knn_got = None

    run.attempted += 1
    try:
        with tr.op("bulk", True):
            t0 = time.perf_counter()
            with tr.span("search.call", "search", index="bulk"):
                rows = serving.batch_search(
                    batch, k=K, query_cut=QUERY_CUT, heap_factor=APPROX_HF
                ).collect()
            run.report["bulk_queries_per_s"] = BULK_BATCH / (time.perf_counter() - t0)
            search_stats_span(run, serving, batch, APPROX_HF, len(rows))
        res = ranked(spark_rows(rows))
        bulk_got = (sample, {q[0]: res.get(q[0], []) for q in sample})
    except Exception as e:
        run.fail(f"bulk batch: {e!r}")

    run.attempted += 1
    try:
        with tr.op("bulk", True):
            t0 = time.perf_counter()
            with tr.span("knn.build_knn", "knn"):
                graph = serving.build_knn(**KNN)
                n_rows = graph.count()
            run.report["knn_docs_per_s"] = n / (time.perf_counter() - t0)
        nb = {
            int(row["doc_id"]): [int(x) for x in row["neighbors"]]
            for row in graph.filter(F.col("doc_id").isin(want_docs)).collect()
        }
        graph.unpersist()
        knn_got = (n_rows, want_docs, nb)
    except Exception as e:
        run.fail(f"knn: {e!r}")
    return bulk_got, knn_got


def bulk_checks(o, cfg, n: int, bulk_got, knn_got) -> list[str]:
    """Failure messages for the bulk batch's sample (rank-identical to the
    oracle) and the kappa-NN rows (each sampled doc's neighbours are the
    oracle's top nknn for the doc's own vector, itself excluded)."""
    from seismic_spark import oracle

    fails = []
    if bulk_got is not None:
        sample, res = bulk_got
        want = oracle_ranked(o, sample, APPROX_HF, cfg)
        bad = [f"{q[0]}: {m}" for q in sample if (m := mismatch(res[q[0]], want.get(q[0], [])))]
        if bad:
            fails.append("bulk batch: " + "; ".join(bad[:3]))
    if knn_got is not None:
        n_rows, want_docs, nb = knn_got
        terms = {v: t for t, v in o.vocab.items()}
        pos = {int(d): i for i, d in enumerate(o.doc_ids.tolist())}
        bad = [] if n_rows == n else [f"{n_rows} graph rows != {n}"]
        for d in want_docs:
            i = pos[d]
            q = (str(d), [terms[t] for t in o.fwd_terms[i].tolist()], o.fwd_weights[i].tolist())
            res = oracle.search(o, [q], k=KNN["nknn"] + 1, query_cut=KNN["query_cut"],
                                heap_factor=KNN["heap_factor"], two_phase=False)
            want = [doc for _, _, doc, _ in res if doc != d][: KNN["nknn"]]
            if nb.get(d) != want:
                bad.append(f"doc {d}: {nb.get(d)} != {want}")
        if bad:
            fails.append("knn: " + "; ".join(bad[:3]))
    return fails


WORKLOADS = {"ingest": ingest, "interactive": interactive}
