"""Spans around calls into seismic_spark, and the per-layer records built
from them.

A span is recorded by the benchmark's own code around a call into one of
the program's modules: name, layer, start, end, parent span and op id.  In a
traced run the benchmark also wraps the public functions that the program's
build and search entry points call internally (``textprep.*``,
``vocab.build_vocab``, ``forward.build_forward``, ``postings.build_postings``,
``search.resolve_queries``) by replacing the module attributes with wrappers
that open a span.  Spark evaluates lazily, so a wrapper persists and counts
each DataFrame it returns: the layer's work then happens inside its own
span, and its consumers read the cached result.

Each span tags its Spark jobs with ``setJobGroup``.  Job and stage counts
come from the status tracker while the run is live; task time, CPU, GC,
shuffle, spill, result bytes and failures come from the Spark event log,
parsed once the session has stopped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

GROUP_PREFIX = "perfbench-"

# module attribute -> layer, wrapped in traced runs (see module docstring)
WRAPPED = {
    "seismic_spark.textprep": (
        "with_extracted_text", "tokenize", "term_frequencies", "bm25_weights",
        "corpus_stats",
    ),
    "seismic_spark.vocab": ("build_vocab",),
    "seismic_spark.forward": ("build_forward",),
    "seismic_spark.postings": ("build_postings",),
    "seismic_spark.search": ("resolve_queries",),
}


def next_job_id(sc) -> int:
    """The DAG scheduler's next job id (the ``JobCounter`` approach of
    bench_extra.py: jobs run inside a span = the delta across it)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


class Tracer:
    """In-memory span recorder.  Records only while ``active`` is set."""

    def __init__(self) -> None:
        self.sc = None
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._forced: list = []
        self._kept: list = []  # forced in set-up; the indexes keep using them
        self._patches: list[tuple] = []

    # ---------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark: bool = True, **attrs):
        """Record one call.  ``spark=False`` skips job-group tagging for
        calls that never run a Spark job (replica queries)."""
        if not self.active:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.sc if spark else None
        if sc is not None:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            prev_desc = sc.getLocalProperty("spark.job.description")
            sc.setJobGroup(GROUP_PREFIX + str(sid), name)
            j0 = next_job_id(sc)
        rec["start"] = time.time()
        p0 = time.perf_counter()
        c0 = time.process_time()
        try:
            yield rec
        except BaseException as e:
            rec["error"] = repr(e)[:300]
            raise
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["end"] = rec["start"] + rec["dur"]
            rec["driver_cpu_s"] = time.process_time() - c0
            self._stack.pop()
            if sc is not None:
                rec["jobs_total"] = next_job_id(sc) - j0
                rec["jobs"], rec["stages"] = self._own_jobs(sid)
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                sc.setLocalProperty("spark.job.description", prev_desc)

    @contextlib.contextmanager
    def opaque(self):
        """Record no spans inside (the session's own warmup build)."""
        active, self.active = self.active, False
        try:
            yield
        finally:
            self.active = active

    def _own_jobs(self, sid: int) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(GROUP_PREFIX + str(sid)) or []
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages.add(s)
        return len(jobs), len(stages)

    @contextlib.contextmanager
    def op(self, kind: str, traced: bool, release: bool = True, spark: bool = True):
        """Root span of one op.  DataFrames forced inside it are released
        when it ends, unless ``release`` is off (set-up, whose cached
        tables the indexes keep using)."""
        self.active = traced
        if traced:
            self.op_id = (self.op_id or 0) + 1
        try:
            with self.span(kind, "op", spark=spark, kind=kind) as rec:
                yield rec
        finally:
            if release:
                self.release()
            else:
                self._kept.extend(self._forced)
                self._forced.clear()
            self.active = False

    def force(self, df):
        df = df.persist()
        df.count()
        self._forced.append(df)
        return df

    def release(self) -> None:
        while self._forced:
            self._forced.pop().unpersist()

    # -------------------------------------------------------- instrumenting

    def instrument(self) -> None:
        """Wrap the program's inner public functions (traced runs only)."""
        import importlib

        from pyspark import SparkContext
        from pyspark.sql import DataFrame

        for mod_name, names in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            layer = mod_name.rsplit(".", 1)[1]
            for name in names:
                fn = getattr(mod, name)
                setattr(mod, name, self._wrap(fn, f"{layer}.{name}", layer, DataFrame))
                self._patches.append((mod, name, fn))

        orig_bc = SparkContext.broadcast
        tracer = self

        @functools.wraps(orig_bc)
        def broadcast(sc, value):
            b = orig_bc(sc, value)
            path = getattr(b, "_path", None)
            if tracer.active and tracer._stack and path and os.path.exists(path):
                rec = tracer.spans[tracer._stack[-1]]
                rec["broadcast_bytes"] = (
                    rec.get("broadcast_bytes", 0) + os.path.getsize(path)
                )
            return b

        SparkContext.broadcast = broadcast
        self._patches.append((SparkContext, "broadcast", orig_bc))

    def _wrap(self, fn, name: str, layer: str, df_type):
        tracer = self

        @functools.wraps(fn)
        def inner(*a, **kw):
            if not tracer.active:
                return fn(*a, **kw)
            with tracer.span(name, layer):
                out = fn(*a, **kw)
                if isinstance(out, df_type):
                    out = tracer.force(out)
                return out

        return inner

    def uninstrument(self) -> None:
        while self._patches:
            obj, name, fn = self._patches.pop()
            setattr(obj, name, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------- event log ----


def parse_event_log(paths: list[str]) -> dict:
    """Per job group: Spark task/stage/job aggregates; plus the run's JVM
    peak RSS."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple, float] = {}
    peak_rss = 0

    def g(name: str | None) -> dict:
        return groups.setdefault(
            name or "",
            {
                "jobs": 0, "job_spans": [], "stages": 0, "tasks": 0,
                "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "result_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0,
                "wait_s": 0.0,
            },
        )

    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = ev["Job ID"]
                    job_group[jid] = grp
                    job_submit[jid] = ev.get("Submission Time", 0) / 1e3
                    g(grp)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        g(job_group[jid])["job_spans"].append(
                            (job_submit[jid], ev.get("Completion Time", 0) / 1e3)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[si["Stage ID"]] = grp
                    stage_submit[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = (
                        si.get("Submission Time", 0) / 1e3
                    )
                    g(grp)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    rec = g(stage_group.get(sid))
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    rec["tasks"] += 1
                    if info.get("Failed") or info.get("Killed"):
                        rec["failed_tasks"] += 1
                    rec["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                    rec["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    rec["result_bytes"] += tm.get("Result Size", 0)
                    rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sub = stage_submit.get((sid, ev.get("Stage Attempt ID", 0)))
                    if sub and info.get("Launch Time"):
                        rec["wait_s"] += max(0.0, info["Launch Time"] / 1e3 - sub)
                elif kind == "SparkListenerExecutorMetricsUpdate":
                    # local mode: the driver's heartbeats carry the polled
                    # per-stage peaks (the stage-end records read zero)
                    for upd in ev.get("Executor Metrics Updated") or []:
                        em = upd.get("Executor Metrics") or {}
                        peak_rss = max(peak_rss, em.get("ProcessTreeJVMRSSMemory", 0))
    return {"groups": groups, "jvm_peak_bytes": peak_rss}


def _union_s(intervals: list[tuple]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SpanView:
    """Span tree joined with the event log's per-group Spark records."""

    def __init__(self, spans: list[dict], log: dict) -> None:
        self.spans = spans
        self.groups = log["groups"]
        self.jvm_peak_bytes = log["jvm_peak_bytes"]
        self.op_kind = {
            s["op"]: s["kind"] for s in spans if s["layer"] == "op" and s["parent"] is None
        }
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])

    def spark(self, sid: int) -> dict:
        return self.groups.get(GROUP_PREFIX + str(sid), {})

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def self_s(self, sid: int) -> float:
        span = self.spans[sid]
        kids = [
            (self.spans[c]["start"], self.spans[c]["end"])
            for c in self.children.get(sid, [])
        ]
        return max(0.0, span["dur"] - _union_s(kids))

    def tree_sum(self, sid: int, key: str) -> float:
        return sum(self.spark(s).get(key, 0) for s in self.subtree(sid))

    def tree_spark_s(self, sid: int) -> float:
        iv = [iv for s in self.subtree(sid) for iv in self.spark(s).get("job_spans", [])]
        return _union_s(iv)

    def named(self, name: str, setup: bool = False) -> list[dict]:
        """Finished spans called ``name`` inside measured ops (or, with
        ``setup``, inside set-up)."""
        return [
            s for s in self.spans
            if s["name"] == name and "dur" in s
            and (self.op_kind.get(s["op"]) == "setup") == setup
        ]

    def ops(self) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == "op" and s.get("kind") != "setup" and "dur" in s
        ]


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def layer_records(view: SpanView) -> dict[str, float]:
    """Per-layer numbers: means per op (build layers), per call (search,
    knn) or per query (serving), over the traced ops."""
    ops = view.ops()
    out: dict[str, float] = {}
    gs = view.named("session.get_spark", setup=True)
    out["session.get_spark_s"] = gs[0]["dur"] if gs else 0.0

    build_ops = [o for o in ops if o.get("kind") == "ingest"]
    for layer in ("textprep", "vocab", "forward", "postings"):
        per_op = []
        for o in build_ops:
            ids = [s for s in view.subtree(o["id"]) if view.spans[s]["layer"] == layer]
            per_op.append(
                (
                    sum(view.self_s(s) for s in ids),
                    sum(view.spark(s).get("cpu_s", 0.0) for s in ids),
                    sum(view.spark(s).get("shuffle_write_bytes", 0) for s in ids),
                    sum(view.spans[s].get("jobs", 0) for s in ids),
                )
            )
        out[f"{layer}.busy_s"] = mean(p[0] for p in per_op)
        out[f"{layer}.task_cpu_s"] = mean(p[1] for p in per_op)
        out[f"{layer}.shuffle_write_bytes"] = mean(p[2] for p in per_op)
        out[f"{layer}.jobs"] = mean(p[3] for p in per_op)

    ck = view.named("checkpoint.build")
    out["checkpoint.write_s"] = mean(view.self_s(s["id"]) for s in ck)
    out["checkpoint.jobs"] = mean(s.get("jobs", 0) for s in ck)
    out["checkpoint.bytes_written"] = mean(s.get("bytes_written", 0) for s in ck)
    out["postings.blocks"] = mean(s.get("postings_blocks", 0) for s in ck)
    out["postings.bytes"] = mean(s.get("postings_bytes", 0) for s in ck)
    out["postings.docs_per_block"] = mean(s.get("docs_per_block", 0) for s in ck)

    out["index.load_s"] = mean(s["dur"] for s in view.named("index.load"))
    hyd = view.named("serving.hydrate")
    out["serving.hydrate_s"] = mean(s["dur"] for s in hyd)
    out["serving.replica_bytes"] = mean(s.get("replica_bytes", 0) for s in hyd)
    out["serving.query_cpu_us"] = 1e6 * mean(
        s["driver_cpu_s"] for s in view.named("serving.query")
    )

    # interactive calls give the per-call driver/Spark split; the bulk batch
    # gives the in-plan stage, task and shuffle numbers
    named = view.named("search.call")
    calls = [s for s in named if s.get("index") != "bulk"]
    bulk = [s for s in named if s.get("index") == "bulk"]
    out["search.resolve_s"] = mean(
        sum(
            view.spans[c]["dur"]
            for c in view.subtree(s["id"])
            if view.spans[c]["name"] == "search.resolve_queries"
        )
        for s in calls
    )
    out["search.jobs_per_call"] = mean(s.get("jobs_total", 0) for s in calls)
    out["search.spark_s_per_call"] = mean(view.tree_spark_s(s["id"]) for s in calls)
    out["search.driver_cpu_s_per_call"] = mean(s["driver_cpu_s"] for s in calls)
    out["search.collected_bytes_per_call"] = mean(
        view.tree_sum(s["id"], "result_bytes") for s in calls
    )
    out["search.stages"] = mean(
        sum(view.spans[c].get("stages", 0) for c in view.subtree(s["id"]))
        for s in bulk
    )
    out["search.task_s"] = mean(view.tree_sum(s["id"], "task_s") for s in bulk)
    out["search.scheduler_wait_s"] = mean(
        view.tree_sum(s["id"], "wait_s") for s in bulk
    )
    out["search.shuffle_bytes"] = mean(
        view.tree_sum(s["id"], "shuffle_write_bytes") for s in bulk
    )

    stats = [s for s in view.named("search.search_stats") if "blocks_matched" in s]
    n_q = sum(s["queries"] for s in stats)
    matched = sum(s["blocks_matched"] for s in stats)
    cands = sum(s["candidates"] for s in stats)
    out["search.blocks_matched"] = matched / n_q if n_q else 0.0
    out["search.skip_rate"] = (
        sum(s["blocks_skipped"] for s in stats) / matched if matched else 0.0
    )
    out["search.candidates_per_query"] = cands / n_q if n_q else 0.0
    out["search.results_per_candidate"] = (
        sum(s["results"] for s in stats) / cands if cands else 0.0
    )

    knn = view.named("knn.build_knn")
    out["knn.busy_s"] = mean(s["dur"] for s in knn)
    out["knn.tasks"] = mean(view.tree_sum(s["id"], "tasks") for s in knn)
    out["knn.broadcast_bytes"] = mean(
        sum(view.spans[c].get("broadcast_bytes", 0) for c in view.subtree(s["id"]))
        for s in knn
    )

    out["spark.gc_s"] = mean(view.tree_sum(o["id"], "gc_s") for o in ops)
    out["spark.spill_bytes"] = mean(view.tree_sum(o["id"], "spill_bytes") for o in ops)
    out["spark.failed_tasks"] = float(sum(view.tree_sum(o["id"], "failed_tasks") for o in ops))
    out["spark.jvm_peak_rss_mb"] = view.jvm_peak_bytes / 2**20
    return out
