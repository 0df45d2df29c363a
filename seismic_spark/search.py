"""Batch top-k search with Seismic-style dynamic pruning, Spark-first.

Reference semantics (inverted_index.rs:153-234, posting_list.rs:115-215):
scan only the posting lists of the top-``query_cut`` query terms; skip blocks
whose summary-estimated dot product is below ``heap_factor × θ`` (θ = current
k-th best score); exactly re-score survivors against full doc vectors.

Distributed re-design (deterministic — SURVEY.md §7.3): the reference's θ
evolves inside one thread; a naive port would need a driver round-trip to
share it.  Instead θ is derived **inside the plan**, so the whole batch is
ONE Spark job:

  Phase-0 bound (always on): for a query term t with weight qw_t, every doc
  in a block b of t's posting list scores at least qw_t × (its own stored
  weight); the block's best doc scores ≥ qw_t × bmax_b.  Blocks of one list
  hold DISTINCT docs, so the k-th largest qw_t·bmax over t's blocks is
  witnessed by k distinct docs → it lower-bounds the final k-th best score.
  θ_q = max over matched terms of that per-term k-th largest.

  Phase-1 tightening (``two_phase=True`` — the first_sorted analogue,
  posting_list.rs:149-185): decode the single best-ub block of every
  matched list (kernel.best_blocks: ub desc, salt asc, block asc), exactly
  score that bounded candidate set, and take each query's k-th best exact
  score θ2; θ_q ← max(θ_q, θ2).  Like the reference's evolving heap after
  the first sorted list, this tightens θ before the main scan — still one
  logical plan, no driver action: θ2 is one broadcast row per query that
  joins the block rows before the fused operator.

  Blocks with ``summary_ub < heap_factor × θ_q`` are skipped; survivors are
  decoded, deduped across lists (the reference's `visited` set), exactly
  re-scored against full doc vectors, and top-k'ed per query.  θ, the skip
  and decode + dedup run in ONE streamed operator over each query's
  co-located block rows (_fused_candidates); θ and the skip decision are
  kernel.keep_mask in every path.

With upper-bound summaries (summary_energy=1.0, quant_ceil) and
heap_factor=1.0 this is EXACT w.r.t. scanning the cut-term posting lists.

QUERIES ARE A DATAFRAME, not a driver-side dict: (query_id, q_terms, q_weights)
rows travel through the plan as Arrow array columns, so the same code path
serves 6 interactive queries (arrays broadcast) and 10^9 self-join queries
for κ-NN graph construction (shuffle join on query_id) — no per-task pickled
closures, no driver memory proportional to the query set.

Physical plan: `postings ⋈ cut_terms` is a term_id join that touches only
matching term rows (broadcast for small batches, shuffle on the postings
partition key otherwise); candidate→forward is a shuffle join on doc_id
(bucket-able at scale); top-k is window row_number — never a driver loop.

Float parity with the numpy oracle (oracle.py): every upper bound and every
exact score is a `codec.segment_sums` (np.add.reduceat) over identically
ordered f64 contribution arrays, which is a position-independent pure
function of the segment — engine and oracle floats are bitwise equal, so
knife-edge skip decisions (ub vs hf·θ) can never diverge between them.
The numpy half of every path here (Arrow scans, the fused tail, the
driver-local fast path, bruteforce) runs on seismic_spark/kernel.py, the
same code the serving replica and the κ-NN map run.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seismic_spark import codec, kernel
from seismic_spark.kernel import QVec, merge_sorted_terms

QUERIES_SCHEMA = "query_id STRING, q_terms ARRAY<INT>, q_weights ARRAY<DOUBLE>"

log = logging.getLogger(__name__)

# driver-side vocab map gate for resolve_queries (strings + ids; ~60 MB at
# the 1M default) — over it, token resolution stays a per-batch join
_VOCAB_MAP_MAX_TERMS = int(os.environ.get("SEISMIC_VOCAB_MAP_MAX_TERMS", str(1 << 20)))


# ------------------------------------------------------ query resolution ----


def resolve_queries(
    spark: SparkSession,
    queries: list[tuple[str, list[str], list[float]]],
    vocab: DataFrame,
    cache: dict | None = None,
) -> dict[str, QVec]:
    """Token → term_id resolution; unknown tokens silently dropped, result
    sorted by term id (P3, inverted_index_wrapper.rs:75-91).

    ``cache`` (r6 pass 3): a caller-scoped dict (SeismicSparkIndex passes
    its per-instance cache) holding a driver-side ``{term: term_id}`` map of
    the immutable vocab table, collected ONCE per index instance when the
    vocab fits ``_VOCAB_MAP_MAX_TERMS`` — every later batch resolves with
    dict lookups instead of a per-batch join job (measured 0.43 s of fixed
    job cost per interactive batch at sf0.1).  Result-identical by
    construction: ``term`` is unique in vocab, the join keeps exactly the
    tokens the dict lookup keeps, and both paths merge duplicates through
    the same pinned :func:`merge_sorted_terms` (order-independent).  Over
    the cap the join path runs unchanged.
    """
    rows = [
        (qid, t, float(w))
        for qid, terms, weights in queries
        for t, w in zip(terms, weights)
    ]
    if not rows:
        return {}
    by_q: dict[str, list[tuple[int, float]]] = {}
    vmap = None
    if cache is not None:
        vmap = cache.get("vocab_map")
        if vmap is None and not cache.get("vocab_map_overflow"):
            capped = (
                vocab.select("term", "term_id")
                .limit(_VOCAB_MAP_MAX_TERMS + 1)
                .collect()
            )
            if len(capped) > _VOCAB_MAP_MAX_TERMS:
                cache["vocab_map_overflow"] = True
            else:
                vmap = {r["term"]: int(r["term_id"]) for r in capped}
                cache["vocab_map"] = vmap
    if vmap is not None:
        for qid, t, w in rows:
            tid = vmap.get(t)
            if tid is not None:
                by_q.setdefault(qid, []).append((tid, w))
    else:
        qdf = spark.createDataFrame(
            rows, "query_id STRING, term STRING, qw DOUBLE"
        )
        resolved = (
            vocab.join(F.broadcast(qdf), "term")
            .select("query_id", "term_id", "qw")
            .collect()
        )
        for r in resolved:
            by_q.setdefault(r["query_id"], []).append((r["term_id"], r["qw"]))
    out: dict[str, QVec] = {}
    for qid, pairs in by_q.items():
        # repeated tokens (or distinct tokens resolving to one term id) merge
        # by summing weights — routed through THE pinned merge so the float
        # is independent of .collect() row order (merge_sorted_terms contract)
        out[qid] = merge_sorted_terms(
            np.asarray([p[0] for p in pairs], dtype=np.int64),
            np.asarray([p[1] for p in pairs], dtype=np.float64),
        )
    return out


def queries_df_from_qvecs(spark: SparkSession, qvecs: dict[str, QVec]) -> DataFrame:
    """Driver-side resolved queries → the canonical queries DataFrame."""
    rows = [
        (qid, [int(x) for x in t], [float(x) for x in w])
        for qid, (t, w) in qvecs.items()
    ]
    return spark.createDataFrame(rows, QUERIES_SCHEMA)


def _as_queries_df(spark: SparkSession, queries) -> tuple[DataFrame, bool]:
    """Accept a dict-of-qvecs (small, driver-side) or a queries DataFrame.

    Returns (queries_df, is_small) — is_small drives broadcast decisions.
    """
    if isinstance(queries, DataFrame):
        return queries, False
    return queries_df_from_qvecs(spark, queries), True


def cut_terms(queries_df: DataFrame, query_cut: int) -> DataFrame:
    """Top-``query_cut`` terms per query by (weight desc, term_id asc) —
    inverted_index.rs:187-190's k_largest_by.  Returns (query_id, term_id, qw).

    r6: a NARROW per-row selection (mapInArrow over the query arrays) —
    the cut is a pure function of one row, so the old explode → groupBy →
    window formulation paid two exchanges plus a window sort for nothing
    (guide §2.4); worse, AQE coalesced its tiny shuffle to ONE partition at
    bench scale, serializing everything downstream of it in the same stage
    (event-log measured: a 5.9 s single-task stage in the κ-NN chain).
    Zero-copy Arrow flattening; duplicate term ids within a row merge
    through the pinned (term asc, weight asc) reduceat order
    (merge_sorted_terms' contract), value-identical to the old groupBy-sum
    for the duplicate-free rows every engine path produces.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def gen(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in it:
            if rb.num_rows == 0:
                continue
            t_flat, lens = kernel.list_flat(rb.column("q_terms"), np.int64)
            w_flat, _ = kernel.list_flat(rb.column("q_weights"), np.float64)
            row_rep = np.repeat(np.arange(rb.num_rows, dtype=np.int64), lens)
            # merge duplicate (row, term) through THE pinned merge order
            k_s, w_s = merge_sorted_terms(row_rep * kernel.KEY_SHIFT + t_flat, w_flat)
            row_m = k_s // kernel.KEY_SHIFT
            t_m = k_s - row_m * kernel.KEY_SHIFT
            # top-query_cut per row by (weight desc, term asc)
            sel = np.lexsort((t_m, -w_s, row_m))
            keep = sel[kernel.group_rank(kernel.segment_starts(row_m[sel])) < query_cut]
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(rb.column("query_id"), pa.array(row_m[keep])),
                    pa.array(t_m[keep].astype(np.int32)),
                    pa.array(w_s[keep]),
                ],
                ["query_id", "term_id", "qw"],
            )

    return queries_df.select("query_id", "q_terms", "q_weights").mapInArrow(
        gen, "query_id STRING, term_id INT, qw DOUBLE"
    )


# -------------------------------------------------------------- scoring -----


def exact_score(
    cands: DataFrame,
    forward: DataFrame,
    queries,
    id_col: str = "doc_id",
    broadcast_queries: bool | None = None,
) -> DataFrame:
    """Exact dot product of full query vector vs full doc vectors.

    cands(query_id, doc_id) ⋈ forward ⋈ queries → one vectorized CSR pass
    per Arrow batch (combined-key searchsorted + per-doc segment sums — Q5
    analogue).  Returns (query_id, doc_id, score DOUBLE).  Scores are
    bitwise-reproducible across partitionings (segment_sums is a pure
    function of the doc's own contribution array).
    """
    qdf, small = _as_queries_df(cands.sparkSession, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    qj = F.broadcast(qdf) if broadcast_queries else qdf
    joined = (
        cands.join(forward, id_col)
        .join(qj, "query_id")
        .select("query_id", id_col, "terms", "weights", "q_terms", "q_weights")
    )

    import pyarrow as pa
    import pyarrow.compute as pc

    def score_batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # r6: Arrow-native flat buffers (guide §4.2) — the candidate-pair
        # volume is rows × full vectors (κ-NN: 2.2×10^7 pairs at sf0.1), and
        # the old pandas path paid a per-row np.asarray on four nested
        # columns; flatten()/list_value_length are O(1) buffer views.  The
        # scoring floats are the SAME flat f64 arrays in the same order, so
        # every score is bitwise unchanged.
        for rb in it:
            n = rb.num_rows
            if n == 0:
                continue
            qkey, qw = kernel.arrow_query_keys(
                rb.column("q_terms"), rb.column("q_weights")
            )
            t_all, lens = kernel.list_flat(rb.column("terms"), np.int64)
            w_all, _ = kernel.list_flat(rb.column("weights"), np.float64)
            row_rep = np.repeat(np.arange(n, dtype=np.int64), lens)
            contrib = kernel.gather_qw(qkey, qw, t_all, row_rep) * w_all
            scores = codec.segment_sums(contrib, np.cumsum(lens) - lens, lens)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("query_id"),
                    pc.cast(rb.column(id_col), pa.int64()),
                    pa.array(scores),
                ],
                ["query_id", "doc_id", "score"],
            )

    return joined.mapInArrow(
        score_batches, "query_id STRING, doc_id BIGINT, score DOUBLE"
    )


def topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k, ties broken by doc_id asc (pinned total order,
    SURVEY.md §7.3) — (query_id, rank, doc_id, score)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


# ------------------------------------------------------ block UB scan -------


def _block_ubs(postings_matched: DataFrame) -> DataFrame:
    """Per (query, posting-row, block): summary upper-bound dot (Q2), the
    block-max lower bound, and the block's encoded doc ids.

    Fully vectorized per Arrow batch: all blocks of all rows are flattened
    into concatenated summary-element arrays; one searchsorted resolves every
    (element, query) weight; per-block UBs are segment sums.  No per-row or
    per-block Python math.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def scan(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # r6: Arrow-native flat buffers (guide §4.2) — flatten() /
        # list_value_length are O(1) buffer views and the gap blobs pass
        # through as one untouched Arrow binary column.
        for rb in it:
            nrow = rb.num_rows
            if nrow == 0:
                continue
            qkey, qw_all = kernel.arrow_query_keys(
                rb.column("q_terms"), rb.column("q_weights")
            )
            # ---- block level -------------------------------------------
            blocks_flat, nb = kernel.list_flat(rb.column("blocks"))
            row_of_block = np.repeat(np.arange(nrow, dtype=np.int64), nb)
            bmax_all, _ = kernel.list_flat(rb.column("block_max"), np.float64)
            qw_row = rb.column("qw").to_numpy(zero_copy_only=False)
            lb = qw_row[row_of_block] * bmax_all

            # ---- summary-element level ----------------------------------
            st_inner, _ = kernel.list_flat(rb.column("summary_terms"))
            st_all, slen = kernel.list_flat(st_inner, np.int64)
            codes_all, _ = kernel.binary_flat(
                kernel.list_flat(rb.column("summary_codes"))[0]
            )
            vals = kernel.dequantize(
                codes_all,
                kernel.list_flat(rb.column("summary_min"), np.float32)[0],
                kernel.list_flat(rb.column("summary_quant"), np.float32)[0],
                slen,
            )
            qw_elem = kernel.gather_qw(
                qkey, qw_all, st_all, np.repeat(row_of_block, slen)
            )
            ub = codec.segment_sums(qw_elem * vals, np.cumsum(slen) - slen, slen)

            idx = pa.array(row_of_block)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(rb.column("query_id"), idx),
                    pc.take(rb.column("term_id"), idx),
                    pc.take(rb.column("salt"), idx),
                    blocks_flat,
                    pa.array(ub),
                    pa.array(lb),
                    kernel.list_flat(rb.column("doc_gaps"))[0],
                ],
                ["query_id", "term_id", "salt", "block", "ub", "lb", "gaps"],
            )

    cols_df = postings_matched.select(
        "query_id", "term_id", "salt", "qw", "q_terms", "q_weights",
        "blocks", "block_max", "doc_gaps",
        "summary_terms", "summary_codes", "summary_min", "summary_quant",
    )
    return cols_df.mapInArrow(
        scan,
        "query_id STRING, term_id INT, salt INT, block INT, ub DOUBLE, "
        "lb DOUBLE, gaps BINARY",
    )


def _forward_csr(forward: DataFrame, csr_cache: dict | None):
    """The forward table as flat CSR numpy arrays on the driver, collected
    once per index (``csr_cache`` is the caller's per-instance dict).

    Returns ``(ids_sorted, perm, starts, lens, t_flat, w_flat)`` — doc ids
    sorted for searchsorted lookup, ``perm`` mapping sorted position → row,
    and per-row (start, len) slices into the flat term/weight arrays.
    """
    fwd_csr = csr_cache.get("forward") if csr_cache is not None else None
    if fwd_csr is None:
        tbl = forward.select("doc_id", "terms", "weights").toArrow()
        ids = tbl.column(0).to_numpy().astype(np.int64)
        t_flat, lens = kernel.list_flat(tbl.column(1), np.int64)
        w_flat, _ = kernel.list_flat(tbl.column(2), np.float64)
        perm = np.argsort(ids, kind="stable")
        fwd_csr = (ids[perm], perm, np.cumsum(lens) - lens, lens, t_flat, w_flat)
        if csr_cache is not None:
            csr_cache["forward"] = fwd_csr
    return fwd_csr


def _per_query(
    frame: DataFrame, process, schema: str = "query_id STRING, doc_id BIGINT"
) -> DataFrame:
    """Run ``process`` over complete, co-located query groups of block rows
    — one repartition("query_id") + in-partition sort, then a streamed
    ``mapInPandas`` that carries a query split across Arrow batches into
    the next call.  ``process(pdf)`` gets whole queries' rows sorted by
    query_id and returns a ``schema`` frame or None."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in it:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            qids = pdf["query_id"].to_numpy()
            cut = int(np.flatnonzero(qids == qids[-1])[0])
            complete, rest = pdf.iloc[:cut], pdf.iloc[cut:]
            carry = rest.reset_index(drop=True) if len(rest) else None
            if len(complete):
                out = process(complete)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = process(carry)
            if out is not None:
                yield out

    parted = frame.repartition("query_id").sortWithinPartitions("query_id")
    return parted.mapInPandas(gen, schema)


def _query_codes(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(query ids, first-row mask, per-row query code) of query-sorted rows."""
    qids = pdf["query_id"].to_numpy()
    starts = kernel.segment_starts(qids)
    return qids[starts], starts, np.cumsum(starts) - 1


def _decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole queries' (query_id, gaps) block rows → their distinct
    (query_id, doc_id) candidates."""
    uq, qs, ds = _decode_rows(pdf)
    return pd.DataFrame({"query_id": uq[qs], "doc_id": ds})


def _decode_docs(block_rows: DataFrame) -> DataFrame:
    """(query_id, gaps) → distinct (query_id, doc_id) candidates (the
    reference's cross-list `visited` dedup, posting_list.rs:206-214): one
    vectorized continuation-bit decode per batch of co-located queries."""
    return _per_query(block_rows.select("query_id", "gaps"), _decode_group)


def _phase1_candidates(ubs: DataFrame) -> DataFrame:
    """two_phase's phase-1 candidates: the docs of every matched list's
    best-ub block (:func:`kernel.best_blocks`), deduped per query."""

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        _, _, q_of = _query_codes(pdf)
        best = kernel.best_blocks(
            q_of,
            pdf["term_id"].to_numpy(dtype=np.int64),
            pdf["ub"].to_numpy(dtype=np.float64),
            pdf["salt"].to_numpy(dtype=np.int64),
            pdf["block"].to_numpy(dtype=np.int64),
        )
        return _decode_group(pdf.iloc[best])

    cols = ["query_id", "term_id", "salt", "block", "ub", "gaps"]
    return _per_query(ubs.select(*cols), process)


def _with_theta2(
    ubs: DataFrame, forward: DataFrame, qdf: DataFrame, k: int,
    broadcast_queries: bool, cache_registry: list[DataFrame],
) -> DataFrame:
    """ubs plus a ``theta2`` column: each query's k-th best exact phase-1
    score (null where phase 1 found fewer than k docs) — the first_sorted
    tightening :func:`_fused_candidates` maxes into θ.  One row per query,
    always broadcast (AQE has no stats for a Python UDF's output).  Phase 1
    and the fused tail both read the block scan, so ``ubs`` is persisted
    (once, not per consumer) and appended to ``cache_registry``."""
    ubs = ubs.persist()
    cache_registry.append(ubs)
    p1 = exact_score(
        _phase1_candidates(ubs), forward, qdf, broadcast_queries=broadcast_queries
    )
    theta2 = (
        topk(p1, k)
        .filter(F.col("rank") == k)
        .select("query_id", F.col("score").alias("theta2"))
    )
    return ubs.join(F.broadcast(theta2), "query_id", "left")


def _fused_keep(pdf: pd.DataFrame, k: int, heap_factor: float) -> np.ndarray:
    """The in-plan θ + skip decision over whole queries' block rows:
    :func:`kernel.keep_mask` over their f64 ub/lb, maxed with the
    ``theta2`` column (null → NaN) when :func:`_with_theta2` added it.
    Returns the surviving row indices."""
    uq, starts, q_of = _query_codes(pdf)
    theta2 = None
    if "theta2" in pdf:
        theta2 = pdf["theta2"].to_numpy(dtype=np.float64)[starts]
    return np.flatnonzero(
        kernel.keep_mask(
            q_of,
            pdf["term_id"].to_numpy(dtype=np.int64),
            pdf["lb"].to_numpy(dtype=np.float64),
            pdf["ub"].to_numpy(dtype=np.float64),
            k,
            uq.size,
            heap_factor,
            theta2,
        )
    )


def _fused_input(ubs: DataFrame) -> DataFrame:
    """The block-row columns :func:`_fused_keep` and the decode read."""
    cols = ("query_id", "term_id", "ub", "lb", "gaps", "theta2")
    return ubs.select(*(c for c in cols if c in ubs.columns))


def _fused_candidates(ubs: DataFrame, k: int, heap_factor: float) -> DataFrame:
    """θ derivation + skip filter + gap decode + cross-list dedup in ONE
    streamed operator — the tail of every in-plan batch, both two_phase
    settings, dict and DataFrame queries.

    One repartition("query_id") co-locates each query's block rows (guide
    §2.4: no window/aggregate/distinct chain; §2.3: the gap blobs cross one
    exchange), and one vectorized pass per batch of whole queries runs θ
    and the skip predicate (:func:`kernel.keep_mask`, as the driver fast
    path does; the serving replica runs the same :func:`kernel.theta0` /
    :func:`kernel.keep_blocks` — the same f64 values and IEEE comparison,
    so the surviving block set and every downstream score are bitwise
    identical), then decode + dedup (complete, because a query's rows are
    co-located).  With two_phase, ``ubs`` carries :func:`_with_theta2`'s
    column and θ is maxed with it.  Queries with no term reaching k blocks
    and no phase-1 θ keep all their blocks.
    """

    def process(pdf: pd.DataFrame) -> pd.DataFrame | None:
        kept = _fused_keep(pdf, k, heap_factor)
        return _decode_group(pdf.iloc[kept]) if kept.size else None

    return _per_query(_fused_input(ubs), process)


# ---------------------------------------------------------- batch search ----

# Interactive batches up to this size take the driver-θ fast path (override
# with $SEISMIC_DRIVER_THETA_MAX; 0 disables).  Bound: the driver holds one
# narrow row per matched block — batch × query_cut × blocks-per-list rows of
# six scalars — plus the surviving-keys literal it ships back.
_DRIVER_THETA_MAX = int(os.environ.get("SEISMIC_DRIVER_THETA_MAX", "1024"))

# Hard row cap on the narrow block table the fast path collects: the gate
# above bounds batch × query_cut, but blocks-per-list is data-dependent (a
# head-term-heavy batch on a many-block index can multiply it arbitrarily).
# The collect is issued as limit(cap+1); hitting the cap aborts to the
# in-plan θ derivation (result-identical), so driver memory is bounded by
# construction: cap rows × 6 scalars ≈ 50 MB at the default.
_DRIVER_THETA_MAX_ROWS = int(
    os.environ.get("SEISMIC_DRIVER_THETA_MAX_ROWS", "1000000")
)

# In-plan dict batches push the union of all query term ids into the postings
# scan as an IN predicate (result-neutral pruning).  Above this many ids the
# literal list itself bloats Catalyst optimization / Parquet predicate
# conversion more than the scan pruning saves, so skip it (the cut-terms
# join already restricts the scan output).  The cost is NOT marginal: at the
# batch-10000 design point (~30k ids, 1M docs) the literal IN cost an
# event-log-measured 14.5 s driver-only planning gap plus serialized-plan
# bloat in every task — removing it took the 4-core leg from ~46 s to ~27 s
# and the 1-core leg from ~134 s to ~96 s, and even at batch 1000 (~4.4k
# ids) an interleaved A/B read 13.5-16.1 s with vs 11.2-12.1 s without
# (BENCH/BASELINE.md round-5 serial-fraction section).  At-scale row-group
# pruning belongs to the term-bucket partitioned snapshot path
# (SeismicSparkIndex._postings_for: <= n_buckets literals), so the generic
# id-literal list only stays where it is provably cheap.
_SCAN_PRUNE_MAX_IDS = int(os.environ.get("SEISMIC_SCAN_PRUNE_MAX_IDS", "2048"))

# Fallback ubs-cache lifecycle for direct batch_search callers that pass no
# registry: previous caches are retired here on the next call, so a
# long-lived session never accumulates dead persisted RDDs.
# SeismicSparkIndex passes its per-instance registry instead, keeping
# interleaved searches on different indexes from thrashing each other.
_DEFAULT_CACHE_REGISTRY: list[DataFrame] = []


def _merge_dup_qvecs(qvecs: dict[str, QVec]) -> dict[str, QVec]:
    """Deterministically merge duplicate term ids within each query vector.

    Dict batches are normalized ONCE here, before path selection, so the
    driver-θ fast path and the in-plan derivation both see duplicate-free,
    term-sorted queries — which is what makes their documented bitwise
    identity hold even for queries that repeat a term: any float summation
    the two paths would otherwise do independently (Python insertion-order
    vs Spark aggregation-order) happens exactly once, over a pinned element
    order (term id asc, then weight asc within a duplicate group) — the
    reduceat's association is numpy's but the inputs are a pure function of
    the multiset, so the merged float is reproducible.
    """
    return {qid: merge_sorted_terms(t, w) for qid, (t, w) in qvecs.items()}


def _cut_qvecs(qvecs: dict[str, QVec], query_cut: int) -> list[tuple]:
    """Driver-side cut_terms over resolved query vectors: top-``query_cut``
    terms per query by (weight desc, term_id asc), duplicate ids merged by
    weight sum — value-identical to the window in :func:`cut_terms`, zero
    Spark jobs."""
    rows: list[tuple] = []
    for qid, (t, w) in qvecs.items():
        t = np.asarray(t, dtype=np.int64)
        w = np.asarray(w, dtype=np.float64)
        if t.size == 0:
            continue
        if np.unique(t).size != t.size:
            t, w = merge_sorted_terms(t, w)
        order = np.lexsort((t, -w))[:query_cut]
        rows.extend(
            (qid, int(t[i]), float(w[i])) for i in order.tolist()
        )
    return rows


def _decode_rows(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(query_id, gaps) block rows → deduped candidates as
    ``(unique qids sorted, per-pair qid code, per-pair doc_id)`` — integer
    codes, not pandas object rows (an exact-search batch decodes hundreds
    of thousands of (query, doc) pairs; object-dtype drop_duplicates is
    ~10× slower)."""
    uq, q_of = np.unique(rows["query_id"].to_numpy(), return_inverse=True)
    return (uq, *kernel.decode_dedup(q_of.astype(np.int64), rows["gaps"]))


def _compact_rescore(
    block_rows: DataFrame, forward: DataFrame, qdf: DataFrame, k: int
) -> DataFrame:
    """Low-latency rescore tail for SMALL surviving-block sets: decode and
    dedup candidates in ONE task (replacing _decode_docs' `.distinct()`
    shuffle with an in-partition dedup), then broadcast the candidate
    ids into the forward join — the forward scan stays parallel, but the
    only exchange left in the chain is the final tiny top-k window.

    Callers gate on block count (``_COMPACT_TAIL_MAX_BLOCKS``): candidates
    are broadcast, so this path is for interactive batches where the
    distributed tail's 5–6 AQE stage jobs are pure scheduling overhead
    (measured ~2 s per chain at 1M docs regardless of data size).
    """

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one coalesced partition → a partition-wide dedup is a full dedup
        frames = [pdf for pdf in it if not pdf.empty]
        if frames:
            yield _decode_group(pd.concat(frames, ignore_index=True))

    cands = (
        block_rows.select("query_id", "gaps")
        .coalesce(1)
        .mapInPandas(decode, "query_id STRING, doc_id BIGINT")
        .hint("broadcast")
    )
    scored = exact_score(cands, forward, qdf, broadcast_queries=True)
    return topk(scored, k)


def _rescore_blocks(
    block_rows: DataFrame, n_blocks: int, forward: DataFrame, qdf: DataFrame, k: int
) -> DataFrame:
    """Decode → exact rescore → top-k of surviving block rows: the compact
    tail up to ``_COMPACT_TAIL_MAX_BLOCKS`` blocks, the distributed
    decode/distinct chain above it."""
    if n_blocks <= _COMPACT_TAIL_MAX_BLOCKS:
        return _compact_rescore(block_rows, forward, qdf, k)
    cands = _decode_docs(block_rows)
    return topk(exact_score(cands, forward, qdf, broadcast_queries=True), k)


# Compact-tail gate: blocks hold at most a few hundred docs, so ≤4096
# surviving blocks keeps the broadcast candidate set ≲ 1M (query, doc)
# pairs ≈ tens of MB — comfortably under executor broadcast budgets.
_COMPACT_TAIL_MAX_BLOCKS = 4096

# Local fast-path gate (r6): collect the block table WITH its gap blobs in
# one bounded toPandas (limit(cap+1)) and decode candidates on the driver —
# the whole θ/p1/survivor machinery then needs no persisted ubs frame, no
# broadcast-key joins back into the cache, and no separate decode stage, so
# an interactive batch runs 2 Spark action chains (3 with two_phase) instead
# of the 12–18 AQE jobs the cached formulation paid (each ~0.2–0.7 s of
# scheduling floor — event-log measured).  The transfer is bounded: cap rows
# × (~24 B narrow + the row's gap blob, ≤ a few hundred B) ≈ tens of MB.
# Above the cap the persisted-ubs path runs unchanged (gap blobs stay on
# executors), so the gate is scale-safe.
_DRIVER_GAPS_MAX_ROWS = int(
    os.environ.get("SEISMIC_DRIVER_GAPS_MAX_ROWS", "131072")
)

# Driver-CSR scoring gate: interactive dict batches on an index whose
# forward table fits this byte budget (est. n_docs·avgdl·16 B) are scored
# entirely on the driver against a once-collected CSR copy of the forward
# index — the reference's own in-process architecture, applied when the
# corpus is small enough that one process holds it (the serving replica's
# hydration budget, in miniature).  Above the cap nothing is collected and
# the distributed formulations run unchanged, so the gate is scale-safe.
# Default sizing: avgdl counts TOKENS, so for tokenized corpora the
# estimate overshoots true forward nnz bytes ~5–10× — 384 MB estimated is
# ≤ ~50–80 MB actually collected there, and at worst (pre-weighted
# vectors, avgdl == nnz) a one-time 384 MB pull on an 8 GB driver.
_LOCAL_SCORE_MAX_BYTES = int(
    os.environ.get("SEISMIC_LOCAL_SCORE_MAX_BYTES", str(384 << 20))
)

# threads for driver-side pair scoring (kernel.score_pairs)
_DRIVER_THREADS = min(8, os.cpu_count() or 1)

_RESULT_SCHEMA = "query_id STRING, rank INT, doc_id BIGINT, score DOUBLE"


def _result_df(spark: SparkSession, pdf: pd.DataFrame | None) -> DataFrame:
    """A driver-side (query_id, rank, doc_id, score) frame as a DataFrame."""
    if pdf is None or pdf.empty:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    return spark.createDataFrame(pdf, _RESULT_SCHEMA)


def _qside_from_qvecs(
    qvecs: dict[str, QVec]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side combined-key query table from resolved query vectors:
    the same :func:`kernel.query_keys` construction the Arrow-batch scorers
    apply, so gathered weights are bitwise identical.  Rows follow
    sorted-qid order; lookup by searchsorted."""
    qids = sorted(qvecs)
    ts = [np.asarray(qvecs[q][0], dtype=np.int64) for q in qids]
    ws = [np.asarray(qvecs[q][1], dtype=np.float64) for q in qids]
    lens = np.array([t.size for t in ts], dtype=np.int64)
    qkey, qw = kernel.query_keys(lens, np.concatenate(ts), np.concatenate(ws))
    return np.asarray(qids, dtype=np.str_), qkey, qw


def _local_topk(rows: pd.DataFrame, qside, fwd_csr, k: int) -> pd.DataFrame:
    """Decode + dedup collected block rows, exact-score the candidates
    against the driver forward CSR (:func:`kernel.score_pairs`) and keep
    the per-query top-k (:func:`kernel.topk_frame`).  Docs absent from the
    forward table are dropped, matching the inner join they replace."""
    uq, qs, ds = _decode_rows(rows)
    qids_sorted, qkey, qw = qside
    f_ids, f_perm, f_starts, f_lens, f_t, f_w = fwd_csr
    di = np.minimum(np.searchsorted(f_ids, ds), max(f_ids.size - 1, 0))
    ok = f_ids[di] == ds if f_ids.size else np.zeros(ds.size, dtype=bool)
    if not ok.all():
        qs, ds, di = qs[ok], ds[ok], di[ok]
    qi_of_code = np.searchsorted(qids_sorted, np.asarray(uq, dtype=np.str_))
    scores = kernel.score_pairs(
        qi_of_code[qs], f_perm[di], f_starts, f_lens, f_t, f_w, qkey, qw,
        threads=_DRIVER_THREADS,
    )
    return kernel.topk_frame(uq, qs, ds, scores, k)


def _driver_keep(
    tbl: pd.DataFrame, k: int, heap_factor: float, p1_kth=None
) -> np.ndarray:
    """Survivor mask over a collected block table (:func:`kernel.keep_mask`
    — the same f64 values and IEEE predicate as the in-plan operator).

    ``p1_kth(best_rows)`` (two_phase) exact-scores the best-ub block of
    every matched list (:func:`kernel.best_blocks`) and returns ``(query
    ids, k-th best score)`` arrays; θ is maxed with them."""
    uq, q_of = np.unique(tbl["query_id"].to_numpy(), return_inverse=True)
    term = tbl["term_id"].to_numpy(dtype=np.int64)
    ub = tbl["ub"].to_numpy(dtype=np.float64)
    theta2 = None
    if p1_kth is not None:
        best = kernel.best_blocks(
            q_of, term, ub, tbl["salt"].to_numpy(), tbl["block"].to_numpy()
        )
        qids, kth = p1_kth(tbl.iloc[best])
        theta2 = np.full(uq.size, -np.inf)
        if len(qids):
            i = np.searchsorted(uq, np.asarray(qids, dtype=object))
            theta2[i] = np.asarray(kth, dtype=np.float64)
    return kernel.keep_mask(
        q_of, term, tbl["lb"].to_numpy(dtype=np.float64), ub, k, uq.size,
        heap_factor, theta2,
    )


def _driver_theta_local(
    spark: SparkSession,
    matched: DataFrame,
    qvecs: dict[str, QVec],
    k: int,
    heap_factor: float,
    two_phase: bool,
    fwd_csr,
) -> DataFrame | None:
    """One-collect, fully-local fast path (see ``_DRIVER_GAPS_MAX_ROWS``):
    block table + gap blobs arrive in a single bounded toPandas; θ (phase 0
    and the two_phase tightening), the skip filter, candidate decode, exact
    rescore (against the caller's size-gated forward CSR — the reference's
    own in-process scoring architecture, inverted_index.rs:153-234) and
    top-k ALL run on the driver, in the kernel.  The batch costs exactly
    ONE Spark job — the block-UB scan feeding the collect — instead of the
    persisted-ubs formulation's 12–18 AQE stage jobs (each ~0.2–0.7 s of
    scheduling floor).

    Value parity is exact and pinned (test_search_fastpath): θ is selected
    from the same collected f64 ub/lb values, phase-1 and final scores come
    from the kernel's row scorer (bitwise-identical contribution arrays to
    `exact_score`), the skip predicate is the same IEEE comparison, and
    ranking is the kernel's pinned total order.  Returns None when the
    block table exceeds the cap — the caller falls back to the
    persisted-ubs formulation, which keeps gap blobs on the executors.
    """
    tbl = _block_ubs(matched).limit(_DRIVER_GAPS_MAX_ROWS + 1).toPandas()
    if len(tbl) > _DRIVER_GAPS_MAX_ROWS:
        return None
    if tbl.empty:
        return _result_df(spark, None)
    qside = _qside_from_qvecs(qvecs)

    def p1_kth(best: pd.DataFrame):
        p1 = _local_topk(best, qside, fwd_csr, k)
        kth = p1[p1["rank"] == k]
        return kth["query_id"].to_numpy(), kth["score"].to_numpy()

    keep = _driver_keep(tbl, k, heap_factor, p1_kth if two_phase else None)
    survivors = tbl if keep.all() else tbl.loc[keep]
    return _result_df(spark, _local_topk(survivors, qside, fwd_csr, k))


def _driver_theta_search(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    qvecs: dict[str, QVec],
    qdf: DataFrame,
    k: int,
    query_cut: int,
    heap_factor: float,
    two_phase: bool,
    cache_registry: list[DataFrame] | None,
    fwd_csr=None,
) -> DataFrame:
    """Interactive-batch fast path: θ evolves ON THE DRIVER, like the
    reference's in-process heap (inverted_index.rs:153-234), instead of
    inside the plan.

    Motivation (measured, BENCH/BASELINE.md round-4 batch-size section): the
    in-plan θ derivation is one logical plan but AQE materializes its every
    tiny shuffle/broadcast stage as a separate job — 17–24 jobs per batch
    when measured, ~6 s of scheduling fixed cost at any corpus size, which
    dominates batches under ~1000 queries.  For a driver-side dict the
    narrow block table (query_id, term_id, salt, block, ub, lb — no gap
    blobs) is a few hundred rows per query at most, so the θ derivation
    that costs in-plan exchanges is a microsecond numpy pass locally:

      job 1   materialize + cache the block-UB scan, collect narrow columns
      (job 2) two_phase only: exact-score the best-ub block per matched
              list, collect the per-query k-th best (phase-1 tightening,
              posting_list.rs:149-185)
      job 3   filter the CACHED ubs frame to the surviving block keys
              (broadcast literal), decode, exact re-score, top-k — the gap
              blobs never leave the executors

    With a forward CSR (``fwd_csr``) the whole batch runs locally instead
    (:func:`_driver_theta_local`); its row cap falls back to the
    persisted-ubs formulation above.

    Float parity with the in-plan path is exact: θ is selected by
    comparisons over the same f64 values the plan would aggregate (k-th
    largest lb, k-th best phase-1 score), and the skip predicate
    ``ub >= heap_factor × θ`` is evaluated in IEEE f64 either way, so the
    survivor set — and therefore every downstream score — is bitwise
    identical (tested: test_search_fastpath.py).

    DataFrame-scale query sets (κ-NN graph: millions of queries) keep the
    in-plan derivation (:func:`_fused_candidates`) — collecting their block
    table would be a driver bottleneck, which is exactly why the in-plan
    variant exists.

    Returns None when the narrow block table exceeds
    ``_DRIVER_THETA_MAX_ROWS`` (collected via limit(cap+1), so the transfer
    itself is bounded) — the caller then falls back to the in-plan path.
    """
    cut_rows = _cut_qvecs(qvecs, query_cut)
    if not cut_rows:
        return _result_df(spark, None)
    cterms = spark.createDataFrame(
        cut_rows, "query_id STRING, term_id INT, qw DOUBLE"
    )
    # Result-neutral scan pruning: the join keeps only these term_ids anyway,
    # but an explicit IN predicate reaches the postings SCAN — Parquet
    # row-group stats skip non-matching groups (postings files are
    # term-sorted, postings.py stream builder) and InMemoryTableScan skips
    # cached batches.  Measured ~0.2-0.3 s off the UB scan at 1M docs
    # locally; the real payoff is bucket-partitioned snapshots at scale,
    # where it stacks with _postings_for's file-level bucket pruning.
    term_ids = sorted({int(r[1]) for r in cut_rows})
    if len(term_ids) <= _SCAN_PRUNE_MAX_IDS:
        # same cap as the in-plan path: above it the literal list costs
        # Catalyst more than the scan pruning saves (measured, see
        # _SCAN_PRUNE_MAX_IDS) — the auto-gate keeps auto-engaged batches
        # under it, but an explicit driver_theta=True caller may not be
        postings = postings.filter(F.col("term_id").isin(term_ids))
    matched = (
        postings
        .join(F.broadcast(cterms), "term_id")
        .join(F.broadcast(qdf), "query_id")
    )
    if cache_registry is not None:
        retire_caches(cache_registry)
    if fwd_csr is not None:
        res = _driver_theta_local(
            spark, matched, qvecs, k, heap_factor, two_phase, fwd_csr
        )
        if res is not None:
            return res
    # gaps ride along in the ubs frame: persist it so the rescore tail
    # filters the cached frame instead of re-running the scan
    ubs = _block_ubs(matched).persist()
    if cache_registry is not None:
        cache_registry.append(ubs)

    # Collect with a hard row cap: the auto-gate bounds batch × query_cut,
    # but blocks-per-list is data-dependent, so a head-term-heavy batch on a
    # many-block index could otherwise collect an unexpectedly wide table.
    # limit(cap+1) bounds the transfer itself; hitting the cap returns None
    # and the caller falls back to the in-plan θ derivation.
    key_cols = ["query_id", "term_id", "salt", "block"]
    narrow = (
        ubs.select(*key_cols, "ub", "lb")
        .limit(_DRIVER_THETA_MAX_ROWS + 1)
        .toPandas()
    )
    if len(narrow) > _DRIVER_THETA_MAX_ROWS:
        return None
    if narrow.empty:
        return _result_df(spark, None)

    def blocks_of(keys: pd.DataFrame) -> DataFrame:
        kdf = spark.createDataFrame(
            keys[key_cols], "query_id STRING, term_id INT, salt INT, block INT"
        )
        return ubs.join(F.broadcast(kdf), key_cols)

    def p1_kth(best: pd.DataFrame):
        p1 = _rescore_blocks(blocks_of(best), len(best), forward, qdf, k)
        rows = p1.filter(F.col("rank") == k).select("query_id", "score").collect()
        return [r["query_id"] for r in rows], [r["score"] for r in rows]

    keep = _driver_keep(narrow, k, heap_factor, p1_kth if two_phase else None)
    survivors = ubs if keep.all() else blocks_of(narrow.loc[keep])
    return _rescore_blocks(survivors, int(keep.sum()), forward, qdf, k)


def retire_caches(cache_registry: list[DataFrame]) -> None:
    """Unpersist every DataFrame in a caller-scoped cache registry.

    ubs frames persisted by previous batch_search calls are retired at the
    caller's next call so a long-lived session issuing many searches never
    accumulates dead cached RDDs in executor storage memory.  A result
    DataFrame collected AFTER the retirement recomputes its subtree —
    correct, just un-cached.
    """
    while cache_registry:
        df = cache_registry.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:  # a stopped session has nothing left to release
            log.warning("could not unpersist a cached ubs frame", exc_info=True)


def batch_search(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    queries,
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
    broadcast_queries: bool | None = None,
    cache_registry: list[DataFrame] | None = None,
    driver_theta: bool | None = None,
    local_score: bool = False,
    csr_cache: dict | None = None,
) -> DataFrame:
    """Dynamically-pruned batch top-k (Q1/Q9 analogue), single logical plan.

    ``queries`` is a dict {query_id: (term_ids, weights)} (interactive path,
    broadcast) or a DataFrame with QUERIES_SCHEMA (bulk path, e.g. every doc
    as a query for κ-NN).  ``q_terms`` SHOULD be sorted ascending per row
    with distinct ids; unsorted rows are repaired batch-side and duplicate
    ids merged by weight sum (see kernel.repair_qkey).  Returns (query_id, rank,
    doc_id, score); no driver-side loops or mid-plan actions.

    ``cache_registry``: caller-scoped lifecycle for the persisted ubs frame
    (SeismicSparkIndex passes a per-instance list, so interleaved searches on
    DIFFERENT indexes never thrash each other's cache).  Previous entries are
    retired, the new cache appended.  With None a module-level default
    registry is used, so direct callers in a long session still have each
    call retire the previous call's cache instead of accumulating persisted
    RDDs until LRU/disk pressure.

    ``driver_theta``: derive θ on the driver instead of in-plan (see
    :func:`_driver_theta_search` — result-identical, ~3 jobs instead of
    17–24).  Default (None) auto-enables for driver-side dict batches of at
    most ``$SEISMIC_DRIVER_THETA_MAX`` (1024) queries; DataFrame query sets
    always use the in-plan derivation.

    ``local_score`` (fast-path dict batches only): collect the forward
    table once into a driver-side CSR (cached in ``csr_cache`` when the
    caller provides one — SeismicSparkIndex passes a per-instance dict)
    and run θ, decode, rescore and top-k entirely on the driver
    (:func:`_driver_theta_local`) — result-identical, one Spark job per
    batch.  The CALLER must gate on forward size (see
    ``_LOCAL_SCORE_MAX_BYTES`` and SeismicSparkIndex.batch_search).

    Every other batch — DataFrame queries, dict batches over the fast-path
    gates, both two_phase settings — runs the in-plan tail: block-UB scan
    → (two_phase: :func:`_with_theta2`) → :func:`_fused_candidates` →
    :func:`exact_score` → :func:`topk`.  With two_phase the block scan is
    persisted (phase 1 and the fused tail both read it) and registered in
    ``cache_registry``.
    """
    if not isinstance(queries, DataFrame):
        # normalize duplicate term ids ONCE, deterministically, before path
        # selection — both θ paths then see identical duplicate-free floats
        # (the documented fast-path/in-plan bitwise identity)
        queries = _merge_dup_qvecs(queries)
    if cache_registry is None:
        cache_registry = _DEFAULT_CACHE_REGISTRY
    qdf, small = _as_queries_df(spark, queries)
    if broadcast_queries is None:
        broadcast_queries = small
    if driver_theta is None:
        # Auto-engage only where the compact rescore tail can engage too:
        # phase-1 decodes one block per matched list, and the batch has at
        # most len(queries) × query_cut lists.  Above the compact-tail bound
        # the fast path degenerates to the same distributed chains as the
        # in-plan derivation PLUS serial job barriers — measured SLOWER at
        # batch 1000 × cut 10 in a same-window interleaved ABAB (1M docs,
        # BENCH/BASELINE.md), while batch ≤ ~400 wins every rep.
        driver_theta = (
            small
            and 0 < len(queries) <= _DRIVER_THETA_MAX
            and len(queries) * query_cut <= _COMPACT_TAIL_MAX_BLOCKS
        )
    if driver_theta and small:
        fwd_csr = _forward_csr(forward, csr_cache) if local_score else None
        res = _driver_theta_search(
            spark, postings, forward, queries, qdf, k, query_cut,
            heap_factor, two_phase, cache_registry, fwd_csr=fwd_csr,
        )
        if res is not None:
            return res
        # Block-table row cap hit — fall through to the in-plan derivation,
        # which retires the fast path's abandoned persisted ubs.
    qdf = qdf.filter(F.size("q_terms") > 0)
    if small:
        # Dict batches routed in-plan still know their term union on the
        # driver; an IN predicate on the SUPERSET of all query terms is
        # result-neutral (the cut-terms join restricts further) and reaches
        # the postings scan for row-group / cached-batch / bucket-file
        # pruning, same as the fast path's filter.  Above the cap the
        # literal list costs Catalyst more than the pruning saves — skip.
        all_ids = sorted({int(t) for ts, _ in queries.values() for t in ts})
        if all_ids and len(all_ids) <= _SCAN_PRUNE_MAX_IDS:
            postings = postings.filter(F.col("term_id").isin(all_ids))
    cterms = cut_terms(qdf, query_cut)
    qj = F.broadcast(cterms) if broadcast_queries else cterms
    matched = postings.join(qj, "term_id")
    qvec_j = F.broadcast(qdf) if broadcast_queries else qdf
    matched = matched.join(qvec_j, "query_id")
    ubs = _block_ubs(matched)
    retire_caches(cache_registry)
    if two_phase:
        ubs = _with_theta2(ubs, forward, qdf, k, broadcast_queries, cache_registry)
    cands = _fused_candidates(ubs, k, heap_factor)
    scored = exact_score(cands, forward, qdf, broadcast_queries=broadcast_queries)
    return topk(scored, k)


def search_stats(
    spark: SparkSession,
    postings: DataFrame,
    forward: DataFrame,
    queries,
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
) -> dict[str, float]:
    """Skip-rate instrumentation for a query batch: how many matched blocks
    the dynamic pruning skipped, and how many candidate docs survived.

    Counted by the in-plan operator itself (:func:`_fused_keep` over each
    query's block rows, with two_phase's :func:`_with_theta2` column), so
    the counts are those of the θ and skip decision every search path
    makes; used by the accuracy/efficiency harness — the analogue of the
    reference's per-run reporting (scripts/run_experiments.py:287-309).
    """
    qdf, _ = _as_queries_df(spark, queries)
    qdf = qdf.filter(F.size("q_terms") > 0)
    cterms = cut_terms(qdf, query_cut)
    matched = postings.join(F.broadcast(cterms), "term_id").join(
        F.broadcast(qdf), "query_id"
    )
    ubs = _block_ubs(matched)
    cache: list[DataFrame] = []
    if two_phase:
        ubs = _with_theta2(ubs, forward, qdf, k, True, cache)

    def count(pdf: pd.DataFrame) -> pd.DataFrame:
        kept = _fused_keep(pdf, k, heap_factor)
        n_cands = _decode_rows(pdf.iloc[kept])[2].size if kept.size else 0
        return pd.DataFrame(
            {"matched": [len(pdf)], "scanned": [kept.size], "cands": [n_cands]}
        )

    sums = (
        _per_query(_fused_input(ubs), count, "matched LONG, scanned LONG, cands LONG")
        .agg(*(F.sum(c).alias(c) for c in ("matched", "scanned", "cands")))
        .collect()[0]
    )
    retire_caches(cache)
    matched_n, scanned, n_cands = (int(v or 0) for v in sums)
    return {
        "blocks_matched": matched_n,
        "blocks_scanned": scanned,
        "blocks_skipped": matched_n - scanned,
        "skip_rate": round(1.0 - scanned / matched_n, 4) if matched_n else 0.0,
        "candidates": n_cands,
    }


# Driver bruteforce gate: total scored elements = n_queries × corpus nnz;
# under this, the full scan is a single vectorized numpy pass on the driver
# against the collected forward CSR — above it (or for DataFrame queries)
# the distributed crossJoin oracle runs unchanged.
_BRUTE_LOCAL_MAX_ELEMS = int(
    os.environ.get("SEISMIC_BRUTE_LOCAL_MAX_ELEMS", str(50_000_000))
)


def bruteforce_search(
    spark: SparkSession,
    forward: DataFrame,
    queries,
    k: int = 10,
    local_score: bool = False,
    csr_cache: dict | None = None,
) -> DataFrame:
    """Exact full-scan top-k (Q10 analogue / ground-truth oracle).

    ``local_score`` (dict batches, caller-gated like batch_search's): score
    every (query, doc) pair on the driver against the collected forward CSR
    — the same kernel row scorer, the same ``score > 0`` IEEE predicate,
    the same pinned top-k order, so results are identical to the crossJoin
    formulation."""
    qdf, small = _as_queries_df(spark, queries)
    if small and local_score and queries:
        qvecs = {
            q: v for q, v in queries.items()
            if np.asarray(v[0]).size > 0
        }
        f_ids, f_perm, f_starts, f_lens, f_t, f_w = _forward_csr(forward, csr_cache)
        nq = len(qvecs)
        if nq == 0 or f_ids.size == 0:
            return _result_df(spark, None)
        if nq * f_t.size <= _BRUTE_LOCAL_MAX_ELEMS:
            qids_sorted, qkey, qw = _qside_from_qvecs(qvecs)
            qs = np.repeat(np.arange(nq, dtype=np.int64), f_ids.size)
            di = np.tile(np.arange(f_ids.size, dtype=np.int64), nq)
            scores = kernel.score_pairs(
                qs, f_perm[di], f_starts, f_lens, f_t, f_w, qkey, qw,
                threads=_DRIVER_THREADS,
            )
            pos = scores > 0.0
            return _result_df(
                spark,
                kernel.topk_frame(qids_sorted, qs[pos], f_ids[di][pos], scores[pos], k),
            )
    qdf = qdf.filter(F.size("q_terms") > 0)
    cands = qdf.select("query_id").crossJoin(forward.select("doc_id"))
    scored = exact_score(cands, forward, qdf, broadcast_queries=small).filter(
        F.col("score") > 0
    )
    return topk(scored, k)
