"""The numpy search kernel — the one in-process copy of Seismic's per-query
math (inverted_index.rs:153-234): query-term merge, per-element query-weight
gather, block upper bounds, phase-0 θ, the block skip predicate, candidate
decode + cross-list dedup, exact row scoring and the pinned top-k order.

Every in-process path runs on these functions: driver-local search and
bruteforce (search.py), the fused ``mapInPandas`` tail and the Arrow scans
(search.py), :class:`~seismic_spark.serving.ServingReplica` and the κ-NN
replica map (knn.py).  One copy is what makes their results bitwise equal:
every upper bound and exact score is a ``codec.segment_sums`` over f64
contribution arrays built here in the same element order, θ is selected by
comparisons over the same values, and the skip predicate is the same IEEE
f64 comparison — so the survivor set and every score agree across paths
(and with oracle.py).
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd

from seismic_spark import codec

QVec = tuple[np.ndarray, np.ndarray]  # (term_ids sorted asc int64, weights f64)

KEY_SHIFT = np.int64(1) << np.int64(32)  # (row, term) → sortable combined key

# Dense query-weight LUT gate: one f64 slot per term id (32 MB at the 4M
# default).  Larger id spaces use the value-identical searchsorted gather.
LUT_MAX_DIM = 1 << 22

# Element budget per pair-scoring slice (see score_pairs).
_SLICE_ELEMS = 1_500_000


# ------------------------------------------------------------ query side ----


def merge_sorted_terms(t, w) -> QVec:
    """THE pinned duplicate-term merge — single source of truth for the
    fast-path / in-plan / serving-replica bitwise-identity contract.

    (term asc, weight asc) lexsort, then one reduceat per duplicate group:
    the summation order is a pure function of the (term, weight) multiset,
    so the merged float is reproducible regardless of input order.  Every
    caller that merges duplicate query terms MUST route through here — a
    divergent copy silently breaks the documented bitwise guarantees.
    ``t`` may be combined row·2^32+term keys (search.cut_terms merges a
    whole Arrow batch in one call).
    """
    t = np.asarray(t, dtype=np.int64)
    w = np.asarray(w, dtype=np.float64)
    order = np.lexsort((w, t))
    t, w = t[order], w[order]
    if t.size > 1 and np.any(np.diff(t) == 0):
        starts = np.flatnonzero(np.concatenate(([True], np.diff(t) != 0)))
        w = np.add.reduceat(w, starts)
        t = t[starts]
    return t, w


def repair_qkey(qkey: np.ndarray, qw: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Sort an unsorted flattened query-key array (weights permuted
    identically) and merge duplicate keys by weight sum — stable argsort,
    reduceat in original order within a group.  A no-op on the sorted,
    duplicate-free keys every engine path produces; a user-supplied queries
    DataFrame with unsorted or repeated q_terms is repaired here instead of
    aborting the batch (a repeated component contributes (w1+w2)·dv to a
    dot product, so the merge is score-identical to the caller's intent)."""
    if qkey.size > 1:
        d = np.diff(qkey)
        if not np.all(d > 0):
            order = np.argsort(qkey, kind="stable")
            qkey, qw = qkey[order], qw[order]
            dup = np.diff(qkey) == 0
            if np.any(dup):
                starts = np.flatnonzero(np.concatenate(([True], ~dup)))
                qw = np.add.reduceat(qw, starts)
                qkey = qkey[starts]
    return qkey, qw


def query_keys(
    lens: np.ndarray, terms: np.ndarray, weights: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row query vectors (row lengths + flat term ids / weights) →
    ``(qkey, qw)``: combined row·2^32+term keys, sorted, duplicates merged
    (:func:`repair_qkey`) — one searchsorted then serves every row."""
    row = np.repeat(np.arange(lens.size, dtype=np.int64), lens)
    return repair_qkey(row * KEY_SHIFT + terms, weights)


def gather_qw(
    qkey: np.ndarray,
    qw: np.ndarray,
    terms: np.ndarray,
    rows: np.ndarray | None = None,
) -> np.ndarray:
    """Per-element query weight, 0.0 where the term is not in the query.
    ``rows`` gives each element's query row for combined keys
    (:func:`query_keys`); without it ``qkey`` is one query's sorted ids."""
    skey = terms if rows is None else rows * KEY_SHIFT + terms
    idx = np.searchsorted(qkey, skey)
    idx_c = np.minimum(idx, max(qkey.size - 1, 0))
    hit = qkey[idx_c] == skey if qkey.size else np.zeros(skey.size, dtype=bool)
    return np.where(hit, qw[idx_c] if qw.size else 0.0, 0.0)


def lut_size(dim: int) -> int:
    """``dim`` when a dense query-weight table of that many slots fits
    :data:`LUT_MAX_DIM`, else 0 (use :func:`gather_qw`)."""
    return dim if 0 < dim <= LUT_MAX_DIM else 0


# --------------------------------------------------------- Arrow flatten ----


def list_flat(col, dtype=None):
    """Arrow list column (Array or ChunkedArray) → (flat child, per-row
    lengths int64) as buffer views — no per-cell Python objects.  With
    ``dtype`` the child comes back as a numpy array of that dtype."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
    child = col.flatten()
    if dtype is not None:
        child = child.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return child, lens


def arrow_query_keys(q_terms, q_weights) -> tuple[np.ndarray, np.ndarray]:
    """Arrow ``q_terms`` / ``q_weights`` list columns → :func:`query_keys`."""
    t, lens = list_flat(q_terms, np.int64)
    w, _ = list_flat(q_weights, np.float64)
    return query_keys(lens, t, w)


def binary_flat(arr) -> tuple[np.ndarray, np.ndarray]:
    """Arrow Binary/LargeBinary array → (concatenated uint8 view in element
    order, per-value byte lengths) — one data buffer plus offsets, so no
    per-value ``np.frombuffer`` and no copy."""
    import pyarrow as pa

    n = len(arr)
    bufs = arr.buffers()
    if n == 0 or bufs[1] is None or bufs[2] is None:
        return np.empty(0, dtype=np.uint8), np.zeros(n, dtype=np.int64)
    off_dtype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(bufs[1], dtype=off_dtype)[arr.offset : arr.offset + n + 1]
    off = off.astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data[off[0] : off[-1]], np.diff(off)


def dequantize(
    codes: np.ndarray, mins: np.ndarray, quants: np.ndarray, lens: np.ndarray
) -> np.ndarray:
    """Flat u8 summary codes → f64 values, per-summary affine params
    repeated over each summary's ``lens`` elements — the f32 arithmetic of
    codec.dequantize_u8, widened exactly."""
    vals = np.repeat(mins, lens) + codes.astype(np.float32) * np.repeat(quants, lens)
    return vals.astype(np.float32, copy=False).astype(np.float64)


# ------------------------------------------------------------- segments ----


def segment_starts(*keys: np.ndarray) -> np.ndarray:
    """Bool mask of positions starting a new run of equal ``keys`` tuples
    (keys sorted so equal tuples are adjacent)."""
    m = np.zeros(keys[0].size, dtype=bool)
    m[:1] = True
    for a in keys:
        m[1:] |= a[1:] != a[:-1]
    return m


def group_rank(starts_mask: np.ndarray) -> np.ndarray:
    """0-based position of each element within its run."""
    starts = np.flatnonzero(starts_mask)
    lens = np.diff(np.append(starts, starts_mask.size))
    return np.arange(starts_mask.size, dtype=np.int64) - np.repeat(starts, lens)


# --------------------------------------------------------------- θ + skip ----


def theta0(
    q_of: np.ndarray, term: np.ndarray, lb: np.ndarray, k: int, nq: int
) -> np.ndarray:
    """Phase-0 θ per query: the k-th largest block lower bound ``lb`` of
    each (query, term) list, maxed over the query's lists.

    Blocks of one list hold distinct docs, so the k-th largest lb is
    witnessed by k distinct docs and lower-bounds the final k-th best score.
    Returns f64[nq]; -inf for queries with no list of ≥ k blocks (they skip
    nothing).  The k-th largest VALUE is tie-order independent, so every
    caller selects the same float."""
    theta = np.full(nq, -np.inf)
    if lb.size == 0:
        return theta
    order = np.lexsort((-lb, term, q_of))
    qo, lbo = q_of[order], lb[order]
    kth = group_rank(segment_starts(qo, term[order])) == k - 1
    kq, kv = qo[kth], lbo[kth]
    if kq.size:
        gs = np.flatnonzero(segment_starts(kq))
        theta[kq[gs]] = np.maximum.reduceat(kv, gs)
    return theta


def keep_blocks(ub: np.ndarray, theta, heap_factor: float) -> np.ndarray:
    """The block skip predicate: keep ``ub >= heap_factor·θ`` (IEEE f64);
    rows whose θ (scalar or per row) is -inf keep every block."""
    if np.ndim(theta) == 0:
        if theta > -np.inf:
            return ub >= heap_factor * theta
        return np.ones(ub.shape, dtype=bool)
    has = theta > -np.inf
    keep = np.ones(ub.shape, dtype=bool)
    keep[has] = ub[has] >= heap_factor * theta[has]
    return keep


def best_blocks(
    q_of: np.ndarray,
    term: np.ndarray,
    ub: np.ndarray,
    salt: np.ndarray,
    block: np.ndarray,
) -> np.ndarray:
    """Index of each (query, term) list's best block — first by (ub desc,
    salt asc, block asc), a total order within a list — the block phase 1
    exact-scores (first_sorted, posting_list.rs:149-185)."""
    order = np.lexsort((block, salt, -ub, term, q_of))
    return order[segment_starts(q_of[order], term[order])]


def keep_mask(
    q_of: np.ndarray,
    term: np.ndarray,
    lb: np.ndarray,
    ub: np.ndarray,
    k: int,
    nq: int,
    heap_factor: float,
    theta2: np.ndarray | None = None,
) -> np.ndarray:
    """Survivor mask over block rows of ``nq`` queries: θ = max(
    :func:`theta0`, ``theta2``) per query, then :func:`keep_blocks`.
    ``theta2`` (f64[nq], two_phase) is each query's k-th best phase-1 exact
    score; NaN or -inf where phase 1 scored fewer than k docs."""
    theta = theta0(q_of, term, lb, k, nq)
    if theta2 is not None:
        theta = np.fmax(theta, theta2)
    return keep_blocks(ub, theta[q_of], heap_factor)


# ------------------------------------------------------- decode + dedup ----


def decode_blocks(gaps) -> tuple[np.ndarray, np.ndarray]:
    """Delta-gap blobs → (flat doc ids int64, ids per blob) in one
    vectorized continuation-bit pass (codec.delta_decode_multi)."""
    ids, counts = codec.delta_decode_multi([bytes(b) for b in gaps])
    return ids.astype(np.int64), counts


def decode_dedup(q_of: np.ndarray, gaps) -> tuple[np.ndarray, np.ndarray]:
    """Decode each block's doc ids under its query code ``q_of`` and drop
    repeats — the reference's cross-list ``visited`` set
    (posting_list.rs:206-214).  Returns (query code, doc id) pairs sorted
    by (query, doc)."""
    ids, counts = decode_blocks(gaps)
    qrep = np.repeat(q_of, counts)
    order = np.lexsort((ids, qrep))
    qs, ds = qrep[order], ids[order]
    m = segment_starts(qs, ds)
    return qs[m], ds[m]


# ------------------------------------------------------------ row scoring ----


def flat_slices(starts: np.ndarray, lens: np.ndarray, offsets=None) -> np.ndarray:
    """Indices selecting CSR slices [starts_i, starts_i+lens_i) flattened
    (``offsets``: the slices' output offsets, cumsum(lens) - lens)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    if offsets is None:
        offsets = np.cumsum(lens) - lens
    return np.arange(total, dtype=np.int64) + np.repeat(starts - offsets, lens)


def score_rows(starts, lens, terms, weights, qweights) -> np.ndarray:
    """Exact query·row dot for CSR rows [starts_i, starts_i+lens_i) of
    (terms, weights): slice gather → per-element query weight
    ``qweights(row_terms, row_offsets)`` → ``codec.segment_sums``.  Each
    row's float is a pure function of its own contribution array, so it is
    bitwise the same in every caller and at any batching."""
    offsets = np.cumsum(lens) - lens
    idx = flat_slices(starts, lens, offsets)
    contrib = qweights(terms[idx], offsets) * weights[idx]
    return codec.segment_sums(contrib, offsets, lens)


def score_pairs(
    qi: np.ndarray,
    di: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    terms: np.ndarray,
    weights: np.ndarray,
    qkey: np.ndarray,
    qw: np.ndarray,
    threads: int = 1,
) -> np.ndarray:
    """Exact scores of (query row ``qi``, CSR row ``di``) pairs, query rows
    keyed by :func:`query_keys` ``(qkey, qw)``.

    Scored in slices of about ``_SLICE_ELEMS`` elements: one unsliced pass
    allocates element-length temporaries of tens-to-hundreds of MB, which
    glibc mmaps and returns to the OS on free — every call then faults
    fresh pages, and under a throttled host page supply the pass stalls for
    minutes (event-log measured: 121 s vs 2.3 s python time for identical
    input).  ≤ ~12 MB temporaries stay under the allocator's dynamic mmap
    threshold and are recycled in-heap.  ``threads > 1`` scores the
    disjoint slices on a thread pool (the hot numpy ops release the GIL,
    ~4× at 8 threads); driver callers use it, executor callers keep 1.

    Query-weight gather: pairs that arrive in per-query runs scatter each
    run's weights into a per-thread dense table, gather by term id and zero
    the slots again — one fancy index instead of a per-element binary
    search (~18× faster at the κ-NN design point).  A slice whose runs are
    too short to pay the per-run cost (mean run under 2 pairs), or a term-id
    space over :data:`LUT_MAX_DIM`, uses the :func:`gather_qw` binary search.
    Both return the stored weight at hits and 0.0 at misses, so every score
    is bitwise the same at any slicing, thread count or gather.
    """
    plens = lens[di]
    ends = np.cumsum(plens)
    scores = np.empty(qi.size, dtype=np.float64)
    bounds: list[tuple[int, int]] = []
    lo = 0
    while lo < qi.size:
        base = int(ends[lo - 1]) if lo else 0
        hi = int(np.searchsorted(ends, base + _SLICE_ELEMS, side="right"))
        hi = min(max(hi, lo + 1), qi.size)
        bounds.append((lo, hi))
        lo = hi

    lut_dim = 0
    if qkey.size:
        # every gathered id (forward terms, query terms) is < dim
        t_max = int(terms.max()) if terms.size else 0
        lut_dim = lut_size(1 + max(t_max, int((qkey % KEY_SHIFT).max())))
    luts: dict[int, np.ndarray] = {}

    def _slice(b: tuple[int, int]) -> None:
        lo, hi = b
        qi_sl = qi[lo:hi]
        run_s = np.flatnonzero(segment_starts(qi_sl))

        def lut_gather(t_el: np.ndarray, offsets: np.ndarray) -> np.ndarray:
            lut = luts.get(threading.get_ident())
            if lut is None:
                lut = luts[threading.get_ident()] = np.zeros(lut_dim)
            out = np.zeros(t_el.size, dtype=np.float64)
            el_of = np.append(offsets, t_el.size)
            run_e = np.append(run_s[1:], qi_sl.size)
            for rs, re_ in zip(run_s, run_e):
                q = int(qi_sl[rs])
                a = int(np.searchsorted(qkey, q * KEY_SHIFT, side="left"))
                bq = int(np.searchsorted(qkey, (q + 1) * KEY_SHIFT, side="left"))
                if a == bq:  # query absent → all misses (0.0)
                    continue
                qt_r = qkey[a:bq] % KEY_SHIFT
                es, ee = int(el_of[rs]), int(el_of[re_])
                lut[qt_r] = qw[a:bq]
                out[es:ee] = lut[t_el[es:ee]]
                lut[qt_r] = 0.0
            return out

        def bsearch_gather(t_el: np.ndarray, offsets: np.ndarray) -> np.ndarray:
            return gather_qw(qkey, qw, t_el, np.repeat(qi_sl, plens[lo:hi]))

        use_lut = lut_dim and 2 * run_s.size <= qi_sl.size
        scores[lo:hi] = score_rows(
            starts[di[lo:hi]], plens[lo:hi], terms, weights,
            lut_gather if use_lut else bsearch_gather,
        )

    if threads > 1 and len(bounds) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=threads) as ex:
            list(ex.map(_slice, bounds))
    else:
        for b in bounds:
            _slice(b)
    return scores


# ----------------------------------------------------------------- top-k ----


def topk_select(
    qi: np.ndarray, ds: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query top-k over scored pairs by the pinned (score desc, doc_id
    asc) total order search.topk's row_number uses.  Returns (selected pair
    indices, int32 ranks 1..k) — negating finite f64 scores is order-exact,
    so the selection equals the window's."""
    order = np.lexsort((ds, -scores, qi))
    rank = group_rank(segment_starts(qi[order]))
    keep = rank < k
    return order[keep], (rank[keep] + 1).astype(np.int32)


def topk_frame(
    qids: np.ndarray, qs: np.ndarray, ds: np.ndarray, scores: np.ndarray, k: int
) -> pd.DataFrame:
    """(query_id, rank, doc_id, score) top-k frame of scored (query code,
    doc id) pairs; ``qids[code]`` names each query."""
    sel, ranks = topk_select(qs, ds, scores, k)
    return pd.DataFrame(
        {
            "query_id": np.asarray(qids, dtype=object)[qs[sel]],
            "rank": ranks,
            "doc_id": ds[sel],
            "score": scores[sel],
        }
    )
