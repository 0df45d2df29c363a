"""Single-process numpy oracle with the engine's exact semantics (no Spark).

SURVEY.md §5 "Oracle 2": a deterministic reference implementation of the
*distributed* engine's search semantics — same BM25 weighting, same pruning
(I1 top-n per term by weight desc/doc_id asc), same blocking, same
energy-truncated ceil-quantized summaries (shared code: codec.py,
postings.block_of_rank_np / truncate_energy), same in-plan θ rule
(max over matched terms of the k-th largest qw·block_max), same skip rule
(ub ≥ heap_factor·θ) and the same tie-break (score desc, doc_id asc).

The Spark engine must reproduce this oracle's top-k doc ids rank-identically
at ANY config — including pruned/approximate ones where the exact-BM25 SQL
oracle no longer applies.  (Rust-reference RNG streams can't be reproduced
from Python, so rank-identity is defined against this faithful oracle —
SURVEY.md §5.)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from math import log

import numpy as np

from seismic_spark import codec
from seismic_spark.postings import (
    IndexConfig,
    block_of_rank_np,
    kmeans_blocks,
    truncate_energy,
)
from seismic_spark.textprep import B, K1


@dataclass
class OracleIndex:
    vocab: dict[str, int]
    df: np.ndarray
    doc_ids: np.ndarray  # sorted asc
    fwd_terms: list[np.ndarray]
    fwd_weights: list[np.ndarray]
    postings: dict[int, dict] = field(default_factory=dict)
    cfg: IndexConfig = field(default_factory=IndexConfig)


def tokenize(text: str) -> list[str]:
    return [t for t in text.lower().split(" ") if t]


def build(docs: list[tuple[int, str]], cfg: IndexConfig | None = None) -> OracleIndex:
    cfg = cfg or IndexConfig()
    toks = {d: tokenize(t) for d, t in docs}
    n_docs = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n_docs if n_docs else 0.0
    terms = sorted({t for v in toks.values() for t in v})
    vocab = {t: i for i, t in enumerate(terms)}
    df = np.zeros(len(terms), dtype=np.int64)
    for v in toks.values():
        for t in set(v):
            df[vocab[t]] += 1

    doc_ids = np.asarray(sorted(toks), dtype=np.int64)
    fwd_terms: list[np.ndarray] = []
    fwd_weights: list[np.ndarray] = []
    for pos, d in enumerate(doc_ids.tolist()):
        tl = toks[d]
        dl = len(tl)
        tf: dict[int, int] = {}
        for t in tl:
            tf[vocab[t]] = tf.get(vocab[t], 0) + 1
        tids = np.asarray(sorted(tf), dtype=np.int64)
        ws = np.empty(tids.size, dtype=np.float64)
        for i, tid in enumerate(tids.tolist()):
            # clamp mirrors textprep.bm25_weights (no-op for same-corpus
            # vocab where df <= n_docs — only the shared-vocab path engages)
            idf = max(0.0, log(1.0 + (n_docs - df[tid] + 0.5) / (df[tid] + 0.5)))
            c = tf[tid]
            ws[i] = idf * c * (K1 + 1.0) / (c + K1 * (1.0 - B + B * dl / avgdl))
        fwd_terms.append(tids)
        fwd_weights.append(ws)

    # value-storage round-trip (P5 matrix) — same transforms as the engine
    # UDF (textprep.value_round_trip_col); fixed-point types scale by the
    # corpus-wide max weight, so it's a second pass.
    if cfg.value_type not in ("f64", None):
        scale_max = max(
            (float(w.max()) for w in fwd_weights if w.size), default=0.0
        )
        for i, ws in enumerate(fwd_weights):
            if cfg.value_type == "f16":
                fwd_weights[i] = ws.astype(np.float16).astype(np.float64)
            elif cfg.value_type == "f32":
                fwd_weights[i] = ws.astype(np.float32).astype(np.float64)
            elif cfg.value_type == "bf16":
                fwd_weights[i] = codec.bf16_round_trip(ws)
            elif cfg.value_type == "fixedu8":
                fwd_weights[i] = codec.fixed_round_trip(ws, 8, scale_max)
            elif cfg.value_type == "fixedu16":
                fwd_weights[i] = codec.fixed_round_trip(ws, 16, scale_max)
            else:
                raise ValueError(f"unknown value_type {cfg.value_type!r}")

    return _index(vocab, df, doc_ids, fwd_terms, fwd_weights, cfg)


def from_vectors(
    vocab: dict[str, int],
    rows: list[tuple[int, list[int], list[float]]],
    cfg: IndexConfig | None = None,
) -> OracleIndex:
    """Oracle index over stored (doc_id, term ids, weights) rows — e.g. an
    engine forward table — instead of text: the same pruning, blocking and
    summaries as :func:`build` on exactly the given f64 weights, so the
    search semantics can be checked with scores compared bitwise."""
    cfg = cfg or IndexConfig()
    rows = sorted(rows)
    doc_ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    fwd_terms = [np.asarray(r[1], dtype=np.int64) for r in rows]
    fwd_weights = [np.asarray(r[2], dtype=np.float64) for r in rows]
    df = np.zeros(len(vocab), dtype=np.int64)
    for t in fwd_terms:
        df[t] += 1
    return _index(vocab, df, doc_ids, fwd_terms, fwd_weights, cfg)


def _index(
    vocab: dict[str, int],
    df: np.ndarray,
    doc_ids: np.ndarray,
    fwd_terms: list[np.ndarray],
    fwd_weights: list[np.ndarray],
    cfg: IndexConfig,
) -> OracleIndex:
    """Pruned, blocked, summarized posting lists over a forward index."""
    entries: dict[int, list[tuple[float, int]]] = {}
    for pos, d in enumerate(doc_ids.tolist()):
        tids, ws = fwd_terms[pos], fwd_weights[pos]
        for i, tid in enumerate(tids.tolist()):
            entries.setdefault(tid, []).append((float(ws[i]), d))

    idx = OracleIndex(vocab, df, doc_ids, fwd_terms, fwd_weights, {}, cfg)
    pos_of = {int(d): i for i, d in enumerate(doc_ids.tolist())}

    # the engine ships member vectors through the posting-builder shuffle as
    # FLOAT (postings.build_postings payload cut) — mirror that rounding for
    # the kmeans-assignment and summary paths (exact scoring stays f64)
    fwd_w32 = [w.astype(np.float32).astype(np.float64) for w in fwd_weights]

    # GlobalThreshold (I2) semantics shared with the engine: keep all entries
    # with weight >= the (n_terms·n_postings)-th largest weight (ties at the
    # cut all kept — see postings.global_threshold_cut), then cap per list.
    cut = float("-inf")
    cap = cfg.n_postings
    if cfg.pruning == "global":
        all_w = np.sort(
            np.asarray([w for lst in entries.values() for w, _ in lst])
        )[::-1]
        budget = len(vocab) * cfg.n_postings
        if all_w.size > budget:
            cut = float(all_w[budget - 1])
        cap = int(cfg.n_postings * cfg.max_fraction)

    for tid, lst in entries.items():
        # pruning order: weight desc, doc_id asc
        if cfg.pruning == "global":
            lst = [e for e in lst if e[0] >= cut]
        lst.sort(key=lambda x: (-x[0], x[1]))
        lst = lst[:cap]
        if not lst:
            continue
        if cfg.blocking == "kmeans":
            dt = [idx.fwd_terms[pos_of[d]] for _, d in lst]
            dw = [fwd_w32[pos_of[d]] for _, d in lst]
            blocks = kmeans_blocks(dt, dw, cfg, tid)
        else:
            blocks = block_of_rank_np(np.arange(len(lst)), cfg)
        p: dict = {"blocks": []}
        for b in np.unique(blocks):
            sel = [lst[i] for i in np.flatnonzero(blocks == b)]
            ids = np.asarray(sorted(d for _, d in sel), dtype=np.int64)
            bmax = codec.f32_floor(max(w for w, _ in sel))
            # component-wise max over member docs' full vectors (f32-rounded
            # payload, then one ulp up — matching _build_one_list exactly)
            comp: dict[int, float] = {}
            for _, d in sel:
                i = pos_of[d]
                for t, w in zip(idx.fwd_terms[i].tolist(), fwd_w32[i].tolist()):
                    if w > comp.get(t, -1.0):
                        comp[t] = w
            st = np.asarray(sorted(comp), dtype=np.int64)
            sv = np.asarray([comp[t] for t in st.tolist()], dtype=np.float64)
            sv = np.nextafter(sv.astype(np.float32), np.float32(np.inf)).astype(
                np.float64
            )
            st, sv = truncate_energy(st, sv, cfg.summary_energy)
            codes, lo, quant = codec.quantize_u8(sv, ceil=cfg.quant_ceil)
            p["blocks"].append(
                {"ids": ids, "bmax": float(bmax), "s_terms": st, "s_codes": codes,
                 "s_min": lo, "s_quant": quant}
            )
        idx.postings[tid] = p
    return idx


def _masked_dot(qt: np.ndarray, qw: np.ndarray, ft: np.ndarray, fv: np.ndarray) -> float:
    """Dot of a query (qt, qw) vs a sparse row (ft, fv) — bitwise identical
    to the engine's flattened-batch computation (search.py): contributions
    over ALL row elements (zeros at misses), summed via codec.segment_sums."""
    if ft.size == 0:
        return 0.0
    ii = np.searchsorted(qt, ft)
    ii_c = np.minimum(ii, max(qt.size - 1, 0))
    m = (qt[ii_c] == ft) if qt.size else np.zeros(ft.size, dtype=bool)
    contrib = np.where(m, (qw[ii_c] if qw.size else 0.0) * np.asarray(fv, dtype=np.float64), 0.0)
    return float(
        codec.segment_sums(contrib, np.array([0]), np.array([contrib.size]))[0]
    )


def _walk(
    idx: OracleIndex,
    queries: list[tuple[str, list[str], list[float]]],
    k: int,
    query_cut: int,
    heap_factor: float,
    two_phase: bool,
):
    """Per resolved query: ``(qid, score_doc, matched, kept)`` — the cut
    terms' blocks as (ub, block) pairs and the blocks that pass the skip
    test ``ub >= heap_factor·θ`` — with the engine's θ rule."""
    pos_of = {int(d): i for i, d in enumerate(idx.doc_ids.tolist())}
    for qid, terms, weights in queries:
        pairs = sorted(
            (idx.vocab[t], float(w)) for t, w in zip(terms, weights) if t in idx.vocab
        )
        if not pairs:
            continue
        qt = np.asarray([p[0] for p in pairs], dtype=np.int64)
        qw = np.asarray([p[1] for p in pairs], dtype=np.float64)
        cut_order = np.argsort(-qw, kind="stable")[:query_cut]
        cut_ts = qt[cut_order]

        def score_doc(d: int, qt=qt, qw=qw) -> float:
            i = pos_of[d]
            return _masked_dot(qt, qw, idx.fwd_terms[i], idx.fwd_weights[i])

        # per matched term: block ubs (engine-identical floats) + lbs
        term_blocks: list[tuple[int, list[float], list]] = []
        theta = None
        for t in cut_ts.tolist():
            p = idx.postings.get(t)
            if p is None:
                continue
            qw_t = float(qw[np.searchsorted(qt, t)])
            ubs = [
                _masked_dot(
                    qt,
                    qw,
                    b["s_terms"],
                    codec.dequantize_u8(b["s_codes"], b["s_min"], b["s_quant"]),
                )
                for b in p["blocks"]
            ]
            term_blocks.append((t, ubs, p["blocks"]))
            lbs = sorted((qw_t * b["bmax"] for b in p["blocks"]), reverse=True)
            if len(lbs) >= k:
                cand = lbs[k - 1]
                theta = cand if theta is None else max(theta, cand)

        if two_phase and term_blocks:
            # phase 1: best-ub block per matched list (tie: lowest block
            # index — matches the engine's (ub desc, salt asc, block asc)
            # order since block ids ascend with salt), exact-score the
            # union, k-th best tightens θ.
            p1_docs: set[int] = set()
            for _, ubs, blocks in term_blocks:
                bi = int(np.argmax(np.asarray(ubs))) if ubs else None
                if bi is not None:
                    p1_docs.update(int(x) for x in blocks[bi]["ids"].tolist())
            p1_scores = sorted((score_doc(d) for d in p1_docs), reverse=True)
            if len(p1_scores) >= k:
                theta2 = p1_scores[k - 1]
                theta = theta2 if theta is None else max(theta, theta2)

        matched = [
            (ub, b) for _, ubs, blocks in term_blocks for ub, b in zip(ubs, blocks)
        ]
        kept = [
            (ub, b) for ub, b in matched
            if theta is None or ub >= heap_factor * theta
        ]
        yield qid, score_doc, matched, kept


def search(
    idx: OracleIndex,
    queries: list[tuple[str, list[str], list[float]]],
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
) -> list[tuple[str, int, int, float]]:
    """Returns [(query_id, rank, doc_id, score)] with the engine's exact
    candidate-selection, float, and tie-break semantics (incl. the optional
    phase-1 θ tightening — search.py two_phase)."""
    out: list[tuple[str, int, int, float]] = []
    for qid, score_doc, _, kept in _walk(
        idx, queries, k, query_cut, heap_factor, two_phase
    ):
        cands = {int(x) for _, b in kept for x in b["ids"].tolist()}
        scored = [(score_doc(d), d) for d in cands]
        scored.sort(key=lambda x: (-x[0], x[1]))
        for r, (s, d) in enumerate(scored[:k], start=1):
            out.append((qid, r, d, s))
    return out


def search_stats(
    idx: OracleIndex,
    queries: list[tuple[str, list[str], list[float]]],
    k: int = 10,
    query_cut: int = 10,
    heap_factor: float = 1.0,
    two_phase: bool = False,
) -> dict[str, int]:
    """search.search_stats' counts by walking the index: blocks of the cut
    terms' lists, blocks kept by the skip test, and distinct docs of the
    kept blocks (summed over queries)."""
    matched_n = scanned = cands = 0
    for _, _, matched, kept in _walk(
        idx, queries, k, query_cut, heap_factor, two_phase
    ):
        matched_n += len(matched)
        scanned += len(kept)
        cands += len({int(x) for _, b in kept for x in b["ids"].tolist()})
    return {
        "blocks_matched": matched_n,
        "blocks_scanned": scanned,
        "blocks_skipped": matched_n - scanned,
        "candidates": cands,
    }


def bruteforce(
    idx: OracleIndex,
    queries: list[tuple[str, list[str], list[float]]],
    k: int = 10,
) -> list[tuple[str, int, int, float]]:
    """Exact full-scan BM25 top-k (Q10 analogue; scores > 0 only)."""
    out = []
    for qid, terms, weights in queries:
        pairs = sorted(
            (idx.vocab[t], float(w)) for t, w in zip(terms, weights) if t in idx.vocab
        )
        if not pairs:
            continue
        qt = np.asarray([p[0] for p in pairs], dtype=np.int64)
        qw = np.asarray([p[1] for p in pairs], dtype=np.float64)
        scored = []
        for i, d in enumerate(idx.doc_ids.tolist()):
            ft, fw = idx.fwd_terms[i], idx.fwd_weights[i]
            if ft.size == 0:
                continue
            ii = np.searchsorted(qt, ft)
            ii_c = np.minimum(ii, qt.size - 1)
            m = qt[ii_c] == ft
            s = float(np.dot(qw[ii_c][m], fw[m]))
            if s > 0:
                scored.append((s, int(d)))
        scored.sort(key=lambda x: (-x[0], x[1]))
        for r, (s, d) in enumerate(scored[:k], start=1):
            out.append((qid, r, d, s))
    return out
