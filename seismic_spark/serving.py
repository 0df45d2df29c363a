"""RAM-resident serving replica of a Spark-built index (interactive tier).

The reference engine serves every query from an index held entirely in one
process's memory (inverted_index.rs:38 — the `InvertedIndex` struct IS the
serving state; pylib/mod.rs:59-291 exposes it as an in-process object).  The
distributed engine matches its *throughput* at index-scale batches (327 QPS
at batch 10 000, BENCH/BASELINE.md), but an interactive batch pays a
measured ~4 s Spark floor — two real scan jobs that no plan surgery removes
(the round-4/5 serving experiments: deferred gaps, compact snapshots,
InMemoryRelation caching, forward-side pruning — all measured, all rejected).

This module closes that gap the way the reference itself does: hydrate the
STORED index into driver (or any single process') memory once, then serve
interactive batches with pure numpy — **bit-identical results** to
`batch_search` on the same index, at per-query latencies the Spark scheduler
cannot reach.  The float parity is not best-effort: every upper bound and
every exact score is a `codec.segment_sums` (np.add.reduceat) over the same
f64 contribution arrays the executors build (search.py `_block_ubs` /
`exact_score`), θ is selected by comparisons over the same values the
driver-θ fast path collects, and the skip predicate `ub >= heap_factor·θ`
is the same IEEE f64 comparison — so the survivor set, candidate set, and
every score agree bitwise (pinned by tests/test_serving.py at exact AND
approximate configs, including post-save/load hydration).

Deployment shape at scale (the 100 TB story): one replica per serving host,
hydrated from the shared index tables on storage — the same snapshot the
cluster built; Spark remains the build/refresh tier and the bulk-query tier
(κ-NN graphs, index-scale batches), while interactive traffic goes to
replicas.  A corpus too large for one host is doc-sharded at BUILD time
(build one index per doc shard; top-k over doc-disjoint shards merges
exactly by (score desc, doc_id asc) — the standard search-tier layout), so
the replica's memory bound composes horizontally.  `from_index` enforces an
explicit byte budget against the index's own space accounting (Q12) so a
hydration that would not fit fails loudly instead of paging.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from seismic_spark import codec, kernel

__all__ = ["ServingReplica", "TermPostings"]


@dataclass
class TermPostings:
    """One term's posting blocks, flattened across salts in (salt asc,
    block asc) order — the order of kernel.best_blocks' tie-break."""

    salts: np.ndarray  # int32[nb]
    blocks: np.ndarray  # int32[nb]
    bmax: np.ndarray  # f64[nb]  (stored f32 column, widened exactly)
    s_terms: np.ndarray  # int64[sum s_lens]  summary component ids
    s_vals: np.ndarray  # f64[sum s_lens]    dequantized (f32 math) values
    s_starts: np.ndarray  # int64[nb]
    s_lens: np.ndarray  # int64[nb]
    # member docs as POSITIONS into the replica's sorted doc_ids / forward
    # CSR (asc within block — positions are a monotone bijection of the doc
    # ids, so every order/dedup/tie property of the id formulation is
    # preserved).  Hydration remaps ids→positions once (r6: the query path
    # paid a per-candidate searchsorted over the corpus-sized id array on
    # EVERY score pass — ~0.2 ms/query at 1M docs — now a direct index);
    # int32 also halves this largest replica array.
    m_pos: np.ndarray  # int32[sum m_lens]
    m_starts: np.ndarray  # int64[nb]
    m_lens: np.ndarray  # int64[nb]


def _read_snapshot(idx, table: str, columns: list[str]):
    """Direct multithreaded Arrow read of an UNTRANSFORMED parquet snapshot
    (``idx.storage_paths``, set by load()/CheckpointedBuild) — bypasses the
    single-threaded Spark driver collect (r6, VERDICT #5).  Returns None
    when no driver-readable snapshot exists; the caller falls back to
    ``toArrow()``.  Value-safe by construction: these are the very files the
    DataFrame scans, and the hydration groups rows by sorted (term_id, salt)
    / doc_id keys itself, so file/row order cannot matter."""
    path = (getattr(idx, "storage_paths", None) or {}).get(table)
    if not path:
        return None
    try:
        import pyarrow.dataset as pads

        return pads.dataset(path, format="parquet", partitioning="hive").to_table(
            columns=columns
        )
    except Exception:
        return None


class ServingReplica:
    """In-memory twin of a `SeismicSparkIndex` for interactive serving.

    Construct via :meth:`from_index` (or `SeismicSparkIndex.serving_replica`).
    `batch_search` takes the same `(query_id, tokens, weights)` triples the
    index's `batch_search` takes and returns a pandas DataFrame with the
    same columns `(query_id, rank, doc_id, score)` and bit-identical values.
    """

    def __init__(
        self,
        vocab: dict[str, int],
        postings: dict[int, TermPostings],
        doc_ids: np.ndarray,
        fwd_starts: np.ndarray,
        fwd_lens: np.ndarray,
        fwd_terms: np.ndarray,
        fwd_weights: np.ndarray,
        config,
    ) -> None:
        self.vocab = vocab
        self.postings = postings
        self.doc_ids = doc_ids  # sorted asc int64
        # forward CSR: per doc (start, len) into fwd_terms/fwd_weights,
        # aligned with doc_ids' sorted order; the FLAT arrays stay in
        # storage order (r6 — sorting a million nested rows in Arrow cost
        # more than this indirection, and _score_docs gathers by explicit
        # slices anyway, so only the per-row offsets need the sort)
        self.fwd_starts = fwd_starts
        self.fwd_lens = fwd_lens
        self.fwd_terms = fwd_terms
        self.fwd_weights = fwd_weights
        self.config = config
        # per-query dense weight table (r6, VERDICT #4): _search_resolved
        # scatters the CURRENT query's ~10 weights into it before the UB /
        # rescore gathers and zeroes them after, so every per-element
        # query-weight lookup is ONE fancy-index gather instead of a
        # 4-pass searchsorted/clip/eq/where — the same value (stored
        # weight at hits, 0.0 at misses), so floats are unchanged.  All
        # gathered id spaces (summary terms, forward terms ⊆ corpus
        # components; query ids ⊆ vocab ids) are covered by dim; over
        # kernel.LUT_MAX_DIM the searchsorted gather runs instead.
        dim = int(fwd_terms.max()) + 1 if fwd_terms.size else 0
        if vocab:
            dim = max(dim, max(vocab.values()) + 1)
        self._qw_lut = np.zeros(dim) if kernel.lut_size(dim) else None

    # -------------------------------------------------- pickle support ----
    # A replica is broadcast to executors for the map-only κ-NN path (r6
    # pass 3, knn.build_knn).  Pickling the per-term dict naively copies
    # ~10 small arrays per term (hundreds of thousands of tiny objects);
    # instead the state concatenates each field across terms in sorted-term
    # order (a handful of large arrays — memcpy-speed pickle) and rebuilds
    # the per-term TermPostings as zero-copy SLICES on unpickle.  Every
    # per-term array holds exactly the same values after the round trip
    # (pinned by test_serving_pickle_roundtrip).

    def __getstate__(self) -> dict:
        terms = np.fromiter(self.postings.keys(), dtype=np.int64)
        terms.sort()
        fields: dict[str, list[np.ndarray]] = {
            f: [] for f in (
                "salts", "blocks", "bmax", "s_terms", "s_vals", "s_starts",
                "s_lens", "m_pos", "m_starts", "m_lens",
            )
        }
        nb = np.empty(terms.size, dtype=np.int64)
        ns = np.empty(terms.size, dtype=np.int64)
        nm = np.empty(terms.size, dtype=np.int64)
        for i, t in enumerate(terms):
            tp = self.postings[int(t)]
            nb[i], ns[i], nm[i] = tp.salts.size, tp.s_terms.size, tp.m_pos.size
            for f in fields:
                fields[f].append(getattr(tp, f))
        packed = {
            f: (np.concatenate(v) if v else np.empty(0))
            for f, v in fields.items()
        }
        return {
            "vocab": self.vocab,
            "doc_ids": self.doc_ids,
            "fwd_starts": self.fwd_starts,
            "fwd_lens": self.fwd_lens,
            "fwd_terms": self.fwd_terms,
            "fwd_weights": self.fwd_weights,
            "config": self.config,
            "p_terms": terms,
            "p_nb": nb,
            "p_ns": ns,
            "p_nm": nm,
            "p_fields": packed,
        }

    def __setstate__(self, st: dict) -> None:
        terms, nb, ns, nm = st["p_terms"], st["p_nb"], st["p_ns"], st["p_nm"]
        pf = st["p_fields"]
        b0 = np.cumsum(nb) - nb
        s0 = np.cumsum(ns) - ns
        m0 = np.cumsum(nm) - nm
        postings: dict[int, TermPostings] = {}
        for i, t in enumerate(terms):
            b, s, m = int(b0[i]), int(s0[i]), int(m0[i])
            be, se, me = b + int(nb[i]), s + int(ns[i]), m + int(nm[i])
            postings[int(t)] = TermPostings(
                pf["salts"][b:be], pf["blocks"][b:be], pf["bmax"][b:be],
                pf["s_terms"][s:se], pf["s_vals"][s:se],
                pf["s_starts"][b:be], pf["s_lens"][b:be],
                pf["m_pos"][m:me], pf["m_starts"][b:be], pf["m_lens"][b:be],
            )
        self.__init__(
            st["vocab"], postings, st["doc_ids"], st["fwd_starts"],
            st["fwd_lens"], st["fwd_terms"], st["fwd_weights"], st["config"],
        )

    # ------------------------------------------------------- hydration ----

    @classmethod
    def from_index(cls, idx, max_bytes: int = 4 << 30) -> "ServingReplica":
        """Hydrate from a built or loaded `SeismicSparkIndex`.

        Three bounded collects (vocab, postings, forward) via Arrow; gaps
        are varint-decoded and summaries dequantized ONCE here, so the query
        path touches only ready numpy arrays.  Raises ``MemoryError`` when
        the index's own space accounting (Q12, `space_usage()`) exceeds
        ``max_bytes`` — hydration is an explicit capacity decision, exactly
        like deploying the reference's RAM-resident index to a host.
        """
        usage = idx.space_usage()
        if usage["total"] > max_bytes:
            raise MemoryError(
                f"index reports {usage['total']} bytes (space_usage), over the "
                f"replica budget max_bytes={max_bytes}; shard the corpus at "
                "build time or raise the budget"
            )
        vocab = {
            r["term"]: int(r["term_id"])
            for r in idx.vocab.select("term", "term_id").collect()
        }

        # ---- postings: one Arrow transfer, everything flat ---------------
        # The whole table lands as Arrow columns (values + offsets); gaps
        # are varint-decoded in ONE delta_decode_concat pass over every
        # block of every term, and summaries dequantized in one flat f32
        # pass — identical arithmetic to the executor scan (_block_ubs),
        # so hydration speed never trades against float identity.
        p_cols = [
            "term_id", "salt", "blocks", "doc_gaps", "block_max",
            "summary_terms", "summary_codes", "summary_min", "summary_quant",
        ]
        tbl = _read_snapshot(idx, "postings", p_cols)
        if tbl is None:
            tbl = idx.postings.select(*p_cols).toArrow()
        # r6 regroup strategy: flatten the table ONCE in storage order and
        # build each term's arrays as SLICES of the flats.  (term_id, salt)
        # rows are unique and a term is one row unless blocks_per_row
        # salting split it (lists of thousands of blocks — rare), so the
        # per-term arrays are zero-copy views in the common case; the salted
        # case concatenates its few rows in (salt asc) order.  This replaces
        # both earlier formulations measured on the 1M hydrate: the r5
        # element-permutation passes (arange+repeat+gather over ~10^8 ids,
        # ~65 s) and a whole-table Arrow sort_by (nested-column take,
        # ~25 s).  Every per-term array holds exactly the same values in the
        # same (salt asc, block asc) order as before.
        term_id = tbl.column("term_id").combine_chunks().to_numpy().astype(np.int64)
        salt = tbl.column("salt").combine_chunks().to_numpy().astype(np.int32)

        blocks_g, nb = kernel.list_flat(tbl.column("blocks"), np.int32)
        # stored FloatType column — f32→f64 widening is exact, the same
        # widening the executor scan does
        bmax_g, _ = kernel.list_flat(tbl.column("block_max"), np.float64)

        gaps_child, _ = kernel.list_flat(tbl.column("doc_gaps"))
        m_flat, m_lens = codec.delta_decode_concat(*kernel.binary_flat(gaps_child))
        m_ids_g = m_flat.view(np.int64)  # ids < 2^63 — free reinterpret
        m_lens_g = m_lens.astype(np.int64, copy=False)

        st_outer, _ = kernel.list_flat(tbl.column("summary_terms"))
        s_terms_g, s_lens_g = kernel.list_flat(st_outer, np.int64)
        codes_child, _ = kernel.list_flat(tbl.column("summary_codes"))
        codes_concat, codes_lens = kernel.binary_flat(codes_child)
        if not np.array_equal(codes_lens, s_lens_g):  # one code byte per element
            raise AssertionError("summary codes misaligned with summary terms")
        # identical f32 dequantization to the scan / the oracle
        s_vals_g = kernel.dequantize(
            codes_concat,
            kernel.list_flat(tbl.column("summary_min"), np.float32)[0],
            kernel.list_flat(tbl.column("summary_quant"), np.float32)[0],
            s_lens_g,
        )

        # ---- forward: flat values in storage order + sorted row offsets --
        # hydrated BEFORE the postings regroup so member doc ids can be
        # remapped to forward POSITIONS in one vectorized pass (see
        # TermPostings.m_pos).  Only the per-row (start, len) offsets are
        # permuted into doc-id order; the element arrays are left as
        # flattened (no nested-column sort, no element permutation —
        # _score_docs gathers by slice).
        ftbl = _read_snapshot(idx, "forward", ["doc_id", "terms", "weights"])
        if ftbl is None:
            ftbl = idx.forward.select("doc_id", "terms", "weights").toArrow()
        doc_ids_raw = (
            ftbl.column("doc_id").combine_chunks().to_numpy().astype(np.int64)
        )
        fwd_terms, flens = kernel.list_flat(ftbl.column("terms"), np.int64)
        fwd_weights, _ = kernel.list_flat(ftbl.column("weights"), np.float64)
        forder = np.argsort(doc_ids_raw, kind="stable")
        starts_raw = np.cumsum(flens) - flens
        doc_ids_sorted = doc_ids_raw[forder]

        # ids → positions, once (the query path previously re-derived these
        # positions with a searchsorted over the corpus-sized id array on
        # every score pass); postings member ids always exist in forward,
        # so the mapping is total
        m_pos_g = np.searchsorted(doc_ids_sorted, m_ids_g).astype(np.int32)

        # ---- per-row block/element ranges in storage order ---------------
        nrows = term_id.size
        row_b0 = np.cumsum(nb) - nb  # first block index of each row
        s_cum = np.concatenate(([0], np.cumsum(s_lens_g)))
        m_cum = np.concatenate(([0], np.cumsum(m_lens_g)))
        s_row0 = s_cum[row_b0]  # first summary element of each row
        m_row0 = m_cum[row_b0]
        s_starts_all = s_cum[:-1] - np.repeat(s_row0, nb)  # per-block, row-rel
        m_starts_all = m_cum[:-1] - np.repeat(m_row0, nb)
        row_b1 = row_b0 + nb
        s_row1 = s_cum[row_b1]
        m_row1 = m_cum[row_b1]

        order = np.lexsort((salt, term_id))  # row-level only (nrows entries)
        t_sorted = term_id[order]
        grp = np.flatnonzero(
            np.concatenate(([True], t_sorted[1:] != t_sorted[:-1]))
        )
        grp_bounds = np.concatenate((grp, [nrows]))

        def _row_views(r: int):
            b0, b1 = int(row_b0[r]), int(row_b1[r])
            return (
                np.full(b1 - b0, salt[r], dtype=np.int32),
                blocks_g[b0:b1], bmax_g[b0:b1],
                s_terms_g[s_row0[r]:s_row1[r]], s_vals_g[s_row0[r]:s_row1[r]],
                s_starts_all[b0:b1], s_lens_g[b0:b1],
                m_pos_g[m_row0[r]:m_row1[r]],
                m_starts_all[b0:b1], m_lens_g[b0:b1],
            )

        postings: dict[int, TermPostings] = {}
        for gi in range(grp.size):
            a, b = int(grp_bounds[gi]), int(grp_bounds[gi + 1])
            rows = order[a:b]
            if rows.size == 1:
                parts = _row_views(int(rows[0]))
            else:
                # salted term: concatenate its rows in (salt asc) order;
                # block-relative starts re-offset by the preceding rows'
                # element counts so the concatenated CSR stays consistent
                per_row = [_row_views(int(r)) for r in rows]
                s_off = np.cumsum(
                    [0] + [p[3].size for p in per_row[:-1]]
                )
                m_off = np.cumsum(
                    [0] + [p[7].size for p in per_row[:-1]]
                )
                parts = (
                    np.concatenate([p[0] for p in per_row]),
                    np.concatenate([p[1] for p in per_row]),
                    np.concatenate([p[2] for p in per_row]),
                    np.concatenate([p[3] for p in per_row]),
                    np.concatenate([p[4] for p in per_row]),
                    np.concatenate(
                        [p[5] + o for p, o in zip(per_row, s_off)]
                    ),
                    np.concatenate([p[6] for p in per_row]),
                    np.concatenate([p[7] for p in per_row]),
                    np.concatenate(
                        [p[8] + o for p, o in zip(per_row, m_off)]
                    ),
                    np.concatenate([p[9] for p in per_row]),
                )
            postings[int(t_sorted[a])] = TermPostings(*parts)

        return cls(
            vocab, postings, doc_ids_sorted, starts_raw[forder],
            flens[forder], fwd_terms, fwd_weights, idx.config,
        )

    # ------------------------------------------------------ query path ----

    def _resolve(self, terms: list[str], weights: list[float]):
        """Token→id resolution with the engine's semantics: unknown tokens
        silently dropped (P3), duplicates merged by weight sum over the
        pinned (term asc, weight asc) order of kernel.merge_sorted_terms,
        ids sorted ascending."""
        pairs = [
            (self.vocab[t], float(w))
            for t, w in zip(terms, weights)
            if t in self.vocab
        ]
        if not pairs:
            return None
        return kernel.merge_sorted_terms(
            [p[0] for p in pairs], [p[1] for p in pairs]
        )

    def _score_docs(self, qweights, pos: np.ndarray) -> np.ndarray:
        """Exact dot of the FULL query vector vs each doc's forward row —
        kernel.score_rows, so each doc's float is bitwise the executor's.
        ``pos`` is forward POSITIONS (see TermPostings.m_pos) — a direct
        index, no per-call searchsorted over the corpus id array."""
        return kernel.score_rows(
            self.fwd_starts[pos], self.fwd_lens[pos], self.fwd_terms,
            self.fwd_weights, qweights,
        )

    def _search_resolved(
        self,
        qt: np.ndarray,
        qw: np.ndarray,
        k: int,
        query_cut: int,
        heap_factor: float,
        two_phase: bool,
    ) -> tuple[np.ndarray, np.ndarray] | None:
        """One resolved query (term ids asc, merged weights) → (top-k
        forward POSITIONS, scores) or None when nothing matches;
        `self.doc_ids[pos]` maps positions back to doc ids."""
        # cut_terms: top-query_cut by (weight desc, term_id asc)
        cut_order = np.lexsort((qt, -qw))[:query_cut]
        matched = [
            (float(qw[i]), self.postings[int(qt[i])])
            for i in cut_order
            if int(qt[i]) in self.postings
        ]
        if not matched:
            return None
        lut = self._qw_lut
        if lut is None:
            def qweights(t, _offsets=None):
                return kernel.gather_qw(qt, qw, t)
        else:
            # per-query dense weight table (r6, VERDICT #4): scatter THIS
            # query's weights, gather by id, zero them again on exit — the
            # same value as the searchsorted gather
            def qweights(t, _offsets=None):
                return lut[t]

            lut[qt] = qw
        try:
            return self._search_matched(
                matched, qweights, k, heap_factor, two_phase
            )
        finally:
            if lut is not None:
                lut[qt] = 0.0

    def _search_matched(self, matched, qweights, k, heap_factor, two_phase):
        """Block UBs → θ (phase 0, optional phase 1) → skip → candidate
        rescore → top-k over the cut terms' ``(qw_t, TermPostings)`` list;
        ``qweights`` is this query's per-element weight gather."""
        tps = [tp for _, tp in matched]
        nbs = np.array([tp.bmax.size for tp in tps], dtype=np.int64)
        # per-block summary UBs + block-max lbs — ONE concatenated
        # gather + segment-sums call across every matched term (r6,
        # VERDICT #4: the per-term loop was Python-call-bound at ~10
        # terms/query); segment_sums is a pure function of each segment,
        # so every ub float is bitwise the per-term one.
        if len(tps) == 1:
            st_cat, sv_cat = tps[0].s_terms, tps[0].s_vals
            starts_cat, lens_cat = tps[0].s_starts, tps[0].s_lens
        else:
            st_cat = np.concatenate([tp.s_terms for tp in tps])
            sv_cat = np.concatenate([tp.s_vals for tp in tps])
            lens_cat = np.concatenate([tp.s_lens for tp in tps])
            starts_cat = np.cumsum(lens_cat) - lens_cat
        ub_cat = codec.segment_sums(qweights(st_cat) * sv_cat, starts_cat, lens_cat)
        theta = -np.inf
        if nbs.max() >= k:  # only a list of ≥ k blocks witnesses a θ
            lb_cat = np.concatenate([qw_t * tp.bmax for qw_t, tp in matched])
            theta = kernel.theta0(
                np.zeros(lb_cat.size, dtype=np.int64),
                np.repeat(np.arange(len(tps)), nbs), lb_cat, k, 1,
            )[0]
        b_off = np.cumsum(nbs) - nbs

        if two_phase:
            # phase 1: best-UB block per matched list (first argmax =
            # lowest (salt, block), matching the engine's tie order),
            # exact-score the union, k-th best tightens θ
            p1_parts = []
            for tp, b0, nb in zip(tps, b_off, nbs):
                if nb:
                    bi = int(np.argmax(ub_cat[b0:b0 + nb]))
                    s, n = tp.m_starts[bi], tp.m_lens[bi]
                    p1_parts.append(tp.m_pos[s:s + n])
            if p1_parts:
                p1_docs = np.unique(np.concatenate(p1_parts))
                scores = self._score_docs(qweights, p1_docs)
                if scores.size >= k:
                    kth = np.partition(scores, scores.size - k)[scores.size - k]
                    theta = max(theta, float(kth))

        keep_cat = kernel.keep_blocks(ub_cat, theta, heap_factor)
        cand_parts = []
        for tp, b0, nb in zip(tps, b_off, nbs):
            keep = keep_cat[b0:b0 + nb]
            if keep.all():  # every block survives: all of the list's docs
                cand_parts.append(tp.m_pos)
            elif keep.any():
                flat = kernel.flat_slices(tp.m_starts[keep], tp.m_lens[keep])
                cand_parts.append(tp.m_pos[flat])
        if not cand_parts:
            return None
        # positions are a monotone bijection of the doc ids, so the
        # unique/dedup set and the (score desc, doc asc) tie order are
        # exactly the id formulation's; only the k winners map back
        cands = np.unique(np.concatenate(cand_parts))
        scores = self._score_docs(qweights, cands)
        top = np.lexsort((cands, -scores))[:k]
        return cands[top], scores[top]

    def _search_many(
        self, resolved, k: int, query_cut: int, heap_factor: float, two_phase: bool
    ) -> pd.DataFrame:
        """(query_id, term ids asc, merged weights) triples → the
        (query_id, rank, doc_id, score) frame; queries matching nothing
        contribute no rows."""
        out_qid: list[str] = []
        out_rank: list[np.ndarray] = []
        out_doc: list[np.ndarray] = []
        out_score: list[np.ndarray] = []
        for qid, qt, qw in resolved:
            hit = self._search_resolved(qt, qw, k, query_cut, heap_factor, two_phase)
            if hit is None:
                continue
            pos_top, score_top = hit
            out_qid.extend([qid] * pos_top.size)
            out_rank.append(np.arange(1, pos_top.size + 1, dtype=np.int32))
            out_doc.append(self.doc_ids[pos_top])
            out_score.append(score_top)
        if not out_qid:
            return pd.DataFrame(
                {
                    "query_id": pd.Series([], dtype=str),
                    "rank": pd.Series([], dtype=np.int32),
                    "doc_id": pd.Series([], dtype=np.int64),
                    "score": pd.Series([], dtype=np.float64),
                }
            )
        return pd.DataFrame(
            {
                "query_id": out_qid,
                "rank": np.concatenate(out_rank),
                "doc_id": np.concatenate(out_doc),
                "score": np.concatenate(out_score),
            }
        )

    def batch_search(
        self,
        queries: list[tuple[str, list[str], list[float]]],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """(query_id, rank, doc_id, score) — bit-identical to
        `SeismicSparkIndex.batch_search` on the hydrated index (same θ
        derivation as search._driver_theta_search, same skip predicate,
        same rescore floats, same (score desc, doc_id asc) tie order).

        Caveat shared with the engine: a query repeating the same TOKEN
        merges deterministically here but in Spark-collect order there
        (resolve_queries), so the bitwise guarantee is scoped to
        duplicate-free token lists — the engine's own documented scope.
        """
        if two_phase is None:
            # same default rule as SeismicSparkIndex.batch_search
            two_phase = (
                self.config.summary_energy < 1.0
                or not self.config.quant_ceil
                or heap_factor < 1.0
            )
        # The engine keys resolution on query_id (search.resolve_queries
        # `by_q`), so a batch repeating a qid is ONE merged query there —
        # concatenate repeated-qid tuples before resolving to match.
        merged: dict[str, tuple[list[str], list[float]]] = {}
        for qid, terms, weights in queries:
            acc = merged.setdefault(qid, ([], []))
            acc[0].extend(terms)
            acc[1].extend(weights)
        resolved = (
            (qid, *r)
            for qid, (terms, weights) in merged.items()
            if (r := self._resolve(terms, weights)) is not None
        )
        return self._search_many(resolved, k, query_cut, heap_factor, two_phase)

    def search(
        self,
        query_id: str,
        terms: list[str],
        weights: list[float],
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        return self.batch_search(
            [(query_id, terms, weights)], k, query_cut, heap_factor, two_phase
        )

    def search_text(
        self,
        query_id: str,
        text: str,
        k: int = 10,
        query_cut: int = 10,
        heap_factor: float = 1.0,
        two_phase: bool | None = None,
    ) -> pd.DataFrame:
        """Free-text query, same query-side weighting as the index's
        search_text (token counts; resolution drops unknowns)."""
        toks = [t for t in text.lower().split(" ") if t]
        from collections import Counter

        c = Counter(toks)
        return self.batch_search(
            [(query_id, list(c), [float(v) for v in c.values()])],
            k, query_cut, heap_factor, two_phase,
        )
