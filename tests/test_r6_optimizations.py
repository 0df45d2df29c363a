"""Round-6 optimization closures — each restructure pinned against the
formulation it replaced (results must be identical, not just close):

- the κ-NN replica map vs the in-plan fallback, and the replica broadcast's
  release;
- narrow per-row cut_terms vs the explode → groupBy → window formulation;
- topk_per_term's adaptive first-level skip (output-invariant by
  construction — asserted on data where the condition flips it off);
- single-aggregate minhash vs the stacked explode formulation.
"""

import os

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seismic_spark import kernel
from seismic_spark import knn as knn_mod
from seismic_spark import search as srch
from seismic_spark.index import IndexConfig, SeismicSparkIndex
from seismic_spark.sources.pages import synth_pages


@pytest.fixture(scope="module")
def idx(spark):
    pages = synth_pages(spark, 300, vocab_size=500, seed=7)
    corpus = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    return SeismicSparkIndex.build(
        spark, corpus,
        IndexConfig(n_postings=50, summary_energy=0.8, blocking="geometric"),
    )


def test_cut_terms_matches_windowed_formulation(spark, idx):
    """Narrow mapInArrow cut == explode→groupBy→window on duplicate-free
    queries (exact floats), and pinned-merge semantics on duplicates."""
    qdf = idx.forward.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("terms").alias("q_terms"),
        F.col("weights").alias("q_weights"),
    ).filter(F.size("q_terms") > 2).limit(40)
    qc = 4
    new = srch.cut_terms(qdf, qc)

    ex = (
        qdf.select(
            "query_id", F.explode(F.arrays_zip("q_terms", "q_weights")).alias("z")
        )
        .select(
            "query_id",
            F.col("z.q_terms").alias("term_id"),
            F.col("z.q_weights").alias("qw"),
        )
        .groupBy("query_id", "term_id")
        .agg(F.sum("qw").alias("qw"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qw").desc(), F.col("term_id").asc()
    )
    old = (
        ex.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= qc)
        .drop("_r")
    )
    key = lambda df: sorted(
        (r.query_id, r.term_id, r.qw) for r in df.collect()
    )
    assert key(new) == key(old)

    # duplicate term in one row: merged through the pinned order
    dup = spark.createDataFrame(
        [("qd", [7, 7, 7, 9], [0.3, 0.1, 0.2, 1.0])], srch.QUERIES_SCHEMA
    )
    got = {
        (r.term_id): r.qw for r in srch.cut_terms(dup, 5).collect()
    }
    t, wgt = srch.merge_sorted_terms(
        np.array([7, 7, 7, 9]), np.array([0.3, 0.1, 0.2, 1.0])
    )
    assert got[7] == wgt[0] and got[9] == wgt[1]


def test_topk_per_term_level1_skip_is_output_invariant(spark, idx):
    """max_group high enough to disable level 1 → identical pruning output."""
    from seismic_spark import postings as pst

    dtw = idx.forward.select(
        "doc_id", F.explode(F.arrays_zip("terms", "weights")).alias("z")
    ).select(
        "doc_id",
        F.col("z.terms").alias("term_id"),
        F.col("z.weights").alias("weight"),
    )
    both = pst.topk_per_term(dtw, 10, salt_buckets=8)  # level 1 active
    skip = pst.topk_per_term(dtw, 10, salt_buckets=8, max_group=1)  # skipped
    key = lambda df: sorted(
        (r.doc_id, r.term_id, r.weight, r.rank) for r in df.collect()
    )
    assert key(both) == key(skip)


def test_minhash_matches_stacked_formulation(spark):
    from seismic_spark.functions.hashing import affine_hash, hash_params, md5_int
    from seismic_spark.operators.dedup import minhash_signatures, shingles

    pages = synth_pages(spark, 60, vocab_size=300, seed=11)
    docs = pages.select(
        F.abs(F.xxhash64("url")).alias("doc_id"), "text"
    )
    new = minhash_signatures(docs, n_hashes=8)

    sh = shingles(docs, 3).withColumn("_h", md5_int(F.col("shingle")))
    cols = [
        F.struct(F.lit(i).alias("sig_idx"), affine_hash(F.col("_h"), a, b).alias("hv"))
        for i, (a, b) in enumerate(hash_params(8, 42))
    ]
    stacked = sh.select("doc_id", F.explode(F.array(*cols)).alias("s")).select(
        "doc_id", F.col("s.sig_idx").alias("sig_idx"), F.col("s.hv").alias("hv")
    )
    old = stacked.groupBy("doc_id", "sig_idx").agg(F.min("hv").alias("minhash"))
    key = lambda df: sorted(
        (r.doc_id, r.sig_idx, r.minhash) for r in df.collect()
    )
    assert key(new) == key(old)


def test_score_pairs_csr_lut_matches_searchsorted(monkeypatch):
    """The dense-LUT query-weight gather inside kernel.score_pairs == the
    searchsorted gather_qw formulation — exact floats, at 1 and 4 threads,
    including empty doc rows, queries absent from q_key, duplicate query
    terms (pre-repair), pairs NOT grouped into per-query runs (shuffled qi,
    which takes the searchsorted gather), and the LUT forced off by a dim
    cap of 0."""
    rng = np.random.default_rng(11)
    ndocs, nterms, nq = 300, 2500, 40
    f_lens = rng.integers(0, 40, ndocs).astype(np.int64)
    f_lens[5] = 0  # empty forward row
    f_starts = np.cumsum(f_lens) - f_lens
    total = int(f_lens.sum())
    f_t = np.empty(total, dtype=np.int64)
    f_w = rng.random(total)
    for i in range(ndocs):
        s, l = int(f_starts[i]), int(f_lens[i])
        f_t[s:s + l] = np.sort(rng.choice(nterms, l, replace=False))
    keys, ws = [], []
    for q in range(nq):
        t = rng.integers(0, nterms, 9)  # duplicates possible pre-repair
        keys.append(q * (1 << 32) + t)
        ws.append(rng.random(9) * 2)
    qkey, qw = kernel.repair_qkey(
        np.concatenate(keys).astype(np.int64), np.concatenate(ws)
    )
    qi = np.repeat(np.arange(nq + 3), 23)[: nq * 23 + 10]  # some absent qs
    di = rng.integers(0, ndocs, qi.size)
    shuffled = rng.permutation(qi.size)

    def score(qi_, di_, threads):
        return kernel.score_pairs(
            qi_, di_, f_starts, f_lens, f_t, f_w, qkey, qw, threads=threads
        )

    lut1, lut4 = score(qi, di, 1), score(qi, di, 4)
    shuf = score(qi[shuffled], di[shuffled], 1)
    monkeypatch.setattr(kernel, "LUT_MAX_DIM", 0)
    base = score(qi, di, 1)
    assert np.array_equal(base, lut1)
    assert np.array_equal(base, lut4)
    assert np.array_equal(base[shuffled], shuf)
    assert np.array_equal(base[shuffled], score(qi[shuffled], di[shuffled], 1))
    assert base.size == qi.size and np.isfinite(base).all()


def _graph(df):
    return sorted((r.doc_id, tuple(r.neighbors)) for r in df.collect())


def test_build_knn_replica_matches_join(spark, idx, monkeypatch):
    """The map-only replica self-search (default under the budget) == the
    in-plan join path (budget forced to 0) — identical graphs on real
    data."""
    kw = dict(nknn=4, query_cut=6, heap_factor=0.7)
    g_rep = _graph(knn_mod.build_knn(idx, **kw))
    monkeypatch.setattr(knn_mod, "_KNN_BCAST_MAX_BYTES", 0)
    g_join = _graph(knn_mod.build_knn(idx, **kw))
    assert g_rep == g_join
    assert len(g_rep) > 0


def test_build_knn_budget_falls_back_to_join(spark, idx, monkeypatch):
    """The κ-NN gate compares the index's true byte count (space_usage) to
    the budget: at exactly the index size the replica map runs; one byte
    below it build_knn falls back to the in-plan join path and returns the
    same graph instead of raising."""
    total = idx.space_usage()["total"]
    kw = dict(nknn=4, query_cut=6, heap_factor=0.7)
    calls = []
    real = knn_mod._replica_self_search
    monkeypatch.setattr(
        knn_mod, "_replica_self_search",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    monkeypatch.setattr(knn_mod, "_KNN_BCAST_MAX_BYTES", total)
    g_rep = _graph(knn_mod.build_knn(idx, **kw))
    assert calls == [1]
    monkeypatch.setattr(knn_mod, "_KNN_BCAST_MAX_BYTES", total - 1)
    g_join = _graph(knn_mod.build_knn(idx, **kw))
    assert calls == [1]  # replica not used above the budget
    assert g_join == g_rep and g_rep


def test_build_knn_releases_previous_broadcast(spark, idx, monkeypatch):
    """Each build_knn releases the previous graph's replica broadcast, so
    two calls leave exactly one live handle; unpersist_serving releases
    that one too."""
    from pyspark import Broadcast

    released = []
    real_unpersist = Broadcast.unpersist

    def unpersist(self, blocking=False):
        released.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", unpersist)
    idx._release_knn_broadcast()
    kw = dict(nknn=4, query_cut=6, heap_factor=0.7)
    knn_mod.build_knn(idx, **kw).count()
    first = idx._knn_bcast
    knn_mod.build_knn(idx, **kw).count()
    second = idx._knn_bcast
    assert first is not None and second is not None and first is not second
    assert released == [first]  # exactly one live handle: the second
    idx.unpersist_serving()
    assert released == [first, second] and idx._knn_bcast is None


def test_serving_replica_pickle_roundtrip(spark, idx):
    """Flat-state pickling of ServingReplica (used for the knn broadcast)
    preserves every per-term array exactly and the query path bitwise."""
    import pickle

    rep = idx.serving_replica()
    rep2 = pickle.loads(pickle.dumps(rep))
    assert set(rep.postings) == set(rep2.postings)
    for t, tp in rep.postings.items():
        tp2 = rep2.postings[t]
        for f in ("salts", "blocks", "bmax", "s_terms", "s_vals", "s_starts",
                  "s_lens", "m_pos", "m_starts", "m_lens"):
            assert np.array_equal(getattr(tp, f), getattr(tp2, f)), (t, f)
    assert np.array_equal(rep.doc_ids, rep2.doc_ids)
    assert np.array_equal(rep.fwd_terms, rep2.fwd_terms)
    assert np.array_equal(rep.fwd_weights, rep2.fwd_weights)
    qs = [("a", ["w1", "w2"], [1.0, 2.0])]
    terms = list(rep.vocab)[:4]
    qs = [("a", terms, [1.0 + i for i in range(len(terms))])]
    r1 = rep.batch_search(qs, k=5, query_cut=4, heap_factor=0.8)
    r2 = rep2.batch_search(qs, k=5, query_cut=4, heap_factor=0.8)
    assert r1.equals(r2)


def test_resolve_queries_cached_matches_join(spark, idx):
    """Driver-side vocab-map resolution (per-instance cache) == the join
    formulation — exact floats, including duplicate tokens, unknown tokens,
    repeated query ids, and the overflow fallback."""
    terms = [r["term"] for r in idx.vocab.select("term").limit(6).collect()]
    qs = [
        ("q1", [terms[0], terms[1], terms[0]], [1.5, 2.0, 0.25]),  # dup token
        ("q2", ["zz-not-a-term", terms[2]], [9.9, 1.0]),           # unknown
        ("q3", ["zz-not-a-term"], [1.0]),                          # all-unknown
        ("q1", [terms[3]], [0.5]),                                 # repeated qid
    ]
    cache: dict = {}
    with_cache = srch.resolve_queries(spark, qs, idx.vocab, cache=cache)
    assert "vocab_map" in cache
    join_path = srch.resolve_queries(spark, qs, idx.vocab)
    assert set(with_cache) == set(join_path)
    for q in with_cache:
        assert np.array_equal(with_cache[q][0], join_path[q][0])
        assert np.array_equal(with_cache[q][1], join_path[q][1])
    # overflow gate: cap 0 forces the join path and remembers the overflow
    old = os.environ.get("SEISMIC_VOCAB_MAP_MAX_TERMS")
    try:
        cap0 = {}
        orig = srch._VOCAB_MAP_MAX_TERMS
        srch._VOCAB_MAP_MAX_TERMS = 1
        over = srch.resolve_queries(spark, qs, idx.vocab, cache=cap0)
        assert cap0.get("vocab_map_overflow") and "vocab_map" not in cap0
        for q in over:
            assert np.array_equal(over[q][0], join_path[q][0])
            assert np.array_equal(over[q][1], join_path[q][1])
    finally:
        srch._VOCAB_MAP_MAX_TERMS = orig
        if old is not None:
            os.environ["SEISMIC_VOCAB_MAP_MAX_TERMS"] = old
