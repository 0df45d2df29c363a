"""The in-plan tail (block-UB scan → optional phase-1 θ2 → fused θ/skip/
decode operator → exact rescore → top-k) and ``search_stats`` pinned
against the numpy oracle, floats compared with ``==``.

The driver fast path is forced off (``driver_theta=False``), so every case
runs the distributed formulation: dict and DataFrame queries, both
``two_phase`` settings, ``heap_factor`` 1.0 and 0.8 on a pruned index with
estimate summaries and lists of more than k blocks (θ0 and phase 1 both
skip), plus k past every candidate set.  The oracle index is built from
the engine's stored forward weights (``oracle.from_vectors``), so BM25
arithmetic — checked elsewhere at 6 dp — cannot blur a bitwise compare.
"""

import pytest
from pyspark.sql import functions as F

from seismic_spark import oracle
from seismic_spark import search as srch
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig
from seismic_spark.sources.pages import synth_pages, synth_queries

CFG = IndexConfig(
    n_postings=60, summary_energy=0.6, blocking="fixed", block_size=4
)
QUERY_CUT = 5


@pytest.fixture(scope="module")
def built(spark):
    pages = synth_pages(spark, 300, vocab_size=600, seed=42)
    docs = pages.select("url", "text").withColumn(
        "doc_id", F.abs(F.xxhash64("url"))
    )
    idx = SeismicSparkIndex.build(spark, docs, CFG)
    oidx = oracle.from_vectors(
        {r.term: r.term_id for r in idx.vocab.collect()},
        [(r.doc_id, r.terms, r.weights) for r in idx.forward.collect()],
        CFG,
    )
    queries = synth_queries(600, n_queries=10, seed=3)
    qvecs = srch.resolve_queries(spark, queries, idx.vocab)
    return idx, oidx, queries, qvecs


def _rows(df):
    return sorted((r.query_id, r.rank, r.doc_id, r.score) for r in df.collect())


@pytest.mark.parametrize("k", [10, 400])
@pytest.mark.parametrize("hf", [1.0, 0.8])
@pytest.mark.parametrize("two_phase", [False, True])
@pytest.mark.parametrize("as_df", [False, True], ids=["dict", "dataframe"])
def test_inplan_batch_search_matches_oracle(spark, built, as_df, two_phase, hf, k):
    idx, oidx, queries, qvecs = built
    q = srch.queries_df_from_qvecs(spark, qvecs) if as_df else qvecs
    got = srch.batch_search(
        spark, idx.postings, idx.forward, q, k=k, query_cut=QUERY_CUT,
        heap_factor=hf, two_phase=two_phase, driver_theta=False,
    )
    exp = oracle.search(
        oidx, queries, k=k, query_cut=QUERY_CUT, heap_factor=hf,
        two_phase=two_phase,
    )
    assert _rows(got) == sorted(exp)
    assert exp


@pytest.mark.parametrize("hf", [1.0, 0.8])
@pytest.mark.parametrize("two_phase", [False, True])
def test_search_stats_matches_oracle_walk(spark, built, two_phase, hf):
    idx, oidx, queries, qvecs = built
    got = srch.search_stats(
        spark, idx.postings, idx.forward, qvecs, k=10, query_cut=QUERY_CUT,
        heap_factor=hf, two_phase=two_phase,
    )
    exp = oracle.search_stats(
        oidx, queries, k=10, query_cut=QUERY_CUT, heap_factor=hf,
        two_phase=two_phase,
    )
    assert {c: got[c] for c in exp} == exp
    assert 0 < exp["blocks_scanned"] < exp["blocks_matched"]


def test_search_stats_empty_batch(spark, built):
    idx = built[0]
    got = srch.search_stats(
        spark, idx.postings, idx.forward, {"e": ([], [])}, two_phase=True
    )
    assert got["blocks_matched"] == 0 and got["candidates"] == 0
