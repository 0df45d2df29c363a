"""κ-NN graph construction + refinement (Q7/Q8/S8 analogues)."""

import pytest
from pyspark.sql import functions as F

from seismic_spark import knn as knn_mod
from seismic_spark.index import SeismicSparkIndex
from seismic_spark.postings import IndexConfig


@pytest.fixture(scope="module")
def small_index(spark):
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{j}" for j in range(i % 5, i % 5 + 4)) + f" shared{i % 2}")
            for i in range(30)
        ],
        "doc_id BIGINT, text STRING",
    )
    return SeismicSparkIndex.build(spark, docs, IndexConfig(n_postings=1000))


def test_build_knn_shape_and_no_self(small_index):
    knn = small_index.build_knn(nknn=4)
    rows = knn.collect()
    assert len(rows) == 30
    for r in rows:
        assert r.doc_id not in r.neighbors  # self dropped (Q8)
        assert 1 <= len(r.neighbors) <= 4
    # docs sharing their template are near each other
    by_id = {r.doc_id: list(r.neighbors) for r in rows}
    assert any((n % 5) == (0 % 5) for n in by_id[0])


def test_knn_save_load_truncation(small_index, tmp_path, spark):
    knn = small_index.build_knn(nknn=4)
    knn_mod.save_knn(knn, str(tmp_path))
    re2 = knn_mod.load_knn(spark, str(tmp_path), nknn=2)
    assert re2.agg(F.max(F.size("neighbors"))).collect()[0][0] <= 2


def test_refinement_monotone(small_index):
    """Refined results are never worse: scores of the final top-k dominate
    the unrefined top-k (refinement only adds candidates)."""
    small_index.build_knn(nknn=4)
    queries = [("q0", ["w1", "w2", "shared0"], [1.0, 1.0, 0.5])]
    base = small_index.batch_search(queries, k=5).collect()
    ref = small_index.batch_search_knn(queries, k=5, n_knn=4).collect()
    base_scores = sorted((r.score for r in base), reverse=True)
    ref_scores = sorted((r.score for r in ref), reverse=True)
    assert len(ref) >= len(base)
    for b, r in zip(base_scores, ref_scores):
        assert r >= b - 1e-12
