"""κ-NN graph over the indexed corpus: construction (Q8) + refinement (Q7).

Reference: ``Knn::new`` self-queries the index for every doc (k=nknn+1,
query_cut=10, heap_factor=0.7, drop self — inverted_index.rs:448-500) and
``Knn::refine`` re-scores each result's stored neighbors (551-593).

Spark shape: construction is ONE batch self-search job — the forward index
itself becomes the queries DataFrame (query vectors travel as Arrow array
columns through the plan).  This is the per-doc rayon loop of
inverted_index.rs:448-500 re-expressed as a map:

- replica map (default): an index whose true byte size (``space_usage``)
  fits ``_KNN_BCAST_MAX_BYTES`` is hydrated once into a
  :class:`~seismic_spark.serving.ServingReplica`, collected to the driver
  and broadcast; one narrow map over the forward scan answers every query
  with the kernel (seismic_spark/kernel.py).
- in-plan fallback: above the budget (or with ``two_phase``) nothing is
  collected — :func:`search.batch_search` runs its DataFrame formulation
  (postings ⋈ queries, block-UB scan, fused θ tail, rescore join).

Both give the same graph (tests/test_r6_optimizations.py).  The graph
persists as a ``knn(doc_id BIGINT, neighbors ARRAY<BIGINT>)`` table (S8);
loading may truncate neighbor lists (`nknn` param) like
``new_from_serialized`` (inverted_index.rs:502-540).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seismic_spark import kernel
from seismic_spark import search as srch

# Replica-map budget for graph construction: the replica is ≈ the index's
# own bytes (space_usage — the same true count ServingReplica.from_index
# checks), held on the driver and once per executor.  At the 1 GB default
# that is ~32 GB over 32 local workers, within a 128 GB box.  Above it the
# un-collected in-plan path runs, so the gate is scale-safe.
_KNN_BCAST_MAX_BYTES = int(
    os.environ.get("SEISMIC_KNN_BCAST_MAX_BYTES", str(1 << 30))
)


def build_knn(index, nknn: int = 10, query_cut: int = 10,
              heap_factor: float = 0.7, two_phase: bool = False) -> DataFrame:
    """(doc_id, neighbors ARRAY<BIGINT>) — top-nknn neighbors per doc.

    Reference parity: self-queries with the doc's own vector, drops the doc
    itself, keeps nknn (inverted_index.rs:448-500; defaults 468-472).
    No per-batch driver loop; the replica map or the in-plan fallback (see
    the module docstring) answers every query in one job.
    """
    queries_df = index.forward.select(
        F.col("doc_id").cast("string").alias("query_id"),
        F.col("terms").alias("q_terms"),
        F.col("weights").alias("q_weights"),
    ).filter(F.size("q_terms") > 0)
    # the previous graph's replica broadcast is released here (a lazy graph
    # recomputed later re-sends it from the driver)
    index._release_knn_broadcast()
    if not two_phase and index.space_usage()["total"] <= _KNN_BCAST_MAX_BYTES:
        res = _replica_self_search(
            index, queries_df, nknn + 1, query_cut, heap_factor
        )
    else:
        res = srch.batch_search(
            index.spark, index.postings, index.forward, queries_df,
            k=nknn + 1, query_cut=query_cut, heap_factor=heap_factor,
            two_phase=two_phase, broadcast_queries=False,
        )
    # group on the STRING query_id so the aggregation reuses the top-k
    # window's hash(query_id) partitioning (no extra Exchange — guide §2.4);
    # the bigint cast is injective here (ids were produced by a bigint→string
    # cast) and moves after the agg, so groups and results are unchanged.
    return (
        res.filter(F.col("doc_id") != F.col("query_id").cast("bigint"))
        .groupBy("query_id")
        .agg(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "doc_id"))),
                    lambda s: s["doc_id"],
                ),
                1,
                nknn,
            ).alias("neighbors")
        )
        .select(F.col("query_id").cast("bigint").alias("doc_id"), "neighbors")
    )


def _replica_self_search(
    index, queries_df: DataFrame, k: int, query_cut: int, heap_factor: float
) -> DataFrame:
    """Score every query row against a broadcast :class:`ServingReplica` in
    one map stage — (query_id, rank, doc_id, score), bitwise-identical to
    `search.batch_search` on the same index/params (the replica IS the
    pinned bit-identical twin of batch_search, tests/test_serving.py).

    Per-row duplicate/merge semantics match the engine's batch-side
    repair: forward rows are duplicate-free and term-sorted by
    construction, and `merge_sorted_terms` is the identity on such rows.

    Cost model (why this wins): the replica's postings+forward arrays are
    ≈ the index's own bytes, shipped ONCE per executor via broadcast (the
    `__getstate__` flat-state pickle), while the in-plan path ships every
    (query, term) pair's gap blob through an exchange and re-decodes it
    per task.  One narrow map over the forward scan is the entire search.
    The broadcast handle is kept on the index (``_knn_bcast``) and released
    by the next build_knn or ``unpersist_serving``.
    """
    from seismic_spark.serving import ServingReplica

    rep = ServingReplica.from_index(index, max_bytes=_KNN_BCAST_MAX_BYTES)
    bc = index._knn_bcast = index.spark.sparkContext.broadcast(rep)

    def gen(it):
        r = bc.value
        for pdf in it:
            cols = (pdf["query_id"], pdf["q_terms"], pdf["q_weights"])
            rows = (
                (qid, *kernel.merge_sorted_terms(t, w))
                for qid, t, w in zip(*cols)
                if len(t)
            )
            out = r._search_many(rows, k, query_cut, heap_factor, False)
            if len(out):
                yield out

    return queries_df.mapInPandas(
        gen, "query_id STRING, rank INT, doc_id BIGINT, score DOUBLE"
    )


def refine(results: DataFrame, knn: DataFrame, forward: DataFrame,
           qvecs: dict, k: int = 10, n_knn: int = 5) -> DataFrame:
    """Q7: expand current top-k with their stored neighbors, exact-rescore,
    re-rank.  One join to the knn table + one scoring pass; candidates are
    deduped ((query, doc) distinct — the `visited` set analogue)."""
    neigh_cands = (
        results.join(knn, "doc_id")
        .select("query_id", F.explode(F.slice("neighbors", 1, n_knn)).alias("doc_id"))
    )
    all_cands = results.select("query_id", "doc_id").unionByName(neigh_cands).distinct()
    scored = srch.exact_score(all_cands, forward, qvecs)
    return srch.topk(scored, k)


def save_knn(knn: DataFrame, path: str) -> None:
    """S8 sink."""
    knn.write.mode("overwrite").parquet(os.path.join(path, "knn"))


def load_knn(spark, path: str, nknn: int | None = None) -> DataFrame:
    """S8 load with optional neighbor-count truncation
    (inverted_index.rs:502-540)."""
    knn = spark.read.parquet(os.path.join(path, "knn"))
    if nknn is not None:
        knn = knn.select("doc_id", F.slice("neighbors", 1, nknn).alias("neighbors"))
    return knn
