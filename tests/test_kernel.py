"""Properties of the numpy search kernel (seismic_spark/kernel.py) against
naive per-query references — the primitives every in-process path shares."""

import numpy as np
import pytest

from seismic_spark import kernel


def _naive_theta0(q_of, term, lb, k, nq):
    """Per (query, term): sort that list's lbs descending, take the k-th
    when the list has ≥ k blocks; θ = max over the query's lists."""
    theta = [-np.inf] * nq
    for q in range(nq):
        for t in set(term[q_of == q].tolist()):
            vals = sorted(lb[(q_of == q) & (term == t)].tolist(), reverse=True)
            if len(vals) >= k:
                theta[q] = max(theta[q], vals[k - 1])
    return np.asarray(theta, dtype=np.float64)


@pytest.mark.parametrize("seed", range(12))
def test_theta0_matches_naive_reference(seed):
    """Random seeded block tables with heavy lb ties (values on a coarse
    grid), k from 1 up to past every list's block count, and queries whose
    terms all have fewer than k blocks (θ = -inf, nothing skipped)."""
    rng = np.random.default_rng(seed)
    nq = int(rng.integers(1, 8))
    n = int(rng.integers(1, 300))
    q_of = rng.integers(0, nq, n)
    term = rng.integers(0, 6, n)
    lb = rng.integers(0, 5, n) / 4.0  # coarse grid → many ties
    # one extra query whose every list holds a single block
    q_small = np.full(3, nq)
    q_of = np.concatenate((q_of, q_small))
    term = np.concatenate((term, np.arange(3)))
    lb = np.concatenate((lb, [0.5, 0.75, 1.0]))
    perm = rng.permutation(q_of.size)  # input order must not matter
    q_of, term, lb = q_of[perm], term[perm], lb[perm]
    longest = max(np.unique(np.stack([q_of, term]), axis=1, return_counts=True)[1])
    for k in (1, 2, 3, int(longest), int(longest) + 1, int(longest) + 5):
        got = kernel.theta0(q_of, term, lb, k, nq + 1)
        want = _naive_theta0(q_of, term, lb, k, nq + 1)
        assert np.array_equal(got, want), (seed, k)
        if k > 1:
            assert got[nq] == -np.inf  # all lists shorter than k
        if k > longest:
            assert np.all(got == -np.inf)


def test_theta0_empty_and_keep_blocks():
    assert np.array_equal(
        kernel.theta0(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0), 3, 2),
        [-np.inf, -np.inf],
    )
    ub = np.array([0.5, 1.0, 2.0, 0.1])
    theta = np.array([1.0, 1.0, -np.inf, -np.inf])
    # ub >= hf·θ where θ is known; θ = -inf keeps the block
    assert kernel.keep_blocks(ub, theta, 0.9).tolist() == [False, True, True, True]
    assert kernel.keep_blocks(ub, -np.inf, 0.9).all()
    assert kernel.keep_blocks(ub, 1.0, 1.0).tolist() == [False, True, True, False]


def test_decode_dedup_matches_set_reference():
    """Cross-list dedup == a per-query set of decoded ids, sorted."""
    from seismic_spark import codec

    rng = np.random.default_rng(5)
    q_of, blobs, want = [], [], set()
    for _ in range(40):
        q = int(rng.integers(0, 4))
        ids = np.unique(rng.integers(0, 60, int(rng.integers(1, 9))))
        q_of.append(q)
        blobs.append(codec.delta_encode(ids.astype(np.uint64)))
        want |= {(q, int(d)) for d in ids}
    qs, ds = kernel.decode_dedup(np.asarray(q_of, dtype=np.int64), blobs)
    assert list(zip(qs.tolist(), ds.tolist())) == sorted(want)


@pytest.mark.parametrize("seed", range(6))
def test_best_blocks_and_keep_mask(seed):
    """best_blocks == a per-list min over (-ub, salt, block) in any input
    order (ub ties on a coarse grid); keep_mask == keep_blocks at
    max(theta0, theta2), with NaN and -inf theta2 meaning "no phase-1 θ"."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 200))
    q_of = rng.integers(0, 4, n)
    term = rng.integers(0, 5, n)
    ub = rng.integers(0, 4, n) / 2.0
    lb = ub / 2.0
    salt = rng.integers(0, 3, n)
    block = rng.permutation(n)  # unique within a list, as stored
    got = kernel.best_blocks(q_of, term, ub, salt, block)
    want = {}
    for i in range(n):
        key, rank = (q_of[i], term[i]), (-ub[i], salt[i], block[i])
        if key not in want or rank < want[key][0]:
            want[key] = (rank, i)
    assert sorted(got.tolist()) == sorted(i for _, i in want.values())
    assert [(q_of[i], term[i]) for i in got] == sorted(want)

    theta2 = np.array([np.nan, -np.inf, 0.75, 5.0])
    for k, hf in ((1, 1.0), (2, 0.8), (50, 1.0)):
        theta = np.fmax(kernel.theta0(q_of, term, lb, k, 4), theta2)
        assert np.array_equal(
            kernel.keep_mask(q_of, term, lb, ub, k, 4, hf, theta2),
            kernel.keep_blocks(ub, theta[q_of], hf),
        )
        assert np.array_equal(
            kernel.keep_mask(q_of, term, lb, ub, k, 4, hf),
            kernel.keep_blocks(ub, kernel.theta0(q_of, term, lb, k, 4)[q_of], hf),
        )
