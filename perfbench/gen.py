"""Seeded inputs for the benchmark: pages and queries.

The benchmark owns its generator so that no change to the program can change
the workload.  Shapes follow FIXTURES.md section 1: Zipfian bag-of-words text
over a 5k-term vocabulary (``term_{j}``), doc length ~ lognormal(4.5, 0.6),
wrapped in ``<html><body>...</body></html>``, with url / warc_ts / lang
columns.  Everything is a pure function of ``seed``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.07


def _zipf_cdf(vocab_size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, vocab_size + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


def pages(n: int, seed: int, first_id: int = 0) -> pd.DataFrame:
    """``n`` pages: doc_id, url, warc_ts, html, lang (text lives in html)."""
    rng = np.random.default_rng([seed, 1, first_id])
    lens = np.clip(np.exp(rng.normal(4.5, 0.6, n)).astype(np.int64), 5, 2000)
    cdf = _zipf_cdf()
    tok = np.searchsorted(cdf, rng.random(int(lens.sum())), side="left")
    tok = np.minimum(tok, VOCAB_SIZE - 1)
    words = np.array([f"term_{j}" for j in range(VOCAB_SIZE)])[tok]
    ends = np.cumsum(lens)
    html = [
        b"<html><body>" + " ".join(words[end - length: end]).encode() + b"</body></html>"
        for length, end in zip(lens.tolist(), ends.tolist())
    ]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    u_lang = rng.random(n)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "url": [f"https://example{i % 97}.test/p/{i}" for i in ids.tolist()],
            "warc_ts": pd.to_datetime(ids * 137, unit="s", origin="2024-01-01"),
            "html": html,
            "lang": np.where(u_lang < 0.95, "en", np.where(u_lang < 0.975, "de", "fr")),
        }
    )


def page_text(html: bytes) -> str:
    """The text a page carries (what extraction must return)."""
    return html[len(b"<html><body>"): -len(b"</body></html>")].decode()


def queries(
    n: int, seed: int, prefix: str, edge_share: float = 0.02
) -> list[tuple[str, list[str], list[float]]]:
    """``n`` term-weighted queries: Zipfian 3-12 distinct terms, weights in
    [1, 4), with about ``edge_share`` edge cases (empty, all-unknown,
    duplicate-term, head-term-only), in a seeded order."""
    rng = np.random.default_rng([seed, 2, zlib.crc32(prefix.encode())])
    cdf = _zipf_cdf()
    kinds = ("empty", "unknown", "dup", "head")
    out = []
    for i in range(n):
        qid = f"{prefix}{i}"
        if rng.random() < edge_share:
            kind = kinds[int(rng.integers(len(kinds)))]
            if kind == "empty":
                out.append((qid, [], []))
            elif kind == "unknown":
                out.append((qid, ["zzz_unknown", "qqq_unknown"], [1.0, 2.0]))
            elif kind == "head":
                out.append((qid, ["term_0"], [float(1.0 + 3.0 * rng.random())]))
            else:
                t = f"term_{int(np.searchsorted(cdf, rng.random()))}"
                u = f"term_{int(np.searchsorted(cdf, rng.random()))}"
                out.append((qid, [t, u, t], [1.5, 2.0, 0.5]))
            continue
        n_terms = int(rng.integers(3, 13))
        tids: list[int] = []
        while len(tids) < n_terms:
            t = int(min(np.searchsorted(cdf, rng.random()), VOCAB_SIZE - 1))
            if t not in tids:
                tids.append(t)
        ws = (1.0 + 3.0 * rng.random(n_terms)).tolist()
        out.append((qid, [f"term_{t}" for t in tids], ws))
    return out


def has_duplicate_terms(q: tuple[str, list[str], list[float]]) -> bool:
    return len(set(q[1])) != len(q[1])


def merged(q: tuple[str, list[str], list[float]]):
    """The query with repeated tokens merged by weight sum — the program's
    documented resolution of duplicate terms, applied before the oracle."""
    acc: dict[str, float] = {}
    for t, w in zip(q[1], q[2]):
        acc[t] = acc.get(t, 0.0) + w
    return (q[0], list(acc), list(acc.values()))
