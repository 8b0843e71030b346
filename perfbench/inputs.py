"""Seeded inputs for the benchmark, and the ground truth it checks
against. Everything here is numpy and pandas only: the engine under
test sees the files the benchmark writes from them, never the arrays.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 128
# rows per mixture centre: 256 centres over 200,000 rows in the engine's
# own synthetic base; kept at that ratio when the base is smaller, so a
# cluster stays larger than a graph segment or an IVF list
ROWS_PER_CENTRE = 800


def vector_mixture(seed: int, n_base: int, n_queries: int, dim: int = DIM):
    """(base, queries) float32 draws from one clustered mixture: seeded
    centres in [-1, 1]^dim, one per ROWS_PER_CENTRE base rows, with
    uniform ±0.25 noise per dimension (the construction of the engine's
    synthetic large base). Queries are held out: drawn from the same
    mixture, never in the base."""
    rng = np.random.default_rng([seed, 1])
    n_centres = max(8, n_base // ROWS_PER_CENTRE)
    centres = rng.uniform(-1.0, 1.0, (n_centres, dim))
    n = n_base + n_queries
    cid = rng.integers(0, n_centres, n)
    x = (centres[cid] + rng.uniform(-0.25, 0.25, (n, dim))).astype(np.float32)
    return x[:n_base], x[n_base:]


def write_fvecs_shards(path: str, vectors: np.ndarray, rows_per_shard: int) -> None:
    """Write `vectors` as `part-<start12>.fvecs` shards (int32 dim, then
    dim float32 values per row); the reader derives vec_id from the
    shard's start offset."""
    os.makedirs(path, exist_ok=True)
    n, dim = vectors.shape
    for start in range(0, n, rows_per_shard):
        block = vectors[start : start + rows_per_shard]
        rows = np.empty((len(block), dim + 1), dtype=np.float32)
        rows[:, 0] = np.array([dim], dtype=np.int32).view(np.float32)[0]
        rows[:, 1:] = block
        rows.tofile(os.path.join(path, f"part-{start:012d}.fvecs"))


def exact_topk(base: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int = 10):
    """Brute-force float64 top-k by squared L2, ties broken by id.
    Returns (ids[nq, k], dists[nq, k]) with ids drawn from `ids`."""
    b = base.astype(np.float64)
    bb = (b * b).sum(1)
    out_ids = np.empty((len(queries), k), dtype=np.int64)
    out_d = np.empty((len(queries), k))
    for lo in range(0, len(queries), 256):
        q = queries[lo : lo + 256].astype(np.float64)
        d = np.maximum((q * q).sum(1)[:, None] - 2.0 * (q @ b.T) + bb[None, :], 0.0)
        kth = np.take_along_axis(d, np.argpartition(d, k - 1, axis=1)[:, :k], 1).max(1)
        for i in range(len(q)):
            cand = np.flatnonzero(d[i] <= kth[i])
            cand = cand[np.lexsort((ids[cand], d[i, cand]))][:k]
            out_ids[lo + i] = ids[cand]
            out_d[lo + i] = d[i, cand]
    return out_ids, out_d


def recall_at_k(got: dict[int, list[int]], truth_ids: np.ndarray, q_ids, k: int = 10) -> float:
    """Mean |got ∩ truth| / k over the queries `q_ids` (row i of
    truth_ids belongs to q_ids[i])."""
    hits = 0
    for i, q in enumerate(q_ids):
        hits += len(set(got.get(int(q), [])[:k]) & set(truth_ids[i, :k].tolist()))
    return hits / (k * len(q_ids))


_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])


def text_corpus(seed: int, n_docs: int, vocab: int = 3000, dup_share: float = 0.05):
    """A seeded documents table shaped like the engine's fixture
    (doc_id, text, lang, source, n_chars): lowercase pseudo-words drawn
    Zipf-like from a `vocab`-word bank, 10–100 words per document, and
    a `dup_share` of documents that copy an earlier document with one
    word replaced (planted near-duplicates). Returns (pandas frame,
    sorted list of planted (doc_a, doc_b) pairs)."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    bank = sorted(
        {
            "".join(rng.choice(letters, rng.integers(3, 10)))
            for _ in range(vocab * 2)
        }
    )[:vocab]
    bank = np.array(bank)
    p = 1.0 / np.arange(1, len(bank) + 1) ** 1.05
    p /= p.sum()
    texts: list[str] = []
    pairs: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i >= 100 and rng.random() < dup_share:
            src = int(rng.integers(20, i))
            words = texts[src].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(bank, p=p))
            pairs.append((src, i))
        else:
            words = rng.choice(bank, int(rng.integers(10, 101)), p=p).tolist()
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": np.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return docs, sorted(pairs)
