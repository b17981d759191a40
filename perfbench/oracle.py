"""Exact reference results for the document-dedup workload.

The contract oracles for ``dedup_minhash_lsh`` and ``dedup_simhash``
(``__spark_entry__.oracle_sql()``) compare all n² document pairs with
list operations, which DuckDB cannot finish at this workload's size in
a run's time.  ``jaccard_pairs`` computes the same predicate — char-k
shingle sets as ``functions/text.char_shingles`` builds them, Jaccard
>= threshold — over all pairs too, but counts every pair's shared
shingles in one dense 0/1 matrix product (exact: the counts are small
integers), then re-checks each qualifying pair in float64 the way the
engine divides.  ``tests/test_oracle.py`` checks it against the DuckDB
oracle text on a small corpus.

``winnow_pairs`` replays the ``dedup_winnow`` oracle (k-gram
polynomial hashes, window minima, hot-fingerprint cap, shared count) in
exact integer arithmetic; DuckDB's per-character list lambdas take tens
of seconds at this size.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from itertools import combinations

import numpy as np


def shingles(text: str, k: int) -> frozenset[str]:
    s = (text or "").lower()
    return frozenset(s[i:i + k] for i in range(max(len(s) - k + 1, 1)))


def jaccard_pairs(docs: dict[int, str], k: int, threshold: float) -> dict:
    """{(a_id, b_id): jaccard} for a_id < b_id and jaccard >= threshold."""
    ids = sorted(docs)
    sets = [shingles(docs[d], k) for d in ids]
    vocab: dict[str, int] = {}
    for s in sets:
        for tok in s:
            vocab.setdefault(tok, len(vocab))
    x = np.zeros((len(ids), len(vocab)), dtype=np.float32)
    for row, s in enumerate(sets):
        x[row, [vocab[t] for t in s]] = 1.0
    inter = x @ x.T
    size = x.sum(axis=1)
    # J >= t  <=>  inter * (1 + t) >= t * (|a| + |b|); loose by 0.5 so
    # float32 rounding never drops a pair, then exact per pair below
    hit = inter * (1 + threshold) >= threshold * (size[:, None] + size[None, :]) - 0.5
    out = {}
    for a, b in zip(*np.nonzero(np.triu(hit, 1))):
        n = len(sets[a] & sets[b])
        j = n / max(len(sets[a]) + len(sets[b]) - n, 1)
        if j >= threshold:
            out[(ids[a], ids[b])] = j
    return out


def winnow_pairs(docs: dict[int, str], k: int = 8, w: int = 4,
                 min_shared: int = 20, max_bucket: int = 64) -> dict:
    """{(a_id, b_id): n_shared} as ``oracle_sql()["dedup_winnow"]``."""
    top = 31 ** (k - 1)
    fp_docs: dict[int, list[int]] = defaultdict(list)
    for d, text in docs.items():
        t = (text or "").lower()
        if len(t) < k:
            continue
        h = sum(ord(t[j]) * 31 ** (k - 1 - j) for j in range(k))
        hs = [h]
        for i in range(len(t) - k):
            h = (h - ord(t[i]) * top) * 31 + ord(t[i + k])
            hs.append(h)
        if len(hs) >= w:
            minima = {min(hs[i:i + w]) for i in range(len(hs) - w + 1)}
        else:
            minima = {min(hs)}
        for fp in minima:
            fp_docs[fp].append(d)
    shared: Counter = Counter()
    for ds in fp_docs.values():
        if len(ds) <= max_bucket:
            shared.update(combinations(sorted(ds), 2))
    return {p: n for p, n in shared.items() if n >= min_shared}


def same_pairs(got: dict, want: dict, tol: float = 1e-6) -> bool:
    """Equal key sets and values within ``tol`` (Spark rounds Jaccard
    to 6 places half-up, Python to nearest-even)."""
    return got.keys() == want.keys() and all(
        abs(got[p] - want[p]) <= tol for p in want
    )

