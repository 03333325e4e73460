"""Vectorized ProbMinHash2 (Ertl, arXiv:1911.00675 algorithm 2).

Port of ``probminhash2.rs:74-137``.  Per item: rng <- hash(id);
``h_0 = winv * Exp1``; then repeatedly pick the next slot without
replacement (``rng.FYWalk.next_slot``) and grow
``h += winv * beta_i * Exp1`` with ``beta_i = m/(m-i-1)`` (``probminhash2.rs:56-58``),
stopping when ``h >= qmax`` (tournament max over slots).

Batch equivalence: same argument as ProbMinHash3a (see probminhash.py) — the
per-item draw stream (e_0, u_0, e_1, u_1, ...) is consumed in fixed order and
candidates skipped by the early exit satisfy ``h >= qmax_t >= V_final[k]``;
order-free rounds over a conservative qmax evaluate a superset of candidates
with identical per-slot argmin.  The per-doc qmax is refreshed for touched
docs only.

Deviation: ``Exp1`` sampled by inverse CDF (rand_distr uses Ziggurat) —
distribution-identical, stream-different; estimator behavior pinned by the
same 3-sigma tests the reference uses (``probminhash2.rs:158-309``).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import FYWalk, exp1

U64 = np.uint64


def probminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    weights: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted sketches -> (signature u64 (ndocs,m), slot values (ndocs,m))."""
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    weights = np.ascontiguousarray(weights, dtype=np.float64)
    keep = weights > 0.0
    if not keep.all():
        doc_idx, item_hash, weights = doc_idx[keep], item_hash[keep], weights[keep]
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    with np.errstate(divide="ignore"):
        betas = m / (m - np.arange(m, dtype=np.float64) - 1.0)
    betas[-1] = np.inf  # i == m-1 must terminate (probminhash2.rs:102 assert)

    vals = np.full(ndocs * m, np.inf, dtype=np.float64)
    sig = np.zeros(ndocs * m, dtype=U64)
    vals2d = vals.reshape(ndocs, m)
    qmax = np.full(ndocs, np.inf)  # per-doc max slot value
    seeds = hash_u64(item_hash, hasher)
    size = lanes_per_chunk or max(1024, (1 << 22) // max(m, 1))
    for w in FYWalk.chunks(seeds, m, size, docs=doc_idx, items=item_hash, winv=1.0 / weights):
        w.track(h=w.winv * exp1(w.rng))
        for i in range(m):
            if not w.keep(w.h < qmax[w.docs]):
                break
            flat = w.docs * m + w.next_slot(i)
            np.minimum.at(vals, flat, w.h)
            won = vals[flat] == w.h
            sig[flat[won]] = w.items[won]
            touched = np.unique(w.docs[won])
            qmax[touched] = vals2d[touched].max(axis=1)
            if i == m - 1:
                break
            w.h = w.h + w.winv * betas[i] * exp1(w.rng)
    return sig.reshape(ndocs, m), vals2d


def probminhash2_single(items, weights, m, hasher="fnv1a64"):
    items = np.asarray(items, dtype=U64)
    weights = np.asarray(weights, dtype=np.float64)
    s, v = probminhash2_batch(
        np.zeros(items.shape[0], dtype=np.int64), items, weights, 1, m, hasher
    )
    return s[0], v[0]
