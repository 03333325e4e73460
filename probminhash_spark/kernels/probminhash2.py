"""Vectorized ProbMinHash2 (Ertl, arXiv:1911.00675 algorithm 2).

Port of ``probminhash2.rs:74-137``.  Per item: rng <- hash(id);
``h_0 = winv * Exp1``; then repeatedly pick the next slot by lazy Fisher-Yates
sampling *without replacement* (``fyshuffle.rs:37-49``) and grow
``h += winv * beta_i * Exp1`` with ``beta_i = m/(m-i-1)`` (``probminhash2.rs:56-58``),
stopping when ``h >= qmax`` (tournament max over slots).

Batch equivalence: same argument as ProbMinHash3a (see probminhash.py) — the
per-item draw stream (e_0, u_0, e_1, u_1, ...) is consumed in fixed order and
candidates skipped by the early exit satisfy ``h >= qmax_t >= V_final[k]``;
order-free rounds over a conservative qmax evaluate a superset of candidates
with identical per-slot argmin.  One wrinkle vs 3a: the slot comes from a
per-item permutation state (v array), so lanes are chunked like superminhash.

Deviation: ``Exp1`` sampled by inverse CDF (rand_distr uses Ziggurat) —
distribution-identical, stream-different; estimator behavior pinned by the
same 3-sigma tests the reference uses (``probminhash2.rs:158-309``).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import Xoshiro256pp, exp1

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
    if lanes_per_chunk is None:
        lanes_per_chunk = max(1024, (1 << 22) // max(m, 1))
    seeds = hash_u64(item_hash, hasher)
    n = doc_idx.shape[0]
    for lo in range(0, n, lanes_per_chunk):
        hi = min(lo + lanes_per_chunk, n)
        docs = doc_idx[lo:hi]
        items = item_hash[lo:hi]
        winv = 1.0 / weights[lo:hi]
        nl = docs.shape[0]
        rng = Xoshiro256pp(seeds[lo:hi])
        v = np.tile(np.arange(m, dtype=np.int32), (nl, 1))
        prow = np.arange(nl)
        h = winv * exp1(rng)
        for i in range(m):
            qmax = vals2d.max(axis=1)[docs]
            live = h < qmax
            if not live.any():
                break
            if not live.all():
                docs, items, winv, h, prow = (
                    docs[live], items[live], winv[live], h[live], prow[live],
                )
                rng.s = rng.s[live]
            # lazy FY sample without replacement (fyshuffle.rs:42-48)
            u = rng.next_f64()
            idx = (i + (u * (m - i)).astype(np.int64)).clip(0, m - 1)
            slot = v[prow, idx].copy()
            v[prow, idx] = v[prow, i]
            v[prow, i] = slot
            flat = docs * m + slot.astype(np.int64)
            np.minimum.at(vals, flat, h)
            won = vals[flat] == h
            sig[flat[won]] = items[won]
            if i == m - 1:
                break
            h = h + winv * betas[i] * exp1(rng)
    return sig.reshape(ndocs, m), vals2d


def probminhash2_single(items, weights, m, hasher="fnv1a64"):
    items = np.asarray(items, dtype=U64)
    weights = np.asarray(weights, dtype=np.float64)
    s, v = probminhash2_batch(
        np.zeros(items.shape[0], dtype=np.int64), items, weights, 1, m, hasher
    )
    return s[0], v[0]
