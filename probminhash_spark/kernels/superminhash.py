"""Vectorized SuperMinHash (Ertl, arXiv:1706.05698).

Port of ``superminhasher.rs:186-267`` re-derived for batch execution.  Per
item the reference draws, for ``j = 0..a_upper``: ``r_j ~ U[0,1)`` and
``k_j ~ U[j, m)`` from the item-seeded Xoshiro256++ and maintains a lazy
Fisher-Yates permutation ``p``; slot ``p[j]`` receives candidate value
``r_j + j`` under min semantics (``superminhasher.rs:201-237``).

Batch equivalence argument: the per-item draw stream is consumed in fixed
``j`` order regardless of global state; iterations beyond the point where
``r_j + j`` can still beat some slot of the item's document produce
candidates that can never win, so evaluating with any *conservative* (stale,
too large) per-doc upper bound yields the identical final sketch.  The
histogram-driven shrink of ``a_upper`` (``superminhasher.rs:221-237``)
becomes ``floor(max slot value)`` per doc, refreshed after every ``j``
iteration; lanes whose doc bound has fallen below ``j`` are *compacted away*
so each iteration costs O(live lanes) — the vectorized analogue of the
reference's expected-O(1) per item amortized cost after saturation.

The sketch value domain is [0, m) floats (``hsketch``), plus the winning item
hash per slot for direct 64-bit LSH banding (same equality semantics: the
per-item permutation and values are deterministic functions of the item, so
winner equality <=> value equality a.s.).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import Xoshiro256pp

U64 = np.uint64
_LARGE = float(np.uint32(0xFFFFFFFF))  # init value, superminhasher.rs:125


def superminhash_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Unweighted sketches -> (hsketch f64 (ndocs,m), winner item u64 (ndocs,m)).

    Duplicate items are harmless (idempotent re-draws of the same stream) but
    callers should dedupe for speed.
    """
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    vals = np.full(ndocs * m, _LARGE, dtype=np.float64)
    winner = np.zeros(ndocs * m, dtype=U64)
    vals2d = vals.reshape(ndocs, m)
    doc_upper = np.full(ndocs, m - 1, dtype=np.int64)  # floor(max slot) cap
    if lanes_per_chunk is None:
        lanes_per_chunk = max(1024, (1 << 22) // max(m, 1))

    seeds = hash_u64(item_hash, hasher)
    n = doc_idx.shape[0]
    for lo in range(0, n, lanes_per_chunk):
        hi = min(lo + lanes_per_chunk, n)
        docs = doc_idx[lo:hi]
        items = item_hash[lo:hi]
        nl = docs.shape[0]
        p = np.tile(np.arange(m, dtype=np.int32), (nl, 1))
        prow = np.arange(nl)  # live lane -> row in p
        rng = Xoshiro256pp(seeds[lo:hi])
        for j in range(m):
            live = doc_upper[docs] >= j
            if not live.all():
                if not live.any():
                    break
                docs, items, prow = docs[live], items[live], prow[live]
                rng.s = rng.s[live]
            r = rng.next_f64()
            k = rng.next_in_range(j, m).astype(np.int64)
            # lazy Fisher-Yates swap of positions j and k (superminhasher.rs:207-215)
            pj = p[prow, j].copy()
            p[prow, j] = p[prow, k]
            p[prow, k] = pj
            slot = p[prow, j].astype(np.int64)
            flat = docs * m + slot
            val = r + j
            np.minimum.at(vals, flat, val)
            won = vals[flat] == val
            winner[flat[won]] = items[won]
            # refresh per-doc upper for touched docs (cheap: few per chunk)
            touched = np.unique(docs[won])
            if touched.size:
                doc_upper[touched] = np.minimum(
                    np.floor(vals2d[touched].max(axis=1)), m - 1
                ).astype(np.int64)
    return vals2d, winner.reshape(ndocs, m)


def superminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """SuperMinHash2 (``superminhasher2.rs:203-279``, feature ``sminhash2``):
    integer sketches.  Per item and level ``j``: ``r ~ U[0, usize::MAX)`` and a
    lazy-FY slot; slot state is the lexicographic min of (level j, r) and the
    sketch stores the winning item's hash (``hsketch[k] = hval_i``).

    Returns (levels (ndocs,m) i64, r-values (ndocs,m) u64, winner hash u64).
    Same conservative-upper/live-lane-compaction scheme as SuperMinHash; the
    per-slot winner hash is the LSH banding key.
    """
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    J = np.full(ndocs * m, m - 1, dtype=np.int64)  # l init size-1
    R = np.full(ndocs * m, np.iinfo(np.uint64).max, dtype=U64)  # values usize::MAX
    winner = np.zeros(ndocs * m, dtype=U64)
    doc_upper = np.full(ndocs, m - 1, dtype=np.int64)
    if lanes_per_chunk is None:
        lanes_per_chunk = max(1024, (1 << 22) // max(m, 1))
    seeds = hash_u64(item_hash, hasher)
    n = doc_idx.shape[0]
    J2 = J.reshape(ndocs, m)
    for lo in range(0, n, lanes_per_chunk):
        hi = min(lo + lanes_per_chunk, n)
        docs = doc_idx[lo:hi]
        items = item_hash[lo:hi]
        rng = Xoshiro256pp(seeds[lo:hi])
        nl = docs.shape[0]
        v = np.tile(np.arange(m, dtype=np.int32), (nl, 1))
        prow = np.arange(nl)
        for j in range(m):
            live = doc_upper[docs] >= j
            if not live.all():
                if not live.any():
                    break
                docs, items, prow = docs[live], items[live], prow[live]
                rng.s = rng.s[live]
            r = rng.next_u64()  # Uniform(0, usize::MAX) ~ full-width draw
            u = rng.next_f64()
            idx = (j + (u * (m - j)).astype(np.int64)).clip(0, m - 1)
            slot = v[prow, idx].copy()
            v[prow, idx] = v[prow, j]
            v[prow, j] = slot
            flat = docs * m + slot.astype(np.int64)
            improves_level = j < J[flat]
            better = improves_level | ((j == J[flat]) & (r < R[flat]))
            bf = flat[better]
            # a level improvement OVERWRITES the slot's r (superminhasher2.rs
            # :246-252: l[k]=j; values[k]=r), so stale r from a worse level
            # must not survive the min-reduce
            R[flat[improves_level]] = np.iinfo(np.uint64).max
            J[bf] = j
            np.minimum.at(R, bf, r[better])
            won = better.copy()
            won[better] = R[bf] == r[better]
            winner[flat[won]] = items[won]
            touched = np.unique(docs[better])
            if touched.size:
                doc_upper[touched] = J2[touched].max(axis=1)
    return J.reshape(ndocs, m), R.reshape(ndocs, m), winner.reshape(ndocs, m)


def superminhash_single(items, m, hasher="fnv1a64"):
    items = np.asarray(items, dtype=U64)
    vals, win = superminhash_batch(
        np.zeros(items.shape[0], dtype=np.int64), items, 1, m, hasher
    )
    return vals[0], win[0]
