"""Vectorized SuperMinHash (Ertl, arXiv:1706.05698).

Port of ``superminhasher.rs:186-267`` re-derived for batch execution.  Per
item the reference draws, for ``j = 0..a_upper``: ``r_j ~ U[0,1)`` and
``k_j ~ U[j, m)`` from the item-seeded Xoshiro256++ and walks a lazy
Fisher-Yates permutation (``rng.FYWalk``); the slot at position ``j``
receives candidate value ``r_j + j`` under min semantics
(``superminhasher.rs:201-237``).

Batch equivalence: each item's draws come in fixed ``j`` order, and once
``r_j + j`` cannot beat any slot of its document every later candidate
loses, so any *conservative* per-doc bound yields the identical sketch.  The
shrink of ``a_upper`` (``superminhasher.rs:221-237``) becomes ``floor(max
slot value)`` per touched doc after every ``j``; lanes past it leave the walk.

The sketch value domain is [0, m) floats (``hsketch``), plus the winning item
hash per slot for direct 64-bit LSH banding (same equality semantics: the
per-item permutation and values are deterministic functions of the item, so
winner equality <=> value equality a.s.).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import FYWalk

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
    seeds = hash_u64(item_hash, hasher)
    size = lanes_per_chunk or max(1024, (1 << 22) // max(m, 1))
    for w in FYWalk.chunks(seeds, m, size, docs=doc_idx, items=item_hash):
        for j in range(m):
            if not w.keep(doc_upper[w.docs] >= j):
                break
            r = w.rng.next_f64()
            flat = w.docs * m + w.take(j, w.rng.next_in_range(j, m).astype(np.int64))
            val = r + j
            np.minimum.at(vals, flat, val)
            won = vals[flat] == val
            winner[flat[won]] = w.items[won]
            # refresh per-doc upper for touched docs (cheap: few per chunk)
            touched = np.unique(w.docs[won])
            doc_upper[touched] = np.minimum(np.floor(vals2d[touched].max(axis=1)), m - 1)
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
    Same conservative per-doc upper bound as SuperMinHash, with the u01 slot
    draw of ``rng.FYWalk.next_slot``; the winner hash is the LSH banding key.
    """
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    J = np.full(ndocs * m, m - 1, dtype=np.int64)  # l init size-1
    R = np.full(ndocs * m, np.iinfo(np.uint64).max, dtype=U64)  # values usize::MAX
    winner = np.zeros(ndocs * m, dtype=U64)
    doc_upper = np.full(ndocs, m - 1, dtype=np.int64)
    J2 = J.reshape(ndocs, m)
    seeds = hash_u64(item_hash, hasher)
    size = lanes_per_chunk or max(1024, (1 << 22) // max(m, 1))
    for w in FYWalk.chunks(seeds, m, size, docs=doc_idx, items=item_hash):
        for j in range(m):
            if not w.keep(doc_upper[w.docs] >= j):
                break
            r = w.rng.next_u64()  # Uniform(0, usize::MAX) ~ full-width draw
            flat = w.docs * m + w.next_slot(j)
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
            winner[flat[won]] = w.items[won]
            touched = np.unique(w.docs[better])
            doc_upper[touched] = J2[touched].max(axis=1)
    return J.reshape(ndocs, m), R.reshape(ndocs, m), winner.reshape(ndocs, m)


def superminhash_single(items, m, hasher="fnv1a64"):
    items = np.asarray(items, dtype=U64)
    vals, win = superminhash_batch(
        np.zeros(items.shape[0], dtype=np.int64), items, 1, m, hasher
    )
    return vals[0], win[0]
