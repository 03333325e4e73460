"""Vectorized One-Permutation-Hashing MinHash with optimal densification.

Port of ``densminhash.rs`` (OptDensMinHash, Shrivastava 2017; RevOptDensMinHash,
Mai et al. 2020).  This is the reference's raw-speed sketch — exactly one RNG
seed + 2 draws per item (``densminhash.rs:191-209``) — and our production
default for LSH banding at 10^12-file scale.

- sketch: per item, ``r ~ U[0,1)``, ``bin ~ U[0,m)``; keep per-bin min ``r``
  plus the winning item hash (``values[k] = hval1``, ``densminhash.rs:203``).
  Two rng modes:
    * ``xoshiro`` — item-seeded Xoshiro256++ exactly like the reference.
    * ``mix`` (default) — r/bin derived from two SplitMix64 finalizer calls on
      the item hash.  Documented deviation: distribution-identical pairwise
      independent draws at ~1/3 the arithmetic; the reference itself treats
      the element hash as pluggable (``BuildHasherDefault<H>``).
- densify: each empty bin ``k`` probes bins with an rng seeded ``k + 123743``
  until it hits a filled one and copies it (``densminhash.rs:225-253``).
  The probe sequence is data-independent per bin, so one cached probe table
  densifies whole batches with gathers.  Documented deviations: probe rng is
  Xoshiro256++ instead of ChaCha12, and probes target originally-filled bins
  (pure Shrivastava) rather than the reference's self-feeding sequential scan.

Duplicate items are idempotent under the min-reduce, so callers do NOT need
to dedupe multisets first (big win: skips an O(n log n) lexsort per batch).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import Xoshiro256pp, splitmix64_mix

U64 = np.uint64
_LARGE = float(np.uint32(0xFFFFFFFF))
_C1 = U64(0x9E3779B97F4A7C15)
_C2 = U64(0xD1B54A32D192ED03)


def _draws(seeds: np.ndarray, m: int, rng_mode: str) -> tuple[np.ndarray, np.ndarray]:
    """(r in [0,1), bin in [0,m)) per item."""
    if rng_mode == "xoshiro":
        rng = Xoshiro256pp(seeds)
        r = rng.next_f64()
        k = rng.next_below(m).astype(np.int64)
        return r, k
    with np.errstate(over="ignore", under="ignore"):
        a = splitmix64_mix(seeds ^ _C1)
        b = splitmix64_mix(seeds + _C2)
        # bin from the top 32 bits: ((b >> 32) * m) >> 32 — exact for m < 2^32
        k = ((b >> U64(32)) * U64(m)) >> U64(32)
    r = ((a >> U64(12)) | U64(0x3FF0000000000000)).view(np.float64) - 1.0
    return r, k.astype(np.int64)


def optdens_minhash_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    rng_mode: str = "mix",
) -> tuple[np.ndarray, np.ndarray]:
    """OPH+densification sketches -> (hsketch f64 (ndocs,m), values u64 (ndocs,m)).

    Fully vectorized: O(n) draws for the bin pass and O(ndocs * m) for
    densification.
    """
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    seeds = hash_u64(item_hash, hasher)
    r, k = _draws(seeds, m, rng_mode)

    vals = np.full(ndocs * m, _LARGE, dtype=np.float64)
    winner = np.zeros(ndocs * m, dtype=U64)
    flat = doc_idx * m + k
    np.minimum.at(vals, flat, r)
    won = vals[flat] == r  # ties between distinct items are measure-zero
    winner[flat[won]] = seeds[won]

    vals = vals.reshape(ndocs, m)
    winner = winner.reshape(ndocs, m)
    _densify(vals, winner, m)
    return vals, winner


_PROBE_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _probe_table(m: int, depth: int) -> np.ndarray:
    """Probe sequences per bin: row k = probes of rng(seed k+123743)
    (``densminhash.rs:236``); cached — data-independent."""
    key = (m, depth)
    tbl = _PROBE_CACHE.get(key)
    if tbl is None or tbl.shape[1] < depth:
        rng = Xoshiro256pp(np.arange(m, dtype=np.int64).astype(U64) + U64(123743))
        cols = [rng.next_below(m).astype(np.int32) for _ in range(depth)]
        tbl = np.stack(cols, axis=1)  # (m, depth)
        _PROBE_CACHE[key] = tbl
    return tbl[:, :depth]


def _densify(vals: np.ndarray, winner: np.ndarray, m: int) -> None:
    """Optimal densification over the whole batch (``densminhash.rs:225-253``)."""
    filled = vals < _LARGE
    any_filled = filled.any(axis=1)
    need = filled.sum(axis=1) < m
    target = need & any_filled
    if not target.any():
        return
    docs = np.nonzero(target)[0]
    d_rep, bins = np.nonzero(~filled[docs])
    d_rep = docs[d_rep]
    pending = np.ones(d_rep.shape[0], dtype=bool)
    t = 0
    while pending.any():
        table = _probe_table(m, max(32, t + 16))
        probe = table[bins[pending], t]
        rows = d_rep[pending]
        hit = filled[rows, probe]
        if hit.any():
            src_rows = rows[hit]
            src_bins = probe[hit]
            dst_bins = bins[pending][hit]
            vals[src_rows, dst_bins] = vals[src_rows, src_bins]
            winner[src_rows, dst_bins] = winner[src_rows, src_bins]
            idx_pending = np.nonzero(pending)[0]
            pending[idx_pending[hit]] = False
        t += 1


def revoptdens_minhash_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    rng_mode: str = "mix",
) -> tuple[np.ndarray, np.ndarray]:
    """Reverse optimal densification (Mai et al. 2020; ``densminhash.rs:390-474``):
    *filled* bins push their value into empty bins, multi-pass, which is the
    better estimator when m >> set size (tiny files).  Probe rng seeded
    ``(k+1)*m + pass + 253713`` (``densminhash.rs:447``); Xoshiro instead of
    ChaCha12 (same deviation as optdens)."""
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    seeds = hash_u64(item_hash, hasher)
    r, k = _draws(seeds, m, rng_mode)
    vals = np.full(ndocs * m, _LARGE, dtype=np.float64)
    winner = np.zeros(ndocs * m, dtype=U64)
    flat = doc_idx * m + k
    np.minimum.at(vals, flat, r)
    won = vals[flat] == r
    winner[flat[won]] = seeds[won]
    vals = vals.reshape(ndocs, m)
    winner = winner.reshape(ndocs, m)

    filled0 = vals < _LARGE
    need_docs = np.nonzero(filled0.any(axis=1) & ~filled0.all(axis=1))[0]
    if need_docs.size:
        passes = 0
        empty_left = (~filled0[need_docs]).sum()
        while empty_left and passes < 8 * m:
            probe_rng = Xoshiro256pp(
                (np.arange(m, dtype=np.int64).astype(U64) + U64(1)) * U64(m)
                + U64(passes)
                + U64(253713)
            )
            targets = probe_rng.next_below(m).astype(np.int64)  # per source bin
            filled = vals[need_docs] < _LARGE
            # every filled (doc, bin) pushes into its pass target if empty
            d_idx, src_bin = np.nonzero(filled)
            tgt = targets[src_bin]
            is_empty = ~filled[d_idx, tgt]
            d_sel, s_sel, t_sel = d_idx[is_empty], src_bin[is_empty], tgt[is_empty]
            rows = need_docs[d_sel]
            # conflicts (two sources -> same empty target) resolved by last
            # write; the reference resolves by scan order — documented deviation
            vals[rows, t_sel] = vals[rows, s_sel]
            winner[rows, t_sel] = winner[rows, s_sel]
            passes += 1
            empty_left = (vals[need_docs] >= _LARGE).sum()
    return vals, winner
