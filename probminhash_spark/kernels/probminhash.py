"""Vectorized ProbMinHash3 / ProbMinHash3a (Ertl, arXiv:1911.00675).

Port of ``probminhash3.rs`` re-derived for batch execution.  The reference
processes items sequentially with a tournament-tree early-exit
(``probminhash3.rs:80-112`` for 3, ``:215-288`` for 3a).  Key facts that make a
batched, order-free evaluation produce the *same* signature:

1. Each item owns an independent RNG seeded from its hash
   (``probminhash3.rs:90-91``), and its draw stream is always consumed in the
   fixed prefix order ``e_1, k_1, e_2, k_2, ...`` — the early exits only decide
   where the prefix stops, never which values are drawn.
2. Candidate ``i`` of an item is ``h_i = winv*(i-1) + winv*Exp01(e_i)`` aimed
   at slot ``k_i ~ U[0,m)``; the final signature is the per-slot argmin over
   all candidates.  A candidate the reference skips satisfies
   ``h_i >= qmax_t >= qmax_final >= V_final[k]`` (qmax is monotone
   non-increasing), so it can never be a final winner.  Evaluating a superset
   of the reference's candidates therefore yields an identical argmin.
3. ProbMinHash3 and 3a share the same candidate universe and stopping bound
   (retention requires ``winv*i < qmax``, ``probminhash3.rs:248-252``,
   ``:279``), so one kernel serves both (S2/S4 in SURVEY.md §2).

Inputs are flattened weighted multisets: parallel arrays
``(doc_idx, item_hash, weight)`` — the batch analogue of
``hash_weigthed_idxmap`` (unique keys per doc enforced upstream by
``shingles.dedupe_counts``).
"""

from __future__ import annotations

import numpy as np

from .hashes import hash_u64
from .rng import ExpRestricted01, Xoshiro256pp

U64 = np.uint64


def _argmin_reduce(flat_keys, values, payload, size):
    """Per-key (min value, payload of min) over candidate arrays."""
    order = np.lexsort((values, flat_keys))
    fk = flat_keys[order]
    first = np.empty(fk.shape[0], dtype=bool)
    first[0] = True
    first[1:] = fk[1:] != fk[:-1]
    sel = order[first]
    return flat_keys[sel], values[sel], payload[sel]


def _scatter_argmin_update(vals, sig_flat, flat, h, items):
    """Fold one round of candidates into the running per-slot minima:
    ``vals[flat] = min(vals[flat], h)`` with the winning item recorded.

    Equivalent to ``_argmin_reduce`` + strict-improvement masking for
    continuous (tie-free a.s.) draws, but O(n) scatter instead of an
    O(n log n) lexsort per round — the analogue of the reference's direct
    per-candidate update (``probminhash3.rs:248-266``), which also applies
    candidates one at a time under strict ``<``.
    """
    old = vals[flat]
    np.minimum.at(vals, flat, h)
    won = (vals[flat] == h) & (h < old)
    sig_flat[flat[won]] = items[won]


def probminhash3a_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    weights: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    max_rounds: int = 100_000,
    sha_states: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Weighted sketches for a batch of docs -> (signature u64 (ndocs,m),
    slot values f64 (ndocs,m)).

    Signature slots hold the winning item's 64-bit hash (the reference stores
    the object itself, ``probminhash3.rs:51``; equality semantics only need
    ``PartialEq``, ``jaccard.rs:9-19``, so the hash is an equivalent carrier).
    Empty docs keep the init fill (0, +inf) like ``initobj``.

    ``sha_states``: optional precomputed (states (n,4), ident (n,)) for the
    sha regime — the raw-byte identity path passes digests of the shingle
    BYTES here (``sha512_256_states_raw``) so identity doesn't pass through
    the u64 poly-hash bottleneck.  Must be aligned with ``item_hash`` rows.
    """
    assert m >= 2, "nbhash must be >= 2 (probminhash3.rs:64)"
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    weights = np.ascontiguousarray(weights, dtype=np.float64)
    keep = weights > 0.0  # zero-weight items skipped (probminhash3.rs:443-447)
    if not keep.all():
        doc_idx, item_hash, weights = doc_idx[keep], item_hash[keep], weights[keep]
        if sha_states is not None:
            sha_states = (sha_states[0][keep], sha_states[1][keep])
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)

    lam = np.log(m / (m - 1.0))
    exp01 = ExpRestricted01(lam)

    sig = np.zeros((ndocs, m), dtype=U64)
    vals = np.full(ndocs * m, np.inf, dtype=np.float64)

    if sha_states is not None:
        state, item_ident = sha_states
    elif hasher == "sha":
        # ProbMinHash3aSha (S6): digest words ARE the rng state
        # (probminhash3sha.rs:106-114).  Documented deviation: the reference
        # carries the ORIGINAL key in the signature (`self.signature[k] =
        # key.clone()`; the digest only seeds the rng) — a u64-slot Spark
        # signature cannot hold arbitrary keys, so the first digest word is
        # carried instead.  Slot-EQUALITY semantics (all jaccard.rs:9-19
        # needs) are preserved: equal keys <=> equal digests w.h.p.
        from .hashes import sha512_256_states

        state, ident = sha512_256_states(item_hash)
        item_ident = ident
    else:
        seeds = hash_u64(item_hash, hasher)
        state = Xoshiro256pp(seeds).s  # (n,4)
        item_ident = item_hash
    winv = 1.0 / weights
    a_doc, a_item, a_winv, a_state = doc_idx, item_ident, winv, state

    i = 1
    while a_doc.size and i <= max_rounds:
        rng = Xoshiro256pp.from_state(a_state)
        e = exp01.sample(rng)
        k = rng.next_below(m).astype(np.int64)
        h = a_winv * (i - 1) + a_winv * e
        flat = a_doc * m + k
        _scatter_argmin_update(vals, sig.reshape(-1), flat, h, a_item)
        # retention: candidate i+1 has h >= winv*i; it can only win if
        # winv*i < qmax(doc) (probminhash3.rs:248, :279)
        qmax = vals.reshape(ndocs, m).max(axis=1)
        alive = (a_winv * i) < qmax[a_doc]
        if not alive.all():
            a_doc, a_item, a_winv = a_doc[alive], a_item[alive], a_winv[alive]
            a_state = a_state[alive]
        i += 1
    return sig, vals.reshape(ndocs, m)


def probminhash3a_single(items, weights, m, hasher="fnv1a64"):
    """Single weighted set -> signature; mirrors the reference unit tests."""
    items = np.asarray(items, dtype=U64)
    weights = np.asarray(weights, dtype=np.float64)
    sig, vals = probminhash3a_batch(
        np.zeros(items.shape[0], dtype=np.int64), items, weights, 1, m, hasher
    )
    return sig[0], vals[0]


def probminhash3a_sha_single(byte_keys, weights, m):
    """ProbMinHash3aSha (S6, ``probminhash3sha.rs:87-167``): arbitrary-length
    byte keys seed the per-item rng with SHA-512/256 of the key bytes
    (``sig.rs:12-15`` + ``probminhash3sha.rs:106-114``) — the stable-across-
    languages identity regime.  Documented deviation: the reference stores
    the original key itself in the signature (the digest only seeds the
    rng); here the first digest word is carried instead (injective w.h.p.),
    so signatures are not byte-compatible with the reference's, but slot
    equality semantics — all ``jaccard.rs:9-19`` needs — are unchanged.

    Parity-scale helper (hashlib per key); the production path pre-hashes
    shingles to u64 instead.
    """
    import hashlib

    weights = np.asarray(weights, dtype=np.float64)
    n = len(byte_keys)
    states = np.empty((n, 4), dtype=U64)
    idents = np.empty(n, dtype=U64)
    for i, key in enumerate(byte_keys):
        digest = hashlib.new("sha512_256", bytes(key)).digest()
        words = np.frombuffer(digest, dtype="<u8")
        states[i] = words
        idents[i] = words[0]
    lam = np.log(m / (m - 1.0))
    exp01 = ExpRestricted01(lam)
    sig = np.zeros((1, m), dtype=U64)
    vals = np.full(m, np.inf, dtype=np.float64)
    keep = weights > 0.0
    a_state, a_winv, a_item = states[keep], 1.0 / weights[keep], idents[keep]
    doc = np.zeros(a_item.shape[0], dtype=np.int64)
    i = 1
    while a_item.size:
        rng = Xoshiro256pp.from_state(a_state)
        e = exp01.sample(rng)
        k = rng.next_below(m).astype(np.int64)
        h = a_winv * (i - 1) + a_winv * e
        _scatter_argmin_update(vals, sig.reshape(-1), k, h, a_item)
        qmax = vals.max()
        alive = (a_winv * i) < qmax
        a_state, a_winv, a_item = a_state[alive], a_winv[alive], a_item[alive]
        i += 1
    return sig[0], vals
