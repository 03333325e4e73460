"""ProbOrdMinHash2 — order-sensitive (edit-distance) locality-sensitive
hashing.  Port of ``probordminhash2.rs`` (Ertl's FastOrderMinHash2; Marcais
et al., "Locality sensitive hashing for the edit distance", 2019).

Semantics (``probordminhash2.rs:234-306``):
- For each position i, the element's hash and its running occurrence count
  seed an rng (``:270-276`` — seed words [id_hash, occurrence, instance_seed, 0]).
- An Exp1 chain ``x += Exp1 * g[nb]``, ``g[i] = m/(m-i)`` (``:216-217``) walks
  slots chosen by lazy Fisher-Yates sampling without replacement; each slot
  keeps the l smallest (x, position) pairs (``OrdMinHashStore``, ``:85-115``).
- Signature slot k = a 64-bit combine of the hashes of the l data elements at
  the stored positions, sorted by position (``create_signature``, ``:128-172``
  — WyHash there; SplitMix-chain combine here, documented deviation, as is
  inverse-CDF Exp1).

This operator is *intentionally* order-sensitive (SURVEY.md §1.2), and the
reference mixes in a per-instance seed; we expose ``seed`` explicitly so runs
are reproducible.  Sequential per item (the l-minima store resists
vectorization); intended for reference parity + moderate-scale use inside
``applyInPandas`` over token sequences, not the 10^12-file hot path.
"""

from __future__ import annotations

import numpy as np

from .hashes import combine64, hash_u64, mix64
from .rng import FYWalk, Xoshiro256pp, exp1

U64 = np.uint64


class ProbOrdMinHash2:
    def __init__(self, m: int, l: int = 2, seed: int = 0x5EED):
        assert l < 16, "l < 16 (probordminhash2.rs:61)"
        self.m = m
        self.l = l
        self.seed = seed
        self.g = m / (m - np.arange(1, m, dtype=np.float64))  # g[i-1]=m/(m-i)

    def hash_seq(self, items: np.ndarray, hasher: str = "nohash") -> np.ndarray:
        """Sequence of element ids -> m-slot u64 signature."""
        items = np.asarray(items, dtype=U64)
        n = items.shape[0]
        assert n >= self.l, "data length must be >= l (probordminhash2.rs:245)"
        m, l = self.m, self.l
        id_hash = hash_u64(items, hasher)
        values = np.full((m, l), np.inf)
        indices = np.full((m, l), -1, dtype=np.int64)
        counter: dict[int, int] = {}
        for i in range(n):
            hv = int(id_hash[i])
            occ = counter.get(hv, 0) + 1
            counter[hv] = occ
            # rng seeded by (id_hash, occurrence, instance seed)
            lane_seed = combine64(
                np.array([hv], dtype=U64),
                np.array([occ], dtype=U64),
            ) ^ U64(self.seed)
            rng = Xoshiro256pp(lane_seed)
            x = float(exp1(rng)[0])
            v = np.arange(m, dtype=np.int64)
            nb = 0
            qmax = values[:, l - 1].max()
            while x < qmax:
                u = float(rng.next_f64()[0])
                idx = min(nb + int(u * (m - nb)), m - 1)
                k = v[idx]
                v[idx] = v[nb]
                v[nb] = k
                # insert into the slot's sorted l-minima
                if x < values[k, l - 1]:
                    pos = np.searchsorted(values[k], x)
                    values[k, pos + 1 :] = values[k, pos:-1]
                    indices[k, pos + 1 :] = indices[k, pos:-1]
                    values[k, pos] = x
                    indices[k, pos] = i
                    qmax = values[:, l - 1].max()
                else:
                    break
                if x >= qmax or nb + 1 >= m:
                    break
                x += float(exp1(rng)[0]) * self.g[nb]
                nb += 1
        # combine: per slot, hashes of the l elements in position order
        sig = np.empty(m, dtype=U64)
        for k in range(m):
            pos = np.sort(indices[k])
            assert (pos >= 0).all(), "slot not filled; increase data size or lower m"
            acc = mix64(np.array([self.seed], dtype=U64))
            for p in pos:
                acc = combine64(acc, id_hash[p])
            sig[k] = acc[0]
        return sig


def probordminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    l: int = 2,
    seed: int | np.ndarray = 0x5EED,
    hasher: str = "nohash",
) -> np.ndarray:
    """Cross-doc vectorized ProbOrdMinHash2 -> (ndocs, m) u64 signatures.

    Bit-identical to :meth:`ProbOrdMinHash2.hash_seq` per doc (equivalence
    enforced in tests): docs are independent, so the batch processes item
    position t of EVERY doc in lockstep — one ``rng.FYWalk`` lane per doc,
    dropped when its walk ends.  Each lane's rng,
    seed, and walk-termination rules (break on failed insert / no further
    update possible / nb+1 >= m, ``probordminhash2.rs:279-300``) are the
    same as the sequential kernel; within a step all lanes touch distinct
    (doc, slot) cells, so the vectorized l-minima insertions cannot conflict.

    Inputs are flattened sequences: parallel (doc_idx sorted, item_hash in
    position order within each doc).  Docs must each have >= l items.

    ``seed`` may be a scalar (one instance seed for all docs, the UDF path)
    or an (ndocs,) array of per-doc instance seeds — the batch analogue of
    the reference's ``change_rng_seed`` between ``hash_set`` calls
    (``probordminhash2.rs`` test harness), which lets the histogram
    acceptance tests run every iteration as one vectorized call.
    """
    assert l < 16
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    id_hash = hash_u64(item_hash, hasher)
    n = doc_idx.shape[0]
    counts = np.bincount(doc_idx, minlength=ndocs)
    if n and counts.min() < l:
        raise ValueError(f"every doc needs >= l={l} items")
    offsets = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    # occurrence index of each item among equal hashes earlier in its doc
    # (the reference's per-doc counter), computed in one lexsort pass
    order = np.lexsort((np.arange(n), id_hash, doc_idx))
    ds, hs = doc_idx[order], id_hash[order]
    new_grp = np.empty(n, dtype=bool)
    if n:
        new_grp[0] = True
        new_grp[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
    grp_start = np.maximum.accumulate(np.where(new_grp, np.arange(n), 0))
    occ = np.empty(n, dtype=np.int64)
    occ[order] = np.arange(n) - grp_start + 1
    # per-item rng lane seed — identical formula to hash_seq
    seed_arr = np.asarray(seed, dtype=U64)
    seed_of_item = seed_arr if seed_arr.ndim == 0 else seed_arr[doc_idx]
    lane_seed = combine64(id_hash, occ.astype(U64)) ^ seed_of_item

    g = m / (m - np.arange(1, m, dtype=np.float64))
    values = np.full((ndocs, m, l), np.inf)
    indices = np.full((ndocs, m, l), -1, dtype=np.int64)
    qmax = np.full(ndocs, np.inf)
    max_items = int(counts.max()) if ndocs else 0
    rows_all = np.arange(ndocs)
    for t in range(max_items):
        lanes = rows_all[counts > t]  # docs that have an item at position t
        w = FYWalk(lane_seed[offsets[lanes] + t], m, d=lanes)
        w.track(x=exp1(w.rng), nb=np.zeros(lanes.shape[0], dtype=np.int64))
        live = w.x < qmax[w.d]
        while w.keep(live):
            k = w.next_slot(w.nb)
            ins = w.x < values[w.d, k, l - 1]
            if ins.any():
                di, ki, xi = w.d[ins], k[ins], w.x[ins]
                row = values[di, ki]  # (ni, l) copies
                pos = (row < xi[:, None]).sum(axis=1)
                irow = indices[di, ki]
                for j in range(l - 1, 0, -1):
                    shift = j > pos
                    row[shift, j] = row[shift, j - 1]
                    irow[shift, j] = irow[shift, j - 1]
                ni = np.arange(pos.shape[0])
                row[ni, pos] = xi
                irow[ni, pos] = t
                values[di, ki] = row
                indices[di, ki] = irow
                qmax[di] = values[di, :, l - 1].max(axis=1)
            # walk-termination mirrors hash_seq: failed insert dies; after a
            # successful insert, die if x >= qmax or nb+1 >= m
            if not w.keep(ins & (w.x < qmax[w.d]) & (w.nb + 1 < m)):
                break
            w.x = w.x + exp1(w.rng) * g[w.nb]
            w.nb = w.nb + 1
            # loop-top re-check of `while x < qmax` after the x increment
            live = w.x < qmax[w.d]
    if (indices < 0).any():
        raise ValueError("slot not filled; increase data size or lower m")
    # signature combine: per (doc, slot), chain over the l stored positions
    # sorted by position — identical chain to hash_seq
    pos_sorted = np.sort(indices, axis=2)  # positions within doc
    flat = offsets[:-1][:, None, None] + pos_sorted
    h = id_hash[flat]  # (ndocs, m, l)
    if seed_arr.ndim == 0:
        acc = np.broadcast_to(mix64(seed_arr.reshape(1)), (ndocs, m)).copy()
    else:
        acc = np.broadcast_to(mix64(seed_arr)[:, None], (ndocs, m)).copy()
    for j in range(l):
        acc = combine64(acc, h[:, :, j])
    return acc
