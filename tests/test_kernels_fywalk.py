"""Bit-identity of the five slot-permuting kernels against their bodies from
before they shared ``rng.FYWalk`` (Spark-free).

The ``old_*`` functions below are those bodies verbatim (docstrings dropped):
each hand-rolls the permutation matrix, the lazy Fisher-Yates swap and, except
SetSketch, the dead-lane compaction.  The walker may only skip draws whose
results cannot change the output, so every output array must be equal —
including across chunk sizes, which is new coverage for ``setsketch_batch``
and ``probminhash2_batch``.
"""

from pathlib import Path

import numpy as np
import pytest

from probminhash_spark.kernels.hashes import combine64, hash_u64, mix64
from probminhash_spark.kernels.probminhash2 import probminhash2_batch
from probminhash_spark.kernels.probordminhash2 import probordminhash2_batch
from probminhash_spark.kernels.rng import Xoshiro256pp, exp1
from probminhash_spark.kernels.setsketch import SetSketchParams, setsketch_batch
from probminhash_spark.kernels.superminhash import superminhash2_batch, superminhash_batch

U64 = np.uint64
_LARGE = float(np.uint32(0xFFFFFFFF))
KERNELS = Path(__file__).resolve().parent.parent / "probminhash_spark" / "kernels"


def old_superminhash_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
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


def old_superminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
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


def old_probminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    weights: np.ndarray,
    ndocs: int,
    m: int,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> tuple[np.ndarray, np.ndarray]:
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


def old_setsketch_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    params: SetSketchParams | None = None,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> np.ndarray:
    p = params or SetSketchParams()
    m, q, a, lnb = p.m, p.q, p.a, p.lnb
    doc_idx = np.ascontiguousarray(doc_idx, dtype=np.int64)
    item_hash = np.ascontiguousarray(item_hash, dtype=U64)
    xmin = np.full(ndocs * m, np.inf, dtype=np.float64)
    if lanes_per_chunk is None:
        lanes_per_chunk = max(128, (1 << 21) // max(m, 1))
    seeds = hash_u64(item_hash, hasher)
    inva = 1.0 / a
    iq1 = q + 1
    n = doc_idx.shape[0]
    for lo in range(0, n, lanes_per_chunk):
        hi = min(lo + lanes_per_chunk, n)
        docs_m = doc_idx[lo:hi] * m
        nl = docs_m.shape[0]
        rng = Xoshiro256pp(seeds[lo:hi])
        v = np.tile(np.arange(m, dtype=np.int32), (nl, 1))  # FY value array
        rows = np.arange(nl)
        x = np.zeros(nl, dtype=np.float64)
        for j in range(m):
            x += (inva / (m - j)) * exp1(rng)
            # lazy FY with u01 index mapping (fyshuffle.rs:42-48)
            idx = (j + (rng.next_f64() * (m - j)).astype(np.int64)).clip(0, m - 1)
            slot_val = v[rows, idx].copy()
            v[rows, idx] = v[rows, j]
            v[rows, j] = slot_val
            np.minimum.at(xmin, docs_m + slot_val, x)
    with np.errstate(divide="ignore", invalid="ignore"):
        z = np.floor(1.0 - np.log(xmin) / lnb)
    regs = np.where(np.isfinite(xmin), np.clip(z, 0, min(iq1, 0xFFFF)), 0.0)
    return regs.reshape(ndocs, m).astype(np.uint16)


def old_probordminhash2_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    m: int,
    l: int = 2,
    seed: int | np.ndarray = 0x5EED,
    hasher: str = "nohash",
) -> np.ndarray:
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
        item = offsets[lanes] + t  # flat index of that item
        nl = lanes.shape[0]
        rng = Xoshiro256pp(lane_seed[item])
        x = exp1(rng)
        v = np.tile(np.arange(m, dtype=np.int64), (nl, 1))
        nb = np.zeros(nl, dtype=np.int64)
        lr = np.arange(nl)
        alive = x < qmax[lanes]
        while alive.any():
            u = rng.next_f64(alive)
            idx = np.minimum(nb + (u * (m - nb)).astype(np.int64), m - 1)
            k = v[lr, idx]
            v[lr, idx] = np.where(alive, v[lr, nb], v[lr, idx])
            v[lr, nb] = np.where(alive, k, v[lr, nb])
            d = lanes
            inserted = alive & (x < values[d, k, l - 1])
            if inserted.any():
                di, ki = d[inserted], k[inserted]
                xi = x[inserted]
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
            alive = inserted & (x < qmax[lanes]) & (nb + 1 < m)
            e = exp1(rng, alive)
            x = np.where(alive, x + e * g[np.minimum(nb, m - 2)], x)
            nb = nb + alive.astype(np.int64)
            # loop-top re-check of `while x < qmax` after the x increment
            alive &= x < qmax[lanes]
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


def _corpus(ndocs, lo, hi, seed):
    """Random item hashes for ``ndocs`` docs of ``lo..hi`` items, doc-sorted."""
    rng = np.random.default_rng(seed)
    counts = rng.integers(lo, hi + 1, ndocs)
    d = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
    return d, rng.integers(0, 2**63, d.size, dtype=np.int64).astype(U64)


# (m, ndocs, items per doc lo..hi); m=4096 keeps to a few thousand items
CASES = [
    (64, 40, 1, 30),
    (64, 6, 500, 3000),
    (256, 40, 1, 30),
    (256, 3, 500, 3000),
    (4096, 8, 1, 30),
    (4096, 2, 500, 1500),
]
CASE_IDS = [f"m{m}-{lo}to{hi}" for m, _, lo, hi in CASES]


def _chunks(m, lo):
    # chunk size 37 at m=4096 only on short docs: the old SetSketch walks
    # all m rounds per chunk
    return [None, 37] if m < 4096 or lo == 1 else [None]


def _assert_same(got, want):
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and np.array_equal(g, w, equal_nan=True)


@pytest.mark.parametrize("m,ndocs,lo,hi", CASES, ids=CASE_IDS)
def test_setsketch_and_superminhash_bit_identical(m, ndocs, lo, hi):
    d, h = _corpus(ndocs, lo, hi, seed=m + lo)
    p = SetSketchParams(m=m)
    for lpc in _chunks(m, lo):
        _assert_same(
            [setsketch_batch(d, h, ndocs, p, "nohash", lpc)],
            [old_setsketch_batch(d, h, ndocs, p, "nohash", lpc)],
        )
        _assert_same(
            superminhash_batch(d, h, ndocs, m, "nohash", lpc),
            old_superminhash_batch(d, h, ndocs, m, "nohash", lpc),
        )
        _assert_same(
            superminhash2_batch(d, h, ndocs, m, "nohash", lpc),
            old_superminhash2_batch(d, h, ndocs, m, "nohash", lpc),
        )


@pytest.mark.parametrize("m,ndocs,lo,hi", CASES, ids=CASE_IDS)
def test_probminhash2_bit_identical_with_zero_and_unequal_weights(m, ndocs, lo, hi):
    d, h = _corpus(ndocs, lo, hi, seed=m + lo + 1)
    wts = np.random.default_rng(m).uniform(0.0, 4.0, d.size)
    wts[::7] = 0.0
    for lpc in _chunks(m, lo):
        _assert_same(
            probminhash2_batch(d, h, wts, ndocs, m, "nohash", lpc),
            old_probminhash2_batch(d, h, wts, ndocs, m, "nohash", lpc),
        )


@pytest.mark.parametrize("l", [2, 3])
@pytest.mark.parametrize("m,lo,hi", [(16, 3, 120), (64, 40, 120), (64, 500, 1500)])
def test_probordminhash2_bit_identical(m, lo, hi, l):
    rng = np.random.default_rng(m * l + lo)
    ndocs = 8 if hi <= 120 else 2
    counts = rng.integers(lo, hi + 1, ndocs)
    d = np.repeat(np.arange(ndocs, dtype=np.int64), counts)
    toks = rng.integers(0, 40, d.size).astype(U64)  # small vocabulary: repeats
    per_doc = rng.integers(0, 2**63, ndocs, dtype=np.int64).astype(U64)
    for seed in (0x5EED, per_doc):
        _assert_same(
            [probordminhash2_batch(d, toks, ndocs, m, l, seed)],
            [old_probordminhash2_batch(d, toks, ndocs, m, l, seed)],
        )


def test_only_the_walker_permutes_or_compacts():
    """The permutation matrix and the rng-lane compaction live in
    ``rng.FYWalk``; no kernel hand-rolls them."""
    for path in KERNELS.glob("*.py"):
        if path.name == "rng.py":
            continue
        src = path.read_text()
        for needle in ("np.tile(np.arange(", "rng.s = "):
            assert needle not in src, f"{path.name} has {needle!r}"
