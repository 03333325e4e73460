"""Sketcher acceptance tests — the same statistical strategy the reference
uses (SURVEY.md §5.1): canonical range fixtures with known exact Jaccard,
|Ĵ − J| < 3σ with σ = sqrt(J(1−J)/m), plus exact weighted-J_p oracles.
"""

import numpy as np
import pytest

from probminhash_spark.kernels.densminhash import optdens_minhash_batch
from probminhash_spark.kernels.jaccard import exact_weighted_jaccard, sigma, sketch_jaccard
from probminhash_spark.kernels.probminhash import probminhash3a_batch, probminhash3a_single
from probminhash_spark.kernels.setsketch import (
    SetSketchParams,
    setsketch_batch,
    setsketch_cardinality,
    setsketch_jaccard_mle_b1,
    setsketch_merge,
)
from probminhash_spark.kernels.superminhash import superminhash_batch, superminhash_single

U64 = np.uint64

# canonical fixture (FIXTURES.md F2, superminhasher.rs:324-365):
# va = 0..999, vb = 900..1999  ->  J = 100/2000 = 0.05
VA = np.arange(0, 1000, dtype=np.int64).astype(U64)
VB = np.arange(900, 2000, dtype=np.int64).astype(U64)
J_AB = 100 / 2000


def test_superminhash_range_fixture_3sigma():
    m = 2000
    ska, _ = superminhash_single(VA, m, hasher="fnv1a64")
    skb, _ = superminhash_single(VB, m, hasher="fnv1a64")
    jhat = sketch_jaccard(ska, skb)
    assert abs(jhat - J_AB) < 3 * sigma(J_AB, m)


def test_superminhash_winner_equality_matches_value_equality():
    m = 500
    ska, wina = superminhash_single(VA, m)
    skb, winb = superminhash_single(VB, m)
    assert np.array_equal(ska == skb, wina == winb)


def test_superminhash_batch_equals_single():
    m = 128
    doc_idx = np.concatenate([np.zeros(VA.size, np.int64), np.ones(VB.size, np.int64)])
    items = np.concatenate([VA, VB])
    vals, win = superminhash_batch(doc_idx, items, 2, m, hasher="fnv1a64")
    sa, wa = superminhash_single(VA, m, hasher="fnv1a64")
    sb, wb = superminhash_single(VB, m, hasher="fnv1a64")
    assert np.array_equal(vals[0], sa) and np.array_equal(vals[1], sb)
    assert np.array_equal(win[0], wa) and np.array_equal(win[1], wb)


def test_superminhash_chunking_invariant():
    """Processing items across chunk boundaries must not change the sketch
    (the conservative a_upper argument, superminhasher.rs:221-237)."""
    m = 64
    v1, w1 = superminhash_batch(
        np.zeros(VA.size, np.int64), VA, 1, m, lanes_per_chunk=37
    )
    v2, w2 = superminhash_batch(
        np.zeros(VA.size, np.int64), VA, 1, m, lanes_per_chunk=100_000
    )
    assert np.array_equal(v1, v2) and np.array_equal(w1, w2)


def test_probminhash3a_equal_weights_reduces_to_jaccard():
    # probminhash3.rs:396-467: equal weights -> plain Jaccard
    m = 1000
    siga, _ = probminhash3a_single(VA, np.full(VA.size, 20.0), m)
    sigb, _ = probminhash3a_single(VB, np.full(VB.size, 20.0), m)
    jhat = sketch_jaccard(siga, sigb)
    assert abs(jhat - J_AB) < 3 * sigma(J_AB, m)


def test_probminhash3a_unequal_weights_jp_oracle():
    # probminhash3.rs:471-540: wa = 2i for i<70; wb = i^4 for i>=50, m=2000
    m = 2000
    ia = np.arange(70, dtype=np.int64)
    wa = 2.0 * ia
    ib = np.arange(50, 100, dtype=np.int64)
    wb = ib.astype(np.float64) ** 4
    jp = exact_weighted_jaccard(
        {int(i): float(w) for i, w in zip(ia, wa)},
        {int(i): float(w) for i, w in zip(ib, wb)},
    )
    siga, _ = probminhash3a_single(ia.astype(U64), wa, m)
    sigb, _ = probminhash3a_single(ib.astype(U64), wb, m)
    jhat = sketch_jaccard(siga, sigb)
    assert abs(jhat - jp) < 3 * sigma(jp, m)


def test_probminhash3a_batch_equals_single_and_orderfree():
    m = 256
    ia = np.arange(1, 71, dtype=np.int64).astype(U64)
    wa = np.linspace(1, 10, 70)
    sig1, v1 = probminhash3a_single(ia, wa, m)
    # shuffled input order must give the identical signature (§1.2 determinism)
    perm = np.random.default_rng(0).permutation(70)
    sig2, v2 = probminhash3a_single(ia[perm], wa[perm], m)
    assert np.array_equal(sig1, sig2)
    assert np.array_equal(v1, v2)
    # and batched with other docs
    doc_idx = np.concatenate([np.zeros(70, np.int64), np.ones(70, np.int64)])
    items = np.concatenate([ia, ia + U64(1000)])
    ws = np.concatenate([wa, wa])
    sigs, _ = probminhash3a_batch(doc_idx, items, ws, 2, m, hasher="fnv1a64")
    assert np.array_equal(sigs[0], sig1)


def test_probminhash3a_all_slots_filled():
    m = 64
    sig, vals = probminhash3a_single(VA, np.ones(VA.size), m)
    assert np.isfinite(vals).all()
    assert (sig != 0).all() or (VA == 0).any()


def test_optdens_range_fixture_3sigma():
    m = 2500
    doc_idx = np.concatenate([np.zeros(VA.size, np.int64), np.ones(VB.size, np.int64)])
    items = np.concatenate([VA, VB])
    vals, win = optdens_minhash_batch(doc_idx, items, 2, m, hasher="fnv1a64")
    jhat = sketch_jaccard(win[0], win[1])
    # densification adds variance at m > n; allow 4 sigma
    assert abs(jhat - J_AB) < 4 * sigma(J_AB, m)


def test_optdens_no_empty_bins():
    m = 512
    vals, win = optdens_minhash_batch(
        np.zeros(100, np.int64), np.arange(100, dtype=np.int64).astype(U64), 1, m
    )
    assert (vals[0] < float(np.uint32(0xFFFFFFFF))).all()


def test_setsketch_jaccard_and_bounds():
    # setsketcher.rs:758-804 analogue
    p = SetSketchParams(m=2000)
    doc_idx = np.concatenate([np.zeros(VA.size, np.int64), np.ones(VB.size, np.int64)])
    items = np.concatenate([VA, VB])
    regs = setsketch_batch(doc_idx, items, 2, p, hasher="fnv1a64")
    jhat = sketch_jaccard(regs[0], regs[1])
    lo, hi = p.jaccard_bounds(jhat)
    assert lo <= hi
    assert abs(jhat - J_AB) < 4 * sigma(J_AB, p.m)


def test_setsketch_cardinality_with_repetitions():
    # setsketcher.rs:878-901: duplicates must not change the estimate
    p = SetSketchParams(m=1024)
    n = 20_000
    items = np.arange(n, dtype=np.int64).astype(U64)
    items_rep = np.concatenate([items, items, items[: n // 2]])
    regs1 = setsketch_batch(np.zeros(items.size, np.int64), items, 1, p)
    regs2 = setsketch_batch(np.zeros(items_rep.size, np.int64), items_rep, 1, p)
    assert np.array_equal(regs1, regs2)
    card, rel = setsketch_cardinality(regs1[0], p)
    assert abs(card - n) / n < 4 * rel


def test_setsketch_merge_is_union():
    # setsketcher.rs:905-961: merge == sketch of union
    p = SetSketchParams(m=1024)
    items_u = np.unique(np.concatenate([VA, VB]))
    ra = setsketch_batch(np.zeros(VA.size, np.int64), VA, 1, p)
    rb = setsketch_batch(np.zeros(VB.size, np.int64), VB, 1, p)
    ru = setsketch_batch(np.zeros(items_u.size, np.int64), items_u, 1, p)
    assert np.array_equal(setsketch_merge(ra, rb), ru)


def test_setsketch_mle_b1_close_on_moderate_j():
    p = SetSketchParams(m=4096)
    va = np.arange(0, 10_000, dtype=np.int64).astype(U64)
    vb = np.arange(5_000, 15_000, dtype=np.int64).astype(U64)
    j = 5_000 / 15_000
    ra = setsketch_batch(np.zeros(va.size, np.int64), va, 1, p)
    rb = setsketch_batch(np.zeros(vb.size, np.int64), vb, 1, p)
    jmle = setsketch_jaccard_mle_b1(ra[0], rb[0], p)
    assert abs(jmle - j) < 6 * sigma(j, p.m)


@pytest.mark.parametrize("m", [2, 16])
def test_probminhash3a_tiny_m(m):
    sig, vals = probminhash3a_single(
        np.array([5, 9], dtype=U64), np.array([1.0, 3.0]), m
    )
    assert np.isfinite(vals).all()


def test_setsketch_mle_golden_section_low_j():
    """S21 (setsketcher.rs:571-672) mirrored on the reference's own low-J
    regime (test_mle_1, setsketcher.rs:967-1019): va=0..1000, vb=995..2000,
    m=6000, J_exact = 5/2000 = 0.0025."""
    from probminhash_spark.kernels.setsketch import setsketch_jaccard_mle

    p = SetSketchParams(m=6000)
    va = np.arange(0, 1000, dtype=np.int64).astype(U64)
    vb = np.arange(995, 2000, dtype=np.int64).astype(U64)
    jexact = 5 / 2000
    ra = setsketch_batch(np.zeros(va.size, np.int64), va, 1, p, hasher="fnv1a64")
    rb = setsketch_batch(np.zeros(vb.size, np.int64), vb, 1, p, hasher="fnv1a64")
    jac = sketch_jaccard(ra[0], rb[0])
    s = sigma(jexact, p.m)
    assert 0.0 <= jac < jexact + 3 * s  # the reference's own acceptance
    jmle = setsketch_jaccard_mle(ra[0], rb[0], p)
    assert abs(jmle - jexact) < 5 * s, (jmle, jexact, s)
    # at b=1.001 the golden-section MLE and the closed-form b->1 MLE agree
    jb1 = setsketch_jaccard_mle_b1(ra[0], rb[0], p)
    assert abs(jmle - jb1) < 3e-3, (jmle, jb1)


def test_setsketch_mle_batch_matches_scalar():
    from probminhash_spark.kernels.setsketch import (
        setsketch_jaccard_mle,
        setsketch_jaccard_mle_b1,
    )

    p = SetSketchParams(m=512)
    rng = np.random.default_rng(4)
    pairs_a, pairs_b = [], []
    for lo in (0, 2000, 5000):
        va = rng.integers(0, 1 << 62, 3000, dtype=np.int64).astype(U64)
        vb = np.concatenate([va[lo // 2 :], rng.integers(0, 1 << 62, lo, dtype=np.int64).astype(U64)])
        ra = setsketch_batch(np.zeros(va.size, np.int64), va, 1, p)
        rb = setsketch_batch(np.zeros(vb.size, np.int64), vb, 1, p)
        pairs_a.append(ra[0])
        pairs_b.append(rb[0])
    A, B = np.stack(pairs_a), np.stack(pairs_b)
    batch = setsketch_jaccard_mle(A, B, p)
    batch_b1 = setsketch_jaccard_mle_b1(A, B, p)
    for i in range(3):
        assert abs(batch[i] - setsketch_jaccard_mle(A[i], B[i], p)) < 1e-12
        assert abs(batch_b1[i] - setsketch_jaccard_mle_b1(A[i], B[i], p)) < 1e-12
