"""The lane-stepping RNG wraps mod 2^64 without a warning and without a
per-step ``np.errstate``: numpy array arithmetic wraps silently, so only the
places that combine numpy scalars silence over/underflow, and every kernel
path stays clean when warnings are errors."""

import warnings

import numpy as np
import pytest

from probminhash_spark.kernels.densminhash import optdens_minhash_batch
from probminhash_spark.kernels.rng import Xoshiro256pp, exp1
from probminhash_spark.kernels.setsketch import SetSketchParams, setsketch_batch

U64 = np.uint64
# seeds whose first steps overflow both the additions and the shifts
SEEDS = np.array([0, 1, 2**63 + 5, 2**64 - 1, 0x9E3779B97F4A7C15, 12345], dtype=U64)


@pytest.mark.parametrize("lanes", [1, SEEDS.size])
def test_xoshiro_steps_without_warnings(lanes):
    seeds = SEEDS[:lanes]
    mask = np.arange(lanes) % 2 == 0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rng = Xoshiro256pp(seeds)
        draws = [rng.next_u64() for _ in range(64)]
        rng.next_u64(mask)
        assert (rng.next_f64() < 1.0).all()
        assert (rng.next_below(97) < 97).all()
        assert (rng.next_in_range(np.arange(lanes) % 7, 64) < 64).all()
        assert (exp1(rng) >= 0).all()
    # the same stream as a fresh generator stepped the same way
    again = Xoshiro256pp(seeds)
    assert all(np.array_equal(d, again.next_u64()) for d in draws)


@pytest.mark.parametrize("rng_mode", ["mix", "xoshiro"])
def test_sketch_kernels_raise_no_warnings(rng_mode):
    gen = np.random.default_rng(3)
    items = gen.integers(0, 2**63, size=600, dtype=np.int64).astype(U64) * U64(3)
    doc_idx = np.repeat(np.arange(6, dtype=np.int64), 100)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        vals, win = optdens_minhash_batch(doc_idx, items, 6, 128, "fnv1a64", rng_mode)
        setsketch_batch(doc_idx, items, 6, SetSketchParams(m=64), "nohash")
    assert vals.shape == win.shape == (6, 128)
