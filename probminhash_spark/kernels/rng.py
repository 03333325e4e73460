"""Vectorized counter/stream RNG primitives mirroring the reference's RNG stack.

The Rust reference seeds one ``Xoshiro256PlusPlus`` per element from the
element's 64-bit hash (``probminhash3.rs:90-91``, ``superminhasher.rs:191-195``,
``setsketcher.rs:293-297``) so that every signature is a pure function of the
input set.  We reproduce that contract with numpy ``uint64`` lanes: one RNG
*lane* per element, all lanes stepped together.

Implemented bit-level algorithms (all public):
- SplitMix64 (Steele et al.) — used by ``rand_xoshiro``'s ``seed_from_u64``.
- Xoshiro256++ (Blackman & Vigna 2019) — ``rotl(s0+s3,23)+s0`` output fn.
- ``rand``'s half-open float mapping: 52 mantissa bits -> [1,2) -> minus 1.
- Lemire widening-multiply rejection for bounded ints (rand 0.9 UniformInt).

Note: the sandbox has no network, so cargo cannot build the reference to dump
golden vectors; these implementations follow the published algorithms and are
validated by the same statistical acceptance tests the reference uses
(see ``tests/test_kernels_rng.py``).
"""

from __future__ import annotations

import numpy as np

U64 = np.uint64
_GOLDEN = U64(0x9E3779B97F4A7C15)
_MIX1 = U64(0xBF58476D1CE4E5B9)
_MIX2 = U64(0x94D049BB133111EB)

# numpy integer ops wrap mod 2^64 which is exactly what we want.  Array
# arithmetic wraps silently; only numpy *scalar* arithmetic warns, so the
# over/underflow warnings are silenced locally where scalars combine (or an
# input may be 0-d), never per step of a lane-stepping loop.
_err = dict(over="ignore", under="ignore")


def splitmix64_mix(z: np.ndarray) -> np.ndarray:
    """The SplitMix64 output mixing function (also a strong u64->u64 hash)."""
    with np.errstate(**_err):
        z = (z ^ (z >> U64(30))) * _MIX1
        z = (z ^ (z >> U64(27))) * _MIX2
        return z ^ (z >> U64(31))


def splitmix64_stream(seed: np.ndarray, n: int) -> np.ndarray:
    """First ``n`` outputs of SplitMix64 for each seed lane -> shape (*seed, n)."""
    seed = np.asarray(seed, dtype=U64)
    out = np.empty(seed.shape + (n,), dtype=U64)
    state = seed.copy()
    with np.errstate(**_err):
        for i in range(n):
            state = state + _GOLDEN
            out[..., i] = splitmix64_mix(state)
    return out


def _rotl(x: np.ndarray, k: int) -> np.ndarray:
    """Rotate every lane of the (>= 1-D) ``x`` left by ``k`` bits."""
    k = U64(k)
    return (x << k) | (x >> (U64(64) - k))


class Xoshiro256pp:
    """Vectorized Xoshiro256++ — one independent generator lane per element.

    Mirrors ``Xoshiro256PlusPlus::seed_from_u64`` (SplitMix64-filled state,
    rand_xoshiro 0.7) and ``next_u64``.  All lane-stepping methods accept an
    optional boolean ``mask``; unmasked lanes do not advance, which is how the
    data-dependent per-item loops of the reference are vectorized.
    """

    __slots__ = ("s",)

    def __init__(self, seeds: np.ndarray):
        seeds = np.atleast_1d(np.asarray(seeds, dtype=U64))
        self.s = splitmix64_stream(seeds, 4)  # (n, 4)

    @classmethod
    def from_state(cls, state: np.ndarray) -> "Xoshiro256pp":
        """Resume lanes from an (n, 4) state array (shared, not copied) —
        e.g. the surviving rows of an earlier generator's ``s``."""
        rng = object.__new__(cls)
        rng.s = state
        return rng

    @property
    def n(self) -> int:
        return self.s.shape[0]

    def next_u64(self, mask: np.ndarray | None = None) -> np.ndarray:
        s = self.s
        s0, s1, s2, s3 = s[:, 0], s[:, 1], s[:, 2], s[:, 3]
        result = _rotl(s0 + s3, 23) + s0
        t = s1 << U64(17)
        n2 = s2 ^ s0
        n3 = s3 ^ s1
        n1 = s1 ^ n2
        n0 = s0 ^ n3
        n2 = n2 ^ t
        n3 = _rotl(n3, 45)
        if mask is None:
            s[:, 0], s[:, 1], s[:, 2], s[:, 3] = n0, n1, n2, n3
        else:
            s[:, 0] = np.where(mask, n0, s0)
            s[:, 1] = np.where(mask, n1, s1)
            s[:, 2] = np.where(mask, n2, s2)
            s[:, 3] = np.where(mask, n3, s3)
        return result

    def next_f64(self, mask: np.ndarray | None = None) -> np.ndarray:
        """Uniform [0,1) exactly as rand's ``Uniform<f64>::new(0.,1.)``:
        top 52 bits -> mantissa of a [1,2) float, minus 1."""
        bits = self.next_u64(mask)
        mant = bits >> U64(12)
        return (mant | U64(0x3FF0000000000000)).view(np.float64) - 1.0

    def next_below(self, bound: int, mask: np.ndarray | None = None) -> np.ndarray:
        """Uniform integer in [0, bound) via Lemire widening-multiply rejection
        (the method rand 0.9's ``UniformInt`` uses).  Vectorized with masked
        retry loops so each lane consumes exactly as many draws as a scalar
        implementation would."""
        bound_u = U64(bound)
        with np.errstate(**_err):
            thresh = (U64(0) - bound_u) % bound_u  # (2^64 - bound) mod bound
        pending = np.ones(self.n, dtype=bool) if mask is None else mask.copy()
        out = np.zeros(self.n, dtype=U64)
        while pending.any():
            x = self.next_u64(pending)
            hi, lo = _umul128(x, bound_u)
            ok = pending & (lo >= thresh)
            out[ok] = hi[ok]
            pending &= ~ok
        return out

    def next_in_range(
        self, low: np.ndarray | int, high: int, mask: np.ndarray | None = None
    ) -> np.ndarray:
        """Uniform integer in [low, high) with per-lane ``low`` (SuperMinHash
        draws ``Uniform::new(j, m)`` with a per-iteration ``j``,
        ``superminhasher.rs:203-205``)."""
        low_arr = np.broadcast_to(np.asarray(low, dtype=U64), (self.n,))
        rng_sz = U64(high) - low_arr
        with np.errstate(**_err):
            thresh = (U64(0) - rng_sz) % np.maximum(rng_sz, U64(1))
        pending = np.ones(self.n, dtype=bool) if mask is None else mask.copy()
        out = low_arr.copy()
        while pending.any():
            x = self.next_u64(pending)
            hi, lo = _umul128(x, rng_sz)
            ok = pending & (lo >= thresh)
            out[ok] = low_arr[ok] + hi[ok]
            pending &= ~ok
        return out


class FYWalk:
    """Lazy Fisher-Yates walk over m slots (``fyshuffle.rs:37-49``), one lane
    per item: a row of a ``(lanes, m)`` permutation matrix plus an
    item-seeded Xoshiro256++ stream.  ``take(j, idx)`` swaps positions ``j``
    and ``idx >= j`` and returns the slot now at ``j``, so a lane visits slots
    without replacement.  Per-lane arrays passed as keywords (or to
    ``track``) read as attributes; ``keep(live)`` compacts the rng state and
    every one of them to the live lanes, so a round costs O(live lanes) and
    a dropped lane's skipped draws touch no other lane's stream.
    """

    def __init__(self, seeds: np.ndarray, m: int, **lanes: np.ndarray):
        self.m = m
        self.rng = Xoshiro256pp(seeds)
        self._p = np.tile(np.arange(m, dtype=np.int32), (self.rng.n, 1))
        self._row = np.arange(self.rng.n)  # live lane -> row of _p
        self._names = ()
        self.track(**lanes)

    @classmethod
    def chunks(cls, seeds: np.ndarray, m: int, size: int, **lanes: np.ndarray):
        """One walker per ``size`` consecutive lanes: the permutation matrix
        stays ``size x m`` however many items there are."""
        for lo in range(0, seeds.shape[0], size):
            yield cls(seeds[lo : lo + size], m, **{k: v[lo : lo + size] for k, v in lanes.items()})

    def track(self, **lanes: np.ndarray) -> None:
        self._names += tuple(lanes)
        self.__dict__.update(lanes)

    def keep(self, live: np.ndarray) -> bool:
        """Drop the lanes where ``live`` is False; False once none is left."""
        if live.all():
            return True
        if not live.any():
            return False
        self.rng.s = self.rng.s[live]
        self._row = self._row[live]
        for name in self._names:
            setattr(self, name, getattr(self, name)[live])
        return True

    def take(self, j: int | np.ndarray, idx: np.ndarray) -> np.ndarray:
        """Swap positions ``j`` and ``idx`` (scalar or per-lane ``j``) and
        return the slot now at ``j``, as int64."""
        row, p = self._row, self._p
        slot = p[row, idx]
        p[row, idx] = p[row, j]
        p[row, j] = slot
        return slot.astype(np.int64)

    def next_slot(self, j: int | np.ndarray) -> np.ndarray:
        """``take`` at the u01-mapped index ``j + floor(u (m - j))``
        (``fyshuffle.rs:42-44``), one ``next_f64`` per lane."""
        u = self.rng.next_f64()
        return self.take(j, np.minimum(j + (u * (self.m - j)).astype(np.int64), self.m - 1))


def _umul128(a: np.ndarray, b: np.ndarray | np.uint64):
    """Full 64x64 -> 128-bit multiply returning (hi, lo) via 32-bit limbs."""
    M32 = U64(0xFFFFFFFF)
    with np.errstate(**_err):
        a_lo, a_hi = a & M32, a >> U64(32)
        b = np.asarray(b, dtype=U64)
        b_lo, b_hi = b & M32, b >> U64(32)
        ll = a_lo * b_lo
        lh = a_lo * b_hi
        hl = a_hi * b_lo
        hh = a_hi * b_hi
        cross = (ll >> U64(32)) + (lh & M32) + (hl & M32)
        hi = hh + (lh >> U64(32)) + (hl >> U64(32)) + (cross >> U64(32))
        lo = (cross << U64(32)) | (ll & M32)
    return hi, lo


class ExpRestricted01:
    """Exponential(lambda) restricted to [0,1) — Ertl's rejection sampler,
    vectorized port of ``exp01.rs:23-73`` (regions A3/A5/A6)."""

    def __init__(self, lam: float):
        self.lam = lam
        self.c1 = np.expm1(lam) / lam
        self.c2 = np.log(2.0 / (1.0 + np.exp(-lam))) / lam
        self.c3 = (1.0 - np.exp(-lam)) / lam

    def sample(self, rng: Xoshiro256pp, mask: np.ndarray | None = None) -> np.ndarray:
        n = rng.n
        active = np.ones(n, dtype=bool) if mask is None else mask.copy()
        out = np.zeros(n, dtype=np.float64)
        x = self.c1 * rng.next_f64(active)
        fast = active & (x < 1.0)
        out[fast] = x[fast]
        pending = active & ~fast
        lam, c1, c2, c3 = self.lam, self.c1, self.c2, self.c3
        while pending.any():
            x = rng.next_f64(pending)
            take = pending & (x < c2)
            out[take] = x[take]
            pending &= ~take
            y = 0.5 * rng.next_f64(pending)
            flip = pending & (y > 1.0 - x)
            x = np.where(flip, 1.0 - x, x)
            y = np.where(flip, 1.0 - y, y)
            t1 = pending & (x <= c3 * (1.0 - y))
            out[t1] = x[t1]
            pending &= ~t1
            t2 = pending & (c1 * y <= 1.0 - x)
            out[t2] = x[t2]
            pending &= ~t2
            with np.errstate(over="ignore", invalid="ignore"):
                t3 = pending & (y * c1 * lam <= np.expm1(lam * (1.0 - x)))
            out[t3] = x[t3]
            pending &= ~t3
        return out


def exp1(rng: Xoshiro256pp, mask: np.ndarray | None = None) -> np.ndarray:
    """Standard Exponential(1) by inverse CDF.

    Deviation from the reference: ``setsketcher.rs:306`` samples ``Exp1`` via
    rand_distr's Ziggurat; we use ``-ln(1-U)`` which is distribution-identical
    but not stream-identical.  SetSketch estimates are statistical, so the
    acceptance tests (3-sigma, mirroring ``setsketcher.rs:758-804``) still
    pin behavior.
    """
    u = rng.next_f64(mask)
    return -np.log1p(-u)
