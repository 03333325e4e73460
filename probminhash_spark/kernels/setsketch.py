"""Vectorized SetSketch1 (Ertl, arXiv:2101.00314) — port of ``setsketcher.rs``.

Per item the reference walks ``j = 0..m-1`` drawing exponential spacings
``x_j = x_{j-1} + (1/a)/(m-j) * Exp1`` and register values
``z = min(q+1, floor(1 - log_b(x_j)))``, placed at a slot chosen by a lazy
Fisher-Yates permutation, keeping the per-slot **max** with two early exits on
the running register minimum ``lower_k`` (``setsketcher.rs:291-368``).

Batch equivalence: ``x_j`` increases, so per-item candidate register values
decrease with ``j``; every candidate skipped by the early exits satisfies
``k <= lower_k_t <=`` all current registers and can never raise a register.
Using a conservative (stale, smaller) per-doc ``lower_k`` refreshed between
lane chunks therefore evaluates a superset of the reference's candidates and
produces the identical register vector.

Documented deviation: ``Exp1`` is sampled by inverse CDF instead of
rand_distr's Ziggurat, and the FY index uses the same u01 mapping as
``fyshuffle.rs:42-44`` — distribution-identical, stream-different; all
estimator behavior is pinned by the reference's own 3-sigma acceptance tests
(mirrored in tests/).

Default parameters b=1.001, m=4096, a=20, q=65534 fit registers in u16
(``setsketcher.rs:72-81``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .hashes import hash_u64
from .rng import Xoshiro256pp, exp1

U64 = np.uint64


@dataclass(frozen=True)
class SetSketchParams:
    """``SetSketchParams`` (``setsketcher.rs:60-91``)."""

    b: float = 1.001
    m: int = 4096
    a: float = 20.0
    q: int = 2**16 - 2

    @property
    def lnb(self) -> float:
        return float(np.log1p(self.b - 1.0))

    def jaccard_bounds(self, jac: float) -> tuple[float, float]:
        """Lower/upper J bounds from register-equality rate
        (``setsketcher.rs:123-139``)."""
        assert jac <= 1.0
        b_aux = self.b ** (jac * 0.5)
        jsup = (b_aux * b_aux - 1.0) / (self.b - 1.0)
        b_inf = 2.0 * (b_aux * np.sqrt(self.b) - 1.0) / (self.b - 1.0) - 1.0
        return (max(b_inf, 0.0), jsup)


def setsketch_batch(
    doc_idx: np.ndarray,
    item_hash: np.ndarray,
    ndocs: int,
    params: SetSketchParams | None = None,
    hasher: str = "nohash",
    lanes_per_chunk: int | None = None,
) -> np.ndarray:
    """Register vectors (ndocs, m) uint16 for a batch of unweighted sets.

    Min-reduce formulation: register[k] = min(q+1, floor(1 - log_b(xmin_k)))
    where ``xmin_k`` is the minimum of the per-item exponential chain values
    that land on slot ``k``, because z(x) is monotone decreasing in x.  So
    the inner loop only accumulates raw x minima per (doc, slot) — two rng
    draws and one scatter-min per candidate, NO per-candidate log/floor —
    and a single log evaluates on the reduced (ndocs, m) matrix at the end.

    Equivalence with the reference's early-exit walk
    (``setsketcher.rs:291-368``): each item's draw stream is a fixed prefix
    (e_j, u_j) and the early exits only choose where the prefix stops; every
    candidate the reference skips satisfies z <= lower_k <= all final
    registers, so evaluating the full superset of candidates leaves every
    per-slot max (= z of per-slot min x) unchanged.  At the reference's own
    parameters (a=20) the exit thresholds b^-lower_k are rarely reachable
    within m rounds anyway, so the superset costs ~nothing and removes all
    alive-lane bookkeeping from the hot loop (~3x).
    """
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


def setsketch_cardinality(regs: np.ndarray, params: SetSketchParams | None = None):
    """Distinct-count estimate + relative std dev (``setsketcher.rs:403-412``).

    Accepts (m,) or (ndocs, m); returns scalars or per-doc arrays.
    """
    p = params or SetSketchParams()
    r = np.asarray(regs, dtype=np.float64)
    sumbk = np.exp(-r * p.lnb).sum(axis=-1)
    card = p.m * (1.0 - 1.0 / p.b) / (p.a * p.lnb * sumbk)
    rel_std = np.sqrt(((p.b + 1.0) / (p.b - 1.0) * p.lnb - 1.0) / p.m)
    return card, rel_std


def setsketch_merge(regs_a: np.ndarray, regs_b: np.ndarray) -> np.ndarray:
    """Union sketch = element-wise max (``setsketcher.rs:428-446``)."""
    return np.maximum(regs_a, regs_b)


def setsketch_jaccard_mle_b1(
    regs_a: np.ndarray,
    regs_b: np.ndarray,
    params: SetSketchParams | None = None,
) -> float:
    """Closed-form b->1 joint MLE of J — exact port of
    ``setsketcher.rs:674-713`` (S22): register comparison counts (D+, D-, D=)
    combined with the two cardinality estimates; cheap and vectorizable,
    preferred in Spark over the golden-section search of
    ``setsketcher.rs:571-672`` (S21 -> S22 substitution, SURVEY.md §7)."""
    p = params or SetSketchParams()
    a = np.atleast_2d(np.asarray(regs_a, dtype=np.float64))
    b = np.atleast_2d(np.asarray(regs_b, dtype=np.float64))
    card1, _ = setsketch_cardinality(a, p)
    card2, _ = setsketch_cardinality(b, p)
    u = card1 / (card1 + card2)
    v = card2 / (card1 + card2)
    dplus = (a > b).sum(axis=1).astype(np.float64)
    dless = (a < b).sum(axis=1).astype(np.float64)
    dequal = (a == b).sum(axis=1).astype(np.float64)
    aux = (u * u * (dless + dequal) - v * v * (dplus + dequal)) ** 2
    j = (
        u * u * (dless + dequal)
        + v * v * (dplus + dequal)
        - np.sqrt(aux + 4.0 * dless * dplus * (u * v) * (u * v))
    )
    j = j / (2.0 * u * v * p.m)
    return j if np.asarray(regs_a).ndim > 1 else float(j[0])


def _pb(x: np.ndarray, b: float, lnb: float) -> np.ndarray:
    """Slot-disagreement probability term (``setsketcher.rs:490-501``):
    pb(x) = -ln1p(-x(b-1)/b)/ln(b) for x<=0, -ln(1-x(b-1)/b)/ln(b) for x>0."""
    x = np.asarray(x, dtype=np.float64)
    arg = x * (b - 1.0) / b
    out = np.empty_like(x)
    le0 = x <= 0.0
    with np.errstate(invalid="ignore", divide="ignore"):
        out[le0] = -np.log1p(-arg[le0]) / lnb
        out[~le0] = -np.log(1.0 - arg[~le0]) / lnb
    return out


def setsketch_jaccard_mle(
    regs_a: np.ndarray,
    regs_b: np.ndarray,
    params: SetSketchParams | None = None,
    max_iters: int = 100,
    tol: float = 1e-12,
) -> np.ndarray:
    """Joint maximum-likelihood Jaccard (S21, ``setsketcher.rs:571-672``,
    cost ``:506-520``; Ertl arXiv:2101.00314 §3.2): golden-section
    minimization of the negative log-likelihood of the register comparison
    counts (D+, D-, D=) given the two cardinality estimates.

    Accepts (m,) or (npairs, m) register arrays and is vectorized over
    pairs — every golden-section iteration shrinks ALL pairs' brackets at
    once (no per-pair Python).  Search interval [0, min(c1/c2, c2/c1)] and
    iteration budget mirror the reference.  Preferred over the closed-form
    ``setsketch_jaccard_mle_b1`` only for precise low-J estimates; both are
    exposed through ``operators.sketch_ops.group_jaccard``.
    """
    p = params or SetSketchParams()
    a = np.atleast_2d(np.asarray(regs_a, dtype=np.float64))
    b2 = np.atleast_2d(np.asarray(regs_b, dtype=np.float64))
    card1, _ = setsketch_cardinality(a, p)
    card2, _ = setsketch_cardinality(b2, p)
    u = card1 / (card1 + card2)
    v = card2 / (card1 + card2)
    dplus = (a > b2).sum(axis=1).astype(np.float64)
    dless = (a < b2).sum(axis=1).astype(np.float64)
    dequal = (a == b2).sum(axis=1).astype(np.float64)
    bpar, lnb = p.b, p.lnb

    def cost(j: np.ndarray) -> np.ndarray:
        pbplus = _pb(u - v * j, bpar, lnb)
        pbless = _pb(v - u * j, bpar, lnb)
        peq = 1.0 - pbplus - pbless
        with np.errstate(invalid="ignore", divide="ignore"):
            ll = (
                np.where(dplus > 0, dplus * np.log(pbplus), 0.0)
                + np.where(dless > 0, dless * np.log(pbless), 0.0)
                + np.where(dequal > 0, dequal * np.log(peq), 0.0)
            )
        return np.where(np.isnan(ll), np.inf, -ll)

    lo = np.zeros(a.shape[0])
    ratio = card1 / card2
    hi = np.minimum(ratio, 1.0 / ratio)
    gr = (np.sqrt(5.0) - 1.0) / 2.0
    x1 = hi - gr * (hi - lo)
    x2 = lo + gr * (hi - lo)
    f1, f2 = cost(x1), cost(x2)
    for _ in range(max_iters):
        if np.all(hi - lo < tol):
            break
        left = f1 < f2
        hi = np.where(left, x2, hi)
        lo = np.where(left, lo, x1)
        # standard golden-section recurrence: the surviving interior point
        # becomes the far point of the new bracket (left: x2' = x1, f2' = f1;
        # right: x1' = x2, f1' = f2) and ONE new point is evaluated per
        # iteration — half the likelihood evaluations of re-evaluating both.
        x_new = np.where(left, hi - gr * (hi - lo), lo + gr * (hi - lo))
        f_new = cost(x_new)
        x1, x2 = np.where(left, x_new, x2), np.where(left, x1, x_new)
        f1, f2 = np.where(left, f_new, f2), np.where(left, f1, f_new)
    out = (lo + hi) / 2.0
    return out if np.asarray(regs_a).ndim > 1 else float(out[0])


def setsketch_union_intersection(
    regs_a: np.ndarray,
    regs_b: np.ndarray,
    params: SetSketchParams | None = None,
) -> tuple[float, float]:
    """Union/intersection cardinalities by merge + inclusion-exclusion
    (mergeability use-case of ``setsketcher.rs:905-961``)."""
    p = params or SetSketchParams()
    ca, _ = setsketch_cardinality(regs_a, p)
    cb, _ = setsketch_cardinality(regs_b, p)
    cu, _ = setsketch_cardinality(np.maximum(regs_a, regs_b), p)
    return float(cu), float(max(0.0, ca + cb - cu))
