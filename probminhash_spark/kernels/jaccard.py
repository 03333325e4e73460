"""Jaccard estimators + exact oracles (ports of ``jaccard.rs`` and the
reference's in-test exact computations).
"""

from __future__ import annotations

import numpy as np


def sketch_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Equal-slot fraction Ĵ = #equal / m (``jaccard.rs:9-19``, ``:27-41``) —
    the one estimator for every sketch family: minhash slots, SuperMinHash
    values (``superminhasher.rs:278-302``) and SetSketch registers."""
    sig_a = np.asarray(sig_a)
    sig_b = np.asarray(sig_b)
    assert sig_a.shape == sig_b.shape, "unequal sketch lengths"
    return float(np.mean(sig_a == sig_b))


def exact_jaccard(set_a, set_b) -> float:
    """Exact set Jaccard |A∩B| / |A∪B| (brute-force oracle)."""
    a, b = set(set_a), set(set_b)
    if not a and not b:
        return 1.0
    return len(a & b) / len(a | b)


def exact_weighted_jaccard(wa: dict, wb: dict) -> float:
    """Ertl's exact J_p = Σ_i [wa_i>0 ∧ wb_i>0] / Σ_j max(wa_j/w_i, wb_j/w_i)
    — the O(n²) oracle used by the reference's tests
    (``probminhash3.rs:514-528``, ``probminhash2.rs:190-204``)."""
    keys = sorted(set(wa) | set(wb))
    jp = 0.0
    for i in keys:
        wa_i = wa.get(i, 0.0)
        wb_i = wb.get(i, 0.0)
        if wa_i > 0.0 and wb_i > 0.0:
            den = 0.0
            for j in keys:
                wa_j = wa.get(j, 0.0)
                wb_j = wb.get(j, 0.0)
                den += max(wa_j / wa_i, wb_j / wb_i)
            jp += 1.0 / den
    return jp


def sigma(j: float, m: int) -> float:
    """Estimator std-dev model σ = sqrt(J(1-J)/m) used by every reference
    acceptance test (e.g. ``superminhasher.rs:356``, ``setsketcher.rs:795``)."""
    return float(np.sqrt(j * (1.0 - j) / m))
