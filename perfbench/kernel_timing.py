"""Single-core timings of the public kernel functions, called directly.

Each kernel runs on the workload's own documents in batches that grow to the
session's Arrow batch size (1,024 rows), stopping once a per-kernel time
budget is spent, so the slow kernels (SetSketch) are timed on a prefix.  Only
the kernel call is timed; its shingling runs untimed before it, except for
``shingles``, which times exactly that step.
"""

from __future__ import annotations

import time

import numpy as np

from probminhash_spark.config import DedupConfig
from probminhash_spark.kernels import (
    SetSketchParams,
    dedupe_counts,
    optdens_minhash_batch,
    probminhash2_batch,
    probminhash3a_batch,
    revoptdens_minhash_batch,
    setsketch_batch,
    shingle_batch,
    superminhash_batch,
    token_hashes,
)
from probminhash_spark.kernels.probordminhash2 import probordminhash2_batch

ARROW_BATCH = 1024
_CFG = DedupConfig()


def _shingles(texts):
    return shingle_batch(texts, _CFG.shingle_mode, _CFG.shingle_size)


def _timed(prepare, call):
    """prepare(texts) -> args (untimed); call(n, *args) (timed)."""

    def run(texts):
        args = prepare(texts)
        t0 = time.perf_counter()
        call(len(texts), *args)
        return time.perf_counter() - t0

    return run


def _weighted(texts):
    d, h, c = dedupe_counts(*_shingles(texts))
    return d, h, c.astype(np.float64)


def _tokens(texts, l=2):
    # the driver query's padding: docs shorter than l tokens get zero hashes
    d, th = token_hashes(texts)
    counts = np.bincount(d, minlength=len(texts))
    short = np.nonzero(counts < l)[0]
    if short.size:
        pad = np.repeat(short, l - counts[short])
        d = np.concatenate([d, pad])
        th = np.concatenate([th, np.zeros(pad.size, dtype=np.uint64)])
        order = np.argsort(d, kind="stable")
        d, th = d[order], th[order]
    return d, th


# kernel -> timing function; signature lengths follow the calling surface
# (the pipeline's DedupConfig for optdens, the driver queries for the rest)
KERNELS = {
    "shingles": _timed(lambda t: (t,), lambda n, t: _shingles(t)),
    "optdens": _timed(
        _shingles, lambda n, d, h: optdens_minhash_batch(d, h, n, _CFG.num_hashes, _CFG.hasher)
    ),
    "setsketch": _timed(
        lambda t: dedupe_counts(*_shingles(t))[:2],
        lambda n, d, h: setsketch_batch(d, h, n, SetSketchParams(m=_CFG.setsketch_m), "nohash"),
    ),
    "probminhash3a": _timed(
        _weighted, lambda n, d, h, w: probminhash3a_batch(d, h, w, n, 64, "nohash")
    ),
    "probminhash2": _timed(
        _weighted, lambda n, d, h, w: probminhash2_batch(d, h, w, n, 64, "nohash")
    ),
    "superminhash": _timed(
        _shingles, lambda n, d, h: superminhash_batch(d, h, n, 64, "nohash")
    ),
    "revoptdens": _timed(
        _shingles, lambda n, d, h: revoptdens_minhash_batch(d, h, n, 64, "nohash")
    ),
    "probordminhash2": _timed(
        _tokens, lambda n, d, th: probordminhash2_batch(d, th, n, 16, 2, 0x5EED)
    ),
}


def kernel_rates(texts: list[str], budget_s: float = 0.5) -> dict[str, float]:
    """Kernel -> documents per second, single core."""
    out = {}
    for name, run in KERNELS.items():
        run(texts[:4])  # first-call costs stay out of the rate
        done, spent, size = 0, 0.0, 32
        while done < len(texts) and spent < budget_s:
            chunk = texts[done : done + size]
            spent += run(chunk)
            done += len(chunk)
            size = min(ARROW_BATCH, size * 2)
        out[name] = done / spent
    return out
