"""Run configuration for the dedup pipeline.

Mirrors the role of ``SetSketchParams`` dump/reload (``setsketcher.rs:141-193``):
the config is serialized into every stage manifest so a checkpointed sketch
table can never be reused under a different (shingle, signature, band) setup —
the axis the recall criterion in BASELINE.json fixes.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


# Bump when the signature/band-key IDENTITY regime changes (what counts as
# "the same shingle", how elements are digested, how band keys derive from
# slots) — round 4's switch of token+sha shingles to canonical 0x00-joined
# byte digests was such a change.  Persisted streaming band state written
# under a different regime can never match new keys, so resume must refuse.
KEY_REGIME_VERSION = 2

# signature algorithms reachable from the Spark surface; each maps to a
# vectorized kernel in kernels/ (dispatch: functions/sketch_udfs._sketch_batch_np)
_ALGOS = frozenset(
    {
        "optdens",  # OptDensMinHash (densminhash.rs) — production default
        "revoptdens",  # reverse densification — better when m >> set size
        "probminhash3a",  # weighted two-pass (probminhash3a.rs)
        "probminhash2",  # weighted single-pass (probminhash2.rs)
        "superminhash",  # float (level, r) sketch (superminhasher.rs)
        "superminhash2",  # integer (level, r) sketch (superminhasher2.rs)
    }
)


@dataclass(frozen=True)
class DedupConfig:
    # shingling
    shingle_mode: str = "char"  # 'char' | 'token'
    shingle_size: int = 8  # k for char grams / w for token shingles
    # signature
    algo: str = "optdens"  # see _ALGOS below
    num_hashes: int = 128  # m (sketch length); must equal bands * rows
    hasher: str = "nohash"  # element hasher over shingle u64s
    weighted: bool = False  # multiplicity-weighted (ProbMinHash) vs set
    # signature slot width (S25, densminhash.rs:98-166): 64 = raw u64 slots;
    # 32/16/8 fold each slot via murmur3_32 >> (32-bits), shrinking signature
    # storage 2-8x (the sig column becomes array<int|smallint|tinyint>) at the
    # cost of a 2^-bits per-slot collision rate — harmless to recall, and
    # false j_est inflation is removed by exact verification
    sig_bits: int = 64
    # LSH banding
    bands: int = 32
    rows: int = 4
    # verification
    threshold: float = 0.8  # exact-Jaccard dedup threshold
    est_low_cut: float = 0.5  # discard pairs whose estimated J is below this
    # skew policy (SURVEY.md §2.2 candidate generation)
    bucket_cap: int = 2000  # band buckets larger than this are dropped+counted
    setsketch_m: int = 256

    def __post_init__(self):
        if self.bands * self.rows != self.num_hashes:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) must equal num_hashes "
                f"({self.num_hashes})"
            )
        if self.shingle_mode not in ("char", "token"):
            raise ValueError(f"bad shingle_mode {self.shingle_mode!r}")
        if self.algo not in _ALGOS:
            raise ValueError(f"bad algo {self.algo!r}; one of {sorted(_ALGOS)}")
        if self.sig_bits not in (8, 16, 32, 64):
            raise ValueError(f"bad sig_bits {self.sig_bits}; one of 8/16/32/64")

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    def fingerprint(self) -> str:
        """Stable hash of the config — manifests key resume-safety on it."""
        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]

    def sketch_identity(self) -> str:
        """Hash of ONLY the fields that determine signature / band-key
        identity — not thresholds or verify knobs, which may legitimately
        change between resumes of the same state.  Persisted streaming band
        state is keyed on this: resuming under a different identity would
        produce band keys that never match history, silently missing every
        cross-upgrade duplicate (r5 ADVICE medium)."""
        ident = {
            "key_regime": KEY_REGIME_VERSION,
            "shingle_mode": self.shingle_mode,
            "shingle_size": self.shingle_size,
            "algo": self.algo,
            "num_hashes": self.num_hashes,
            "hasher": self.hasher,
            "weighted": self.weighted,
            "sig_bits": self.sig_bits,
            "bands": self.bands,
            "rows": self.rows,
        }
        return hashlib.sha256(
            json.dumps(ident, sort_keys=True).encode()
        ).hexdigest()[:16]
