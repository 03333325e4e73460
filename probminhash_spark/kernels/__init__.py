"""Pure-numpy sketching kernels (no Spark imports).

Each module ports one reference algorithm family; see SURVEY.md §2.1 for the
operator inventory S1-S35 and per-function file:line citations.
"""

from .densminhash import optdens_minhash_batch, revoptdens_minhash_batch
from .hashes import (
    combine64,
    fnv1a64_u64,
    fold_signature,
    hash_u64,
    mix64,
    murmur3_32_u64,
    wang64,
    wang64_inverse,
)
from .probminhash2 import probminhash2_batch, probminhash2_single
from .probordminhash2 import ProbOrdMinHash2
from .jaccard import exact_jaccard, exact_weighted_jaccard, sigma, sketch_jaccard
from .probminhash import probminhash3a_batch, probminhash3a_single
from .rng import ExpRestricted01, Xoshiro256pp, exp1, splitmix64_mix, splitmix64_stream
from .setsketch import (
    SetSketchParams,
    setsketch_batch,
    setsketch_cardinality,
    setsketch_jaccard_mle_b1,
    setsketch_merge,
    setsketch_union_intersection,
)
from .shingles import char_shingles, dedupe_counts, shingle_batch, token_hashes, token_shingles
from .superminhash import superminhash_batch, superminhash_single

__all__ = [name for name in dir() if not name.startswith("_")]
