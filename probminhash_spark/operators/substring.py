"""Substring-level duplicate detection (the "suffix-array substring" axis of
the dedup family, re-expressed Spark-first).

Finding every pair of documents sharing a substring of length >= L is what a
monolithic suffix array gives you single-node (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better").  A 10^12-file suffix array is
not a Spark-shaped object; the equivalent distributed plan is:

1. **Anchor**: winnowing fingerprints (Schleimer et al. 2003) with window
   w = L - k + 1 over char k-gram hashes.  Guarantee: any shared substring of
   length >= w + k - 1 = L contains one complete shared window, whose minimum
   hash is selected on both sides — so the fingerprint sets of the two docs
   intersect.  Candidate recall is 1 by construction.
2. **Bucket**: group by fingerprint hash — one shuffle; viral fingerprints
   (boilerplate headers) hit the same bucket-cap/star skew policy as LSH
   banding (``candidate_pairs``).
3. **Verify**: exact and native — a shared substring of length >= L exists
   iff the docs share a char L-gram, so the verifier is
   ``size(array_intersect(grams_l, grams_r)) > 0`` on char-based L-gram
   arrays (whole-stage codegen, char semantics identical to the DuckDB
   oracle).  At 10^12 scale swap the array verifier for the byte-hash kernel
   (``make_pair_jaccard_udf`` with shingle_size=L) to avoid materializing
   gram strings; byte-length >= char-length keeps the anchor guarantee.

Fingerprint anchoring is byte-based (the winnowing kernel), verification is
char-based: a shared char-L-gram is a shared byte substring of >= L bytes,
which the byte guarantee covers — anchors can only over-generate, never miss.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import DedupConfig
from ..functions.sketch_udfs import make_fingerprint_udf
from .dedup import candidate_pairs, ensure_parallelism, pair_endpoints


def _gram_array(l: int, text_col: str = "content") -> str:
    return (
        f"array_distinct(transform(sequence(1, length({text_col}) - {l - 1}),"
        f" i -> substring({text_col}, i, {l})))"
    )


def substring_dup_pairs(
    docs: DataFrame,
    min_len: int = 20,
    k: int = 8,
    bucket_cap: int = 2000,
    id_col: str = "doc_id",
    content_col: str = "content",
    on_capped: str = "star",
) -> DataFrame:
    """All pairs of docs sharing a substring of length >= ``min_len``.

    Returns (id_l, id_r, n_common_grams) where n_common_grams counts the
    distinct shared char ``min_len``-grams.  ``on_capped="fail"`` raises if
    any fingerprint bucket exceeded ``bucket_cap`` (use wherever the output
    is compared against an all-pairs oracle).
    """
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    window = min_len - k + 1
    eligible = ensure_parallelism(
        docs.where(F.length(content_col) >= min_len).select(id_col, content_col)
    )
    fp = make_fingerprint_udf(window=window, k=k)
    anchors = eligible.select(
        F.col(id_col),
        F.explode(fp(F.col(content_col))).alias("band_key"),
    ).withColumn("band_id", F.lit(0))
    # reuse the LSH bucket expansion + skew policy (one shuffle, star-cap)
    pairs, _ = candidate_pairs(
        anchors, DedupConfig(bucket_cap=bucket_cap), id_col, on_capped=on_capped
    )
    grams = eligible.select(
        F.col(id_col), F.expr(_gram_array(min_len, content_col)).alias("grams")
    )
    out = (
        pair_endpoints(pairs, grams, id_col)
        .withColumn(
            "n_common_grams",
            F.size(F.array_intersect("grams_l", "grams_r")).cast("bigint"),
        )
        .where(F.col("n_common_grams") > 0)
        .select("id_l", "id_r", "n_common_grams")
    )
    return out
