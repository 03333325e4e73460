"""Exact all-pairs-above-threshold Jaccard, 100 TB-shaped.

The naive formulation (gram table self-joined on the gram) emits
``sum_g df(g)^2`` rows — a viral 8-gram with document frequency d costs
d^2/2 join rows before any filtering.  Both operators run one multiset
core (set features carry count 1), which bounds that:

1. candidate generation reuses the dedup pipeline's bucket-capped expansion
   (``candidate_pairs``): each shared-feature bucket expands pairwise up to
   ``cfg.bucket_cap`` and as a bounded star beyond it (with the audit
   side-channel / ``on_capped='fail'`` oracle guard);
2. intersection sizes are computed PAIR-BOUNDED — candidates join back to
   the feature table on (id, feature), so the volume is
   |candidates| x features-per-doc, never feature-df^2.

Exactness: a pair with J >= t > 0 shares >= 1 feature, so it appears in at
least one bucket; with ``on_capped='fail'`` (no bucket capped) the output
equals the brute-force all-pairs answer — the driver's DuckDB oracles
verify exactly that.  Everything is native Spark SQL (zero Python UDFs).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import DedupConfig
from .cache import pin
from .dedup import candidate_pairs, pair_endpoints


def _multiset_jaccard_pairs(
    feats: DataFrame,
    threshold: float,
    cfg: DedupConfig,
    on_capped: str,
    id_col: str,
) -> DataFrame:
    """The one exact-pairs core: feature multisets ``(id, f, c)`` -> pairs
    (id_l, id_r, j) with ``j = sum min(c_l, c_r) / sum max(c_l, c_r)`` >=
    ``threshold``.  Set features pass ``c = 1``, which makes ``j`` the
    distinct-set Jaccard.

    ``j`` is the IEEE division of exact bigint sums (sum max = n_l + n_r -
    sum min), so DuckDB replays it bit-for-bit.  The feature table is
    persisted for the returned query's lifetime (it feeds four subtrees:
    buckets, sizes and both intersection sides).  Wrap build + execution in
    ``operators.cache.cache_scope()`` to release it; outside a scope the
    persist is caller-managed (``clearCache()``) — same contract as
    ``dedup_edges``' signature persist.
    """
    feats = pin(feats)
    sizes = feats.groupBy(id_col).agg(F.sum("c").alias("n"))
    # bucket-capped candidates: xxhash64(feature) buckets (a 2^-64 collision
    # only ADDS a candidate, which the exact intersection then rejects)
    bands = feats.select(
        F.col(id_col), F.lit(0).alias("band_id"), F.xxhash64("f").alias("band_key")
    )
    pairs, _ = candidate_pairs(bands, cfg, id_col, on_capped=on_capped)
    fl = feats.select(F.col(id_col).alias("id_l"), "f", F.col("c").alias("c_l"))
    fr = feats.select(F.col(id_col).alias("id_r"), "f", F.col("c").alias("c_r"))
    inter = (
        pairs.join(fl, "id_l")
        .join(fr, ["id_r", "f"])
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.least("c_l", "c_r")).alias("smin"))
    )
    return (
        pair_endpoints(inter, sizes, id_col)
        .withColumn(
            "j",
            F.col("smin").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("smin")),
        )
        .where(F.col("j") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    gram_len: int = 8,
    cfg: DedupConfig | None = None,
    on_capped: str = "star",
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Exact distinct-char-n-gram Jaccard pairs with J >= ``threshold``.

    Output: (id_l, id_r, j_exact) — identical to the brute-force shared-gram
    self-join when no bucket is capped.  Persist lifetime: caller's
    ``cache_scope()`` (see :func:`_multiset_jaccard_pairs`).
    """
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({content_col})"
                    f" - {gram_len - 1}, 1)), i -> substring({content_col},"
                    f" i, {gram_len}))"
                )
            )
        ).alias("f"),
        F.lit(1).alias("c"),
    )
    return _multiset_jaccard_pairs(
        grams, threshold, cfg or DedupConfig(), on_capped, id_col
    ).select("id_l", "id_r", F.col("j").alias("j_exact"))


def weighted_token_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    token_re: str,
    cfg: DedupConfig | None = None,
    on_capped: str = "star",
    id_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Exact WEIGHTED (multiset) token Jaccard pairs with J_w >= threshold:
    ``sum_t min(c_a, c_b) / sum_t max(c_a, c_b)`` — the quantity the
    ProbMinHash family estimates.

    Output: (id_l, id_r, j_weighted ROUND 6).
    """
    # bind the pattern as a literal (not an interpolated SQL string) so
    # regexes containing quotes can't break / alter the expression.
    toks = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(F.col(content_col), F.lit(token_re), 0)
            ).alias("f"),
        )
        .groupBy(id_col, "f")
        .agg(F.count("*").alias("c"))
    )
    return _multiset_jaccard_pairs(
        toks, threshold, cfg or DedupConfig(), on_capped, id_col
    ).select("id_l", "id_r", F.round("j", 6).alias("j_weighted"))
