"""Similarity search over embedding columns (array<float>).

Two paths, same contract:
- :func:`cosine_topk_bruteforce` — exact baseline, all-native zip_with /
  aggregate expressions (no UDF, stays in whole-stage codegen).  O(Q*N).
- :func:`cosine_topk_lsh` — random-hyperplane LSH (sign-bit SimHash for
  vectors): banded bit signatures bucket candidates, exact cosine re-ranks
  survivors.  The scale path: candidate generation is a bucket join, so cost
  follows collisions, not N*Q.

Hyperplanes are derived deterministically from a seed via SplitMix64-seeded
lanes (same RNG stack as the sketchers), so signatures are reproducible across
runs/executors — the same property §1.2 gives the minhash family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..config import DedupConfig
from ..kernels.rng import Xoshiro256pp
from .dedup import candidate_pairs, pair_endpoints

U64 = np.uint64


def _norm_dot_cols(left_e: str, right_e: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({left_e}, {right_e}, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (a, x) -> a + x)"
    )


def with_unit_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add `e` = double-cast embedding and `nrm` = its L2 norm."""
    return df.withColumn(
        "e", F.expr(f"transform({vec_col}, x -> cast(x as double))")
    ).withColumn(
        "nrm", F.expr("sqrt(aggregate(e, cast(0 as double), (a, x) -> a + x * x))")
    )


def _rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    cand: DataFrame | None = None,
) -> DataFrame:
    """Exact-cosine top-k per query over the candidate (query_id,
    neighbor_id) pairs ``cand``, or over every other vector when ``cand`` is
    None.  Queries are broadcast (small side by construction); ties break
    on the smaller neighbor id."""
    v = with_unit_norm(vectors, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "e", "nrm"
    )
    q = F.broadcast(
        with_unit_norm(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
        )
    )
    if cand is None:
        pairs = q.join(v, F.col("query_id") != F.col("neighbor_id"))
    else:
        pairs = cand.join(q, "query_id").join(v, "neighbor_id")
    scored = pairs.withColumn(
        "cosine", _norm_dot_cols("qe", "e") / (F.col("qn") * F.col("nrm"))
    ).select("query_id", "neighbor_id", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (query rows are excluded as their own
    neighbor)."""
    return _rerank_topk(vectors, queries, k, id_col, vec_col)


def make_hyperplane_udf(dim: int, n_bits: int = 64, seed: int = 0xC0FFEE):
    """embedding -> array<long> of sign-bit words (n_bits per word=64).

    Gaussian hyperplanes via Box-Muller over the deterministic Xoshiro lanes;
    the whole batch projects with one numpy matmul.
    """
    n_words = (n_bits + 63) // 64
    rng = Xoshiro256pp(np.arange(dim * n_bits, dtype=np.int64).astype(U64) + U64(seed))
    u1 = rng.next_f64()
    u2 = rng.next_f64()
    g = np.sqrt(-2.0 * np.log1p(-u1)) * np.cos(2 * np.pi * u2)
    planes = g.reshape(n_bits, dim).astype(np.float64)

    @pandas_udf(ArrayType(LongType()))
    def hyperplane_sig(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        bits = (mat @ planes.T) > 0  # (n, n_bits)
        words = np.zeros((mat.shape[0], n_words), dtype=np.uint64)
        for w in range(n_words):
            chunk = bits[:, w * 64 : (w + 1) * 64]
            words[:, w] = (
                chunk.astype(np.uint64) << np.arange(chunk.shape[1], dtype=U64)
            ).sum(axis=1, dtype=np.uint64)
        return pd.Series(list(words.view(np.int64)))

    return hyperplane_sig


def _band_key_sql(n_bands: int, band_bits: int) -> str:
    """Native band-key expression over an ``hsig`` array<long> column.

    Band ``b`` covers global bits [b*band_bits, (b+1)*band_bits).  When a band
    straddles a 64-bit word boundary, its key is assembled from BOTH adjacent
    words (low bits of word w ORed with the shifted low bits of word w+1) —
    otherwise the straddling bits beyond the word are never consulted and the
    band has fewer effective bits (extra false-positive candidates).  Uses
    shiftrightunsigned so sign-extension cannot leak the top bit into keys.
    A straddling band always has a next word: its last bit index < n_bits,
    so ceil(n_bits/64) covers word w+1.
    """
    mask = (1 << band_bits) - 1
    return (
        "transform(sequence(0, {nb} - 1), b -> struct(b AS band_id,"
        " ((shiftrightunsigned(element_at(hsig, int((b * {bb}) div 64) + 1),"
        "                      (b * {bb}) % 64)"
        "   | (CASE WHEN (b * {bb}) % 64 + {bb} > 64"
        "           THEN shiftleft(element_at(hsig, int((b * {bb}) div 64) + 2),"
        "                          64 - (b * {bb}) % 64)"
        "           ELSE CAST(0 AS BIGINT) END))"
        "  & {mask}) AS band_key))"
    ).format(nb=n_bands, bb=band_bits, mask=mask)


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_bits: int = 128,
    band_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket on `band_bits`-wide slices of the hyperplane
    signature, exact cosine on bucket collisions.  At 1-epsilon recall for
    near-duplicate ranges; recall degrades gracefully for distant neighbors
    (tested against the brute-force baseline)."""
    n_bands = n_bits // band_bits
    sig_udf = make_hyperplane_udf(dim, n_bits)

    def banded(df: DataFrame, name: str) -> DataFrame:
        sig = df.withColumn("hsig", sig_udf(F.col(vec_col)))
        band_expr = _band_key_sql(n_bands, band_bits)
        return sig.select(
            F.col(id_col).alias(name), F.explode(F.expr(band_expr)).alias("bk")
        ).select(name, "bk.band_id", "bk.band_key")

    qb = banded(queries, "query_id")
    vb = banded(vectors, "neighbor_id")
    cand = (
        F.broadcast(qb)
        .join(vb, ["band_id", "band_key"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    return _rerank_topk(vectors, queries, k, id_col, vec_col, cand)


def _train_ivf_centroids(
    vectors: DataFrame,
    vec_col: str,
    n_centroids: int,
    sample: int = 4096,
    iters: int = 20,
    seed: int = 7,
) -> np.ndarray:
    """Spherical k-means on a driver-side sample (standard IVF practice:
    train the coarse quantizer on a fraction, assign everything
    distributed).  Deterministic: seeded init, fixed iteration count.
    Returns L2-normalized centroids (n_centroids, dim)."""
    # xxhash64-ordered take: a deterministic pseudo-random sample regardless
    # of scan/partition order (plain limit() is scan-order-dependent)
    pdf = (
        vectors.select(vec_col, F.xxhash64(vec_col).alias("_h"))
        .orderBy("_h")
        .limit(sample)
        .toPandas()
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    c = x[rng.choice(x.shape[0], size=min(n_centroids, x.shape[0]), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(c.shape[0]):
            members = x[assign == j]
            if members.shape[0]:
                mean = members.mean(axis=0)
                c[j] = mean / max(np.linalg.norm(mean), 1e-12)
    return c


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 32,
    n_probe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: every vector is
    assigned to its nearest spherical-k-means centroid (one vectorized
    matmul per Arrow batch); a query probes its ``n_probe`` closest cells
    and exact cosine re-ranks the union.  The scale path complementary to
    hyperplane LSH: candidate volume ~ n_probe/n_centroids of the corpus,
    concentrated where the query lives."""
    c = _train_ivf_centroids(vectors, vec_col, n_centroids, seed=seed)
    n_cells = c.shape[0]
    probes = min(n_probe, n_cells)

    def make_cells_udf(top: int):
        @pandas_udf(ArrayType(LongType()))
        def cells(emb: pd.Series) -> pd.Series:
            if len(emb) == 0:
                return pd.Series([], dtype=object)
            mat = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ c.T
            top_cells = np.argsort(-sims, axis=1)[:, :top].astype(np.int64)
            return pd.Series(list(top_cells))

        return cells

    assign1 = make_cells_udf(1)
    assignp = make_cells_udf(probes)
    vcells = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    qcells = queries.select(
        F.col(id_col).alias("query_id"),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    cand = (
        F.broadcast(qcells)
        .join(vcells, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    return _rerank_topk(vectors, queries, k, id_col, vec_col, cand)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_bits: int = 128,
    band_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold via hyperplane-LSH blocking +
    exact verification (the embedding analogue of the minhash dedup path).

    A band bucket over ``DedupConfig().bucket_cap`` members raises
    ``RuntimeError`` (``candidate_pairs(on_capped="fail")``): the output is
    compared with a brute-force oracle, so capping must never be silent."""
    n_bands = n_bits // band_bits
    sig_udf = make_hyperplane_udf(dim, n_bits)
    sig = vectors.withColumn("hsig", sig_udf(F.col(vec_col)))
    band_expr = _band_key_sql(n_bands, band_bits)
    bands = sig.select(
        F.col(id_col), F.explode(F.expr(band_expr)).alias("bk")
    ).select(id_col, "bk.band_id", "bk.band_key")
    pairs, _ = candidate_pairs(bands, DedupConfig(), id_col, on_capped="fail")
    v = with_unit_norm(vectors, vec_col).select(F.col(id_col), "e", "nrm")
    return (
        pair_endpoints(pairs, v, id_col)
        .withColumn("cosine", _norm_dot_cols("e_l", "e_r") / (F.col("nrm_l") * F.col("nrm_r")))
        .where(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )
