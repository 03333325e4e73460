"""Arrow-batched pandas UDFs wrapping the numpy kernels.

All heavy math happens inside vectorized numpy over whole Arrow batches —
no per-row Python anywhere (north rule).  Signatures are stored as
``array<long>`` with u64 payloads bit-cast to i64 (Spark has no unsigned
types); equality semantics are preserved (``jaccard.rs:9-19`` only needs
``PartialEq``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

from ..config import DedupConfig
from ..kernels.densminhash import optdens_minhash_batch
from ..kernels.probminhash import probminhash3a_batch
from ..kernels.setsketch import SetSketchParams, setsketch_batch, setsketch_cardinality
from ..kernels.shingles import dedupe_counts, shingle_batch
from ..kernels.superminhash import superminhash_batch

U64 = np.uint64


def _shingle_multiset(texts, cfg: DedupConfig):
    doc_idx, hashes = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
    return dedupe_counts(doc_idx, hashes)


def _sketch_batch_np(texts, cfg: DedupConfig) -> np.ndarray:
    """(ndocs, m) u64 signature matrix for a list of texts.

    optdens/superminhash skip multiset dedup entirely — duplicate items are
    idempotent under the min-reduce (same per-item draw stream), saving an
    O(n log n) lexsort per batch.  probminhash3a needs multiplicities.
    """
    ndocs = len(texts)
    if cfg.algo == "optdens":
        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        _, sig = optdens_minhash_batch(d, h, ndocs, cfg.num_hashes, cfg.hasher)
    elif cfg.algo == "probminhash3a":
        if cfg.hasher == "sha":
            # ProbMinHash3aSha raw-byte identity (S6): digest the shingle's
            # OWN key bytes (sig.rs:12-15, probminhash3sha.rs:106-114) via
            # one representative span per unique (doc, shingle) — identity
            # does not pass through the u64 poly-hash bottleneck.  Char
            # mode: a k-gram's span bytes ARE its key.  Token mode: the key
            # is the CANONICAL byte form of the window — its tokens joined
            # by 0x00 (see token_shingles), preserving the separator-
            # insensitive identity the poly-hash computes while digesting
            # raw key bytes like the reference regime.
            from ..kernels.hashes import sha512_256_states_raw

            di, hi, s0, l0, buf = shingle_batch(
                texts, cfg.shingle_mode, cfg.shingle_size, return_spans=True
            )
            d, h, c, rep = dedupe_counts(di, hi, return_rep=True)
            states = sha512_256_states_raw(buf, s0[rep], l0[rep], h)
            w = c.astype(np.float64) if cfg.weighted else np.ones(d.shape[0])
            sig, _ = probminhash3a_batch(
                d, h, w, ndocs, cfg.num_hashes, cfg.hasher, sha_states=states
            )
        else:
            d, h, c = _shingle_multiset(texts, cfg)
            w = c.astype(np.float64) if cfg.weighted else np.ones(d.shape[0])
            sig, _ = probminhash3a_batch(d, h, w, ndocs, cfg.num_hashes, cfg.hasher)
    elif cfg.algo == "probminhash2":
        from ..kernels.probminhash2 import probminhash2_batch

        d, h, c = _shingle_multiset(texts, cfg)
        w = c.astype(np.float64) if cfg.weighted else np.ones(d.shape[0])
        sig, _ = probminhash2_batch(d, h, w, ndocs, cfg.num_hashes, cfg.hasher)
    elif cfg.algo == "superminhash":
        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        _, sig = superminhash_batch(d, h, ndocs, cfg.num_hashes, cfg.hasher)
    elif cfg.algo == "superminhash2":
        from ..kernels.superminhash import superminhash2_batch

        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        _, _, sig = superminhash2_batch(d, h, ndocs, cfg.num_hashes, cfg.hasher)
    elif cfg.algo == "revoptdens":
        from ..kernels.densminhash import revoptdens_minhash_batch

        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        _, sig = revoptdens_minhash_batch(d, h, ndocs, cfg.num_hashes, cfg.hasher)
    else:  # pragma: no cover
        raise ValueError(cfg.algo)
    return sig


# sig_bits -> (Spark element type, signed view dtype); folding is S25
# (densminhash.rs:98-166): murmur3_32(slot) >> (32-bits), stored bit-cast in
# the narrowest signed type Spark offers so on-disk/in-shuffle signature size
# shrinks proportionally
_SIG_TYPES = {
    64: (LongType(), np.int64),
    32: (IntegerType(), np.int32),
    16: (ShortType(), np.int16),
    8: (ByteType(), np.int8),
}


def make_sketch_udf(cfg: DedupConfig):
    """content -> array<long|int|smallint|tinyint> signature of length
    cfg.num_hashes (element width per cfg.sig_bits)."""
    spark_type, view_dtype = _SIG_TYPES[cfg.sig_bits]

    @pandas_udf(ArrayType(spark_type))
    def sketch(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        sig = _sketch_batch_np(texts, cfg)
        if cfg.sig_bits < 64:
            from ..kernels.hashes import fold_signature

            sig = fold_signature(sig, cfg.sig_bits)
        return pd.Series(list(sig.view(view_dtype)))

    return sketch


def make_superminhash_values_udf(cfg: DedupConfig):
    """content -> the reference's float hsketch ``Vec<F>`` (values in
    [0, m), ``superminhasher.rs:163-166``) as ``array<double>`` — the S12
    surface the banding path doesn't expose (it emits winner item hashes,
    an a.s.-equivalent identity: the per-item permutation and values are
    deterministic functions of the item, so winner equality <=> value
    equality almost surely).  Use the native zip_with equal-slot estimator
    on the float arrays for the reference's J estimate
    (``superminhasher.rs:278-302``)."""
    if cfg.algo != "superminhash":
        raise ValueError(
            f"float hsketch values are a SuperMinHash surface (algo="
            f"{cfg.algo!r}); use make_sketch_udf for winner-hash signatures"
        )

    @pandas_udf(ArrayType(DoubleType()))
    def hsketch(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        vals, _ = superminhash_batch(d, h, len(texts), cfg.num_hashes, cfg.hasher)
        return pd.Series(list(vals))

    return hsketch


def make_cardinality_udf(cfg: DedupConfig):
    """content -> estimated distinct-shingle count (SetSketch S16/S18); the
    ``sketch_cardinality`` entry query."""
    params = SetSketchParams(m=cfg.setsketch_m)

    @pandas_udf(DoubleType())
    def cardinality(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=np.float64)
        d, h, _ = _shingle_multiset(texts, cfg)
        regs = setsketch_batch(d, h, len(texts), params, cfg.hasher)
        card, _ = setsketch_cardinality(regs, params)
        return pd.Series(card)

    return cardinality


def make_setsketch_udf(cfg: DedupConfig):
    """content -> binary SetSketch register vector (mergeable union sketch,
    ``setsketcher.rs:428-446``); little-endian packed u16."""
    params = SetSketchParams(m=cfg.setsketch_m)
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def registers(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        d, h, _ = _shingle_multiset(texts, cfg)
        regs = setsketch_batch(d, h, len(texts), params, cfg.hasher)
        return pd.Series([r.astype("<u2").tobytes() for r in regs])

    return registers


def _pair_jaccard_np(texts_a, texts_b, cfg: DedupConfig) -> np.ndarray:
    """Per-pair exact multiset Jaccard sum_t min(c_a, c_b) / sum_t max(c_a, c_b)
    over the two sides' shingle multisets — the quantity the ProbMinHash
    family estimates (J_p, ``probminhash3.rs`` docs; equals J_w for integer
    multiplicities).  Set configs pass unit counts, which makes it the
    distinct-set Jaccard |A & B| / |A | B|.  Empty/empty scores 1.0.

    One lexsort over both sides' (pair, hash, side) rows finds the common
    shingles (a run spanning both sides) — no per-pair Python loops.
    """
    n = len(texts_a)
    da, ha, ca = _shingle_multiset(texts_a, cfg)
    db, hb, cb = _shingle_multiset(texts_b, cfg)
    pair = np.concatenate([da, db])
    hsh = np.concatenate([ha, hb])
    side = np.concatenate(
        [np.zeros(da.shape[0], np.int8), np.ones(db.shape[0], np.int8)]
    )
    cnt = (
        np.concatenate([ca, cb]).astype(np.float64)
        if cfg.weighted
        else np.ones(pair.shape[0])
    )
    total = np.bincount(pair, weights=cnt, minlength=n)  # N_a + N_b
    order = np.lexsort((side, hsh, pair))
    p, h, s, c = pair[order], hsh[order], side[order], cnt[order]
    match = (p[1:] == p[:-1]) & (h[1:] == h[:-1]) & (s[:-1] == 0) & (s[1:] == 1)
    summin = np.bincount(
        p[1:][match], weights=np.minimum(c[1:], c[:-1])[match], minlength=n
    )
    denom = total - summin  # sum max = N_a + N_b - sum min
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(denom > 0, summin / denom, 1.0)


def make_pair_jaccard_udf(cfg: DedupConfig):
    """(content_a, content_b) -> exact shingle Jaccard of each pair
    (:func:`_pair_jaccard_np`): multiset for weighted configs, distinct-set
    for the others.  The verify-stage oracle."""

    @pandas_udf(DoubleType())
    def pair_j(content_a: pd.Series, content_b: pd.Series) -> pd.Series:
        if len(content_a) == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(
            _pair_jaccard_np(
                content_a.fillna("").tolist(), content_b.fillna("").tolist(), cfg
            )
        )

    return pair_j


def make_simhash_udf(cfg: DedupConfig):
    """content -> 64-bit SimHash over token hashes (long).

    Charikar-style: per token hash, each bit contributes ±count; sign of the
    per-bit sum packs into one u64.  Near-dups differ in few bits.
    """

    @pandas_udf(LongType())
    def simhash(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=np.int64)
        d, h, c = _shingle_multiset(texts, cfg)
        acc = np.zeros((n, 64), dtype=np.int64)
        if d.size:
            bits = ((h[:, None] >> np.arange(64, dtype=U64)) & U64(1)).astype(np.int64)
            contrib = (2 * bits - 1) * c[:, None]
            np.add.at(acc, d, contrib)
        packed = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=U64)).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(packed.view(np.int64))

    return simhash


def _ordminhash_np(texts, m: int, l: int, seed: int) -> np.ndarray:
    """(ndocs, m) i64 ProbOrdMinHash2 signatures over each text's token-hash
    sequence (S27/S28): the body of :func:`make_ordminhash_udf`.

    Uses the cross-doc vectorized kernel (``probordminhash2_batch``): the
    l-minima store is sequential WITHIN a doc (``probordminhash2.rs:85-115``)
    but docs are independent, so item position t of every doc in the Arrow
    batch is processed in lockstep — no per-doc Python loop.  Docs with
    fewer than l tokens are padded with zero-hash sentinels (one whole-batch
    concat, same padding the sequential path used).
    """
    from ..kernels.probordminhash2 import probordminhash2_batch
    from ..kernels.shingles import token_hashes

    n = len(texts)
    d, th = token_hashes(texts)
    counts = np.bincount(d, minlength=n)
    short = np.nonzero(counts < l)[0]
    if short.size:
        pad_docs = np.repeat(short, l - counts[short])
        d = np.concatenate([d, pad_docs])
        th = np.concatenate([th, np.zeros(pad_docs.size, dtype=U64)])
        order = np.argsort(d, kind="stable")
        d, th = d[order], th[order]
    return probordminhash2_batch(d, th, n, m, l, seed).view(np.int64)


def make_ordminhash_udf(m: int = 32, l: int = 2, seed: int = 0x5EED):
    """content -> order-sensitive edit-distance signature (:func:`_ordminhash_np`)."""

    @pandas_udf(ArrayType(LongType()))
    def ordminhash(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        if not texts:
            return pd.Series([], dtype=object)
        return pd.Series(list(_ordminhash_np(texts, m, l, seed)))

    return ordminhash


# ---------------------------------------------------------------------------
# text-analysis UDFs (training-data pipeline ops)
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "was", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "del", "se", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "du", "en", "est", "que"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit", "sich", "des", "ist"),
}


def make_lang_id_udf():
    """Stopword-ratio language heuristic -> best lang code or 'und'.

    Vectorized: one tokenization pass per batch; per-language membership via
    sorted-array searchsorted (no per-row Python)."""
    from ..kernels.shingles import token_hashes

    lang_tables = {}
    for lang, words in _STOPWORDS.items():
        _, th = token_hashes(list(words))
        lang_tables[lang] = np.sort(th)

    @pandas_udf(StringType())
    def lang_id(content: pd.Series) -> pd.Series:
        texts = content.fillna("").str.lower().tolist()
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        d, h = token_hashes(texts)
        totals = np.bincount(d, minlength=n).astype(np.float64)
        scores = np.zeros((n, len(lang_tables)))
        for li, (lang, table) in enumerate(lang_tables.items()):
            pos = np.searchsorted(table, h)
            hit = (pos < table.size) & (table[np.minimum(pos, table.size - 1)] == h)
            np.add.at(scores[:, li], d[hit], 1.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = scores / np.maximum(totals, 1.0)[:, None]
        best = np.argmax(ratio, axis=1)
        best_ratio = ratio[np.arange(n), best]
        langs = np.array(list(lang_tables.keys()), dtype=object)
        out = np.where(best_ratio >= 0.05, langs[best], "und")
        return pd.Series(out)

    return lang_id


def make_fingerprint_udf(window: int = 16, k: int = 8):
    """Winnowing document fingerprint: min char-k-gram hash per window ->
    array<long> (Schleimer et al. 2003), vectorized via sliding-window minima."""
    from ..kernels.shingles import char_shingles

    @pandas_udf(ArrayType(LongType()))
    def fingerprint(content: pd.Series) -> pd.Series:
        texts = content.fillna("").tolist()
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        d, h = char_shingles(texts, k)
        order = np.argsort(d, kind="stable")
        d_s, h_s = d[order], h[order]
        total = h_s.size
        docs_w = np.empty(0, dtype=np.int64)
        mins_w = np.empty(0, dtype=U64)
        if total >= window:
            sw = np.lib.stride_tricks.sliding_window_view(h_s, window)
            valid = d_s[: total - window + 1] == d_s[window - 1 :]
            docs_w = d_s[: total - window + 1][valid]
            mins_w = sw.min(axis=1)[valid]
        # docs with fewer than `window` shingles: whole-doc min
        counts = np.bincount(d_s, minlength=n)
        short = (counts > 0) & (counts < window)
        if short.any():
            whole = np.full(n, np.iinfo(np.uint64).max, dtype=U64)
            np.minimum.at(whole, d_s, h_s)
            sdocs = np.nonzero(short)[0]
            docs_w = np.concatenate([docs_w, sdocs])
            mins_w = np.concatenate([mins_w, whole[sdocs]])
        dd, mm, _ = dedupe_counts(docs_w, mins_w)
        bounds = np.searchsorted(dd, np.arange(n + 1))
        vals = mm.view(np.int64)
        out = [vals[bounds[i] : bounds[i + 1]] for i in range(n)]
        return pd.Series(out)

    return fingerprint
