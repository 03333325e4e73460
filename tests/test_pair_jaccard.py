"""The one verify-pair kernel (``_pair_jaccard_np``) against brute force:
set configs score distinct-set Jaccard, weighted configs multiset Jaccard
sum min / sum max.  Spark-free."""

import collections
import re

import numpy as np

from probminhash_spark.config import DedupConfig
from probminhash_spark.corpus import generate_files
from probminhash_spark.functions.sketch_udfs import _pair_jaccard_np
from probminhash_spark.kernels.jaccard import exact_jaccard
from probminhash_spark.kernels.shingles import shingle_batch

EDGE_A = ["", "", "abcdefghijklmnop", "short"]
EDGE_B = ["", "abcdefghijklmnop", "", "short"]


def _random_pairs(n, seed):
    texts = generate_files(n_files=80, n_clusters=8, seed=seed)["content"].tolist()
    rng = np.random.default_rng(seed)
    a = [texts[i] for i in rng.integers(0, len(texts), n)]
    b = [texts[i] for i in rng.integers(0, len(texts), n)]
    # splice halves so partial overlaps occur, not just 0 / cluster-level J
    for i in range(0, n, 3):
        b[i] = a[i][: len(a[i]) // 2] + b[i][len(b[i]) // 2 :]
    return EDGE_A + a, EDGE_B + b


def test_set_mode_matches_exact_jaccard_on_shingle_sets():
    cfg = DedupConfig()  # char-8, set
    a, b = _random_pairs(60, seed=1)
    got = _pair_jaccard_np(a, b, cfg)

    def shingle_set(text):
        return set(shingle_batch([text], cfg.shingle_mode, cfg.shingle_size)[1].tolist())

    want = [exact_jaccard(shingle_set(x), shingle_set(y)) for x, y in zip(a, b)]
    assert got.tolist() == want
    assert got[:4].tolist() == [1.0, 0.0, 0.0, 1.0]
    assert ((got > 0.0) & (got < 1.0)).any()


def test_weighted_mode_matches_counter_min_max():
    cfg = DedupConfig(shingle_mode="token", shingle_size=1, weighted=True)
    a, b = _random_pairs(60, seed=2)
    a.append("a a a b")
    b.append("a b b")
    got = _pair_jaccard_np(a, b, cfg)

    def brute(x, y):
        cx = collections.Counter(re.findall(r"[0-9A-Za-z_]+", x))
        cy = collections.Counter(re.findall(r"[0-9A-Za-z_]+", y))
        toks = set(cx) | set(cy)
        smin = sum(min(cx[t], cy[t]) for t in toks)
        smax = sum(max(cx[t], cy[t]) for t in toks)
        return smin / smax if smax else 1.0

    assert got.tolist() == [brute(x, y) for x, y in zip(a, b)]
    assert got[:4].tolist() == [1.0, 0.0, 0.0, 1.0]
    assert got[-1] == 2 / 5  # min counts a:1 b:1, max a:3 b:2
    assert ((got > 0.0) & (got < 1.0)).any()


def test_set_and_weighted_agree_on_duplicate_free_multisets():
    """Unit counts are exactly the set case: on texts whose tokens never
    repeat, the weighted and set configs score identically."""
    a = ["alpha beta gamma", "one two three four", "x"]
    b = ["beta gamma delta", "one two", "y"]
    set_cfg = DedupConfig(shingle_mode="token", shingle_size=1)
    w_cfg = DedupConfig(shingle_mode="token", shingle_size=1, weighted=True)
    assert _pair_jaccard_np(a, b, set_cfg).tolist() == [0.5, 0.5, 0.0]
    assert _pair_jaccard_np(a, b, w_cfg).tolist() == [0.5, 0.5, 0.0]
