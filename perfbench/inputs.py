"""Seeded benchmark inputs and their planted ground truth.

Every input is a pure function of the workload seed: the program under test
only ever sees the files written here.  Ground truth comes from the
generator's own cluster membership (``path = src/mod_<c>/file_<m>``) plus an
exact char-8 Jaccard over planted pairs only, so it stays linear in the
corpus size (``corpus.exact_truth`` is all-pairs and far too slow here).
"""

from __future__ import annotations

import os
import re
from itertools import combinations

import numpy as np
import pandas as pd

from probminhash_spark.config import DedupConfig
from probminhash_spark.corpus import generate_files
from probminhash_spark.kernels.shingles import shingle_batch

_CLUSTER_RE = re.compile(r"^src/mod_(\d+)/file_\d+\.")

# vocabulary and shape of the driver-contract ``documents`` table
# (doc_id, text, lang, source, n_chars): 10-100 words per document
_DOC_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_DOC_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_DOC_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_DOC_SOURCES = 20
_COPY_MIN_WORDS = 40  # one replaced word keeps char-8 Jaccard near 0.9


def batch_corpus(n_files: int, files_per_cluster: int, seed: int) -> pd.DataFrame:
    """The ``bench.py --scaling`` corpus shape: one planted cluster (2-5
    files) per ``files_per_cluster`` files, 120-600 tokens per file (about
    3.8 KB)."""
    return generate_files(
        n_files, max(1, n_files // files_per_cluster), seed=seed, min_tokens=120, max_tokens=600
    )


def stream_batches(
    n_batches: int, files_per_batch: int, reingest: int, seed: int
) -> list[pd.DataFrame]:
    """Micro-batch inputs: planted clusters shuffled across batches, and from
    the second batch on, ``reingest`` planted files of earlier batches sent
    again (same key, so the deduper must not emit their pairs twice)."""
    files = batch_corpus(n_batches * files_per_batch, 25, seed)
    rng = np.random.default_rng(seed + 1)
    files = files.iloc[rng.permutation(len(files))].reset_index(drop=True)
    planted = files["path"].str.match(_CLUSTER_RE).to_numpy()
    out = []
    for b in range(n_batches):
        part = files.iloc[b * files_per_batch : (b + 1) * files_per_batch]
        earlier = np.nonzero(planted[: b * files_per_batch])[0]
        if b and reingest and earlier.size:
            again = rng.choice(earlier, size=min(reingest, earlier.size), replace=False)
            part = pd.concat([part, files.iloc[np.sort(again)]])
        out.append(part.reset_index(drop=True))
    return out


def driver_documents(n_docs: int, n_planted: int, seed: int) -> pd.DataFrame:
    """A ``documents`` table with the driver-contract schema and shape, plus
    ``n_planted`` near-copies appended: document ``n_docs + i`` is the i-th
    document of at least ``_COPY_MIN_WORDS`` words with one word replaced."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n_docs)
    words = [rng.choice(_DOC_WORDS, size=int(k)) for k in lengths]
    long_docs = [i for i, w in enumerate(words) if w.size >= _COPY_MIN_WORDS][:n_planted]
    for i in long_docs:
        copy = words[i].copy()
        copy[rng.integers(copy.size)] = rng.choice(_DOC_WORDS)
        words.append(copy)
    n = len(words)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [" ".join(w) for w in words],
            "lang": rng.choice(_DOC_LANGS, size=n, p=_DOC_LANG_P),
            "source": [f"src{i % _DOC_SOURCES}" for i in range(n)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs


def planted_doc_pairs(docs: pd.DataFrame, n_docs: int, cfg: DedupConfig) -> list[tuple[int, int]]:
    """(source, copy) doc ids of the near-copies ``driver_documents`` appended
    after the first ``n_docs`` rows, kept when their exact shingle Jaccard is
    at least ``cfg.threshold``."""
    texts, ids = docs["text"].tolist(), docs["doc_id"].tolist()
    sources = [i for i, t in enumerate(texts[:n_docs]) if len(t.split(" ")) >= _COPY_MIN_WORDS]
    return [
        (ids[src], ids[cp])
        for src, cp in zip(sources, range(n_docs, len(texts)))
        if _jaccard(texts[src], texts[cp], cfg) >= cfg.threshold
    ]


def _jaccard(a: str, b: str, cfg: DedupConfig) -> float:
    doc_idx, hashes = shingle_batch([a, b], cfg.shingle_mode, cfg.shingle_size)
    sa, sb = np.unique(hashes[doc_idx == 0]), np.unique(hashes[doc_idx == 1])
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    union = sa.size + sb.size - inter
    return inter / union if union else 1.0


def write_parquet(df: pd.DataFrame, path: str, mtime: float | None = None) -> None:
    """Write one parquet file; ``mtime`` pins the file-source arrival order."""
    df.to_parquet(path, index=False)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def content_bytes(files: pd.DataFrame) -> int:
    return int(sum(len(c.encode()) for c in files["content"]))


def planted_pairs(files: pd.DataFrame, cfg: DedupConfig) -> list[tuple[int, int]]:
    """Row-position pairs of files planted in the same cluster whose exact
    shingle Jaccard (the config's shingling) is at least ``cfg.threshold``.
    Rows with an identical key (re-ingested files) count once."""
    keys = files[["repo", "path", "commit"]].apply(tuple, axis=1)
    first = ~keys.duplicated()
    clusters: dict[int, list[int]] = {}
    for pos, (path, keep) in enumerate(zip(files["path"], first)):
        m = _CLUSTER_RE.match(path)
        if m and keep:
            clusters.setdefault(int(m.group(1)), []).append(pos)
    contents = files["content"]
    return [
        (a, b)
        for ps in clusters.values()
        for a, b in combinations(ps, 2)
        if _jaccard(contents.iloc[a], contents.iloc[b], cfg) >= cfg.threshold
    ]
