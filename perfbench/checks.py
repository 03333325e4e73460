"""Output checks, run outside the timed region.

Each check returns a list of failure messages (empty when it passes); every
message counts as one failed operation in the run's result.
"""

from __future__ import annotations

import re

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from probminhash_spark.operators.dedup import with_doc_id

KEY_COLS = ["repo", "path", "commit"]


def doc_ids(spark: SparkSession, files: pd.DataFrame) -> list[int]:
    """The program's doc id of each input row, in row order."""
    keys = spark.createDataFrame(files[KEY_COLS].reset_index(drop=True).reset_index())
    rows = with_doc_id(keys, KEY_COLS).select("index", "doc_id").collect()
    ids = dict((int(r[0]), int(r[1])) for r in rows)
    return [ids[i] for i in range(len(files))]


def recall(found: int, total: int) -> float:
    return found / total if total else 1.0


def pipeline_recall(clusters: pd.DataFrame, planted: list[tuple[int, int]], ids) -> tuple[int, int]:
    """(planted pairs placed in one cluster, planted pairs)."""
    label = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
    same = sum(
        1 for a, b in planted if ids[a] in label and label.get(ids[a]) == label.get(ids[b])
    )
    return same, len(planted)


def stream_recall(edges: pd.DataFrame, planted: list[tuple[int, int]], ids) -> tuple[int, int]:
    """(planted pairs emitted as an edge, planted pairs)."""
    emitted = {frozenset(p) for p in zip(edges["id_l"], edges["id_r"])}
    hit = sum(1 for a, b in planted if frozenset((ids[a], ids[b])) in emitted)
    return hit, len(planted)


# ``_scalarize_sig`` joins slots with "-", and slots may be negative
_SLOT = re.compile(r"(?:^|-)(-?\d+)")


def slot_agreement(sig_a: str, sig_b: str) -> float:
    """Share of equal slots between two ``sig_str`` renderings."""
    a, b = _SLOT.findall(sig_a), _SLOT.findall(sig_b)
    if not a or len(a) != len(b):
        return 0.0
    return sum(x == y for x, y in zip(a, b)) / len(a)


def sketch_recall(results: dict, planted: list[tuple[int, int]], cut: float) -> tuple[int, int]:
    """(planted (pair, query) combinations whose signatures agree on at
    least ``cut`` of their slots, combinations).  ``results`` maps a query
    name to its output frame (doc_id, sig_len, sig_str)."""
    ids = sorted({i for pair in planted for i in pair})
    found = total = 0
    for df in results.values():
        rows = df.where(F.col("doc_id").isin(ids)).select("doc_id", "sig_str").collect()
        sig = {int(r[0]): r[1] for r in rows}
        for a, b in planted:
            total += 1
            found += a in sig and b in sig and slot_agreement(sig[a], sig[b]) >= cut
    return found, total


def check_pipeline_edges(edges: pd.DataFrame, threshold: float) -> list[str]:
    below = int((edges["j_exact"] < threshold).sum())
    return [f"{below} pipeline edges have j_exact < {threshold}"] if below else []


def check_same_counters(counters: list[dict]) -> list[str]:
    """run_pipeline counters must not depend on which pass produced them."""
    first = counters[0] if counters else None
    return [
        f"pass {i} counters differ: {c} != {first}"
        for i, c in enumerate(counters)
        if c != first
    ]


def check_unique_edges(edges: pd.DataFrame) -> list[str]:
    dup = int(edges.duplicated(["id_l", "id_r"]).sum())
    return [f"{dup} stream edges repeat an earlier pair"] if dup else []


def check_recall(found: int, total: int, floor: float) -> list[str]:
    r = recall(found, total)
    return [f"planted recall {r:.4f} below {floor}"] if r < floor else []


def query_digest(df) -> tuple[int, int, int]:
    """(rows, distinct doc ids or -1, order-free checksum) of a query result."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    row = df.agg(
        F.count(F.lit(1)),
        F.countDistinct("doc_id") if "doc_id" in df.columns else F.lit(-1),
        F.coalesce(F.expr(f"bit_xor(xxhash64({cols}))"), F.lit(0)),
    ).collect()[0]
    return int(row[0]), int(row[1]), int(row[2])


def check_query(name: str, digest: tuple[int, int, int], n_docs: int, per_doc: bool) -> list[str]:
    rows, distinct, _ = digest
    if per_doc and (rows != n_docs or distinct != n_docs):
        return [f"{name}: {rows} rows / {distinct} doc ids for {n_docs} documents"]
    if rows == 0:
        return [f"{name}: empty result"]
    return []


def check_stable(name: str, digests: list[tuple[int, int, int]]) -> list[str]:
    return [f"{name}: result differs between passes"] if len(set(digests)) > 1 else []
