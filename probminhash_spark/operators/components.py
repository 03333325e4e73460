"""Connected components over a DataFrame edge list.

Spark has no fixpoint operator (SURVEY.md §4.2).  :func:`connected_components`
fetches at most ``_DRIVER_EDGES + 1`` edges and dispatches on the count:

- up to the gate, :func:`_min_labels` labels them on the driver (numpy
  min-label hooking plus pointer jumping; no Spark rounds, no checkpoints);
- above it, :func:`_star_components` runs alternating large-star /
  small-star rounds (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SOCC'14): O(log n) rounds even on adversarial chain graphs, each
  two shuffle-bound groupBy/join stages plus a ``localCheckpoint``.

Both give every node of a non-self-loop edge the min id of its component.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .cache import pin, pin_local_checkpoint, release_local_checkpoint

# edge-count gate of the driver path: 16 MB of int64 id pairs on the driver
_DRIVER_EDGES = 1_000_000


def _min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, component) over the edges ``src[i] - dst[i]``: every node of a
    non-self-loop edge, sorted, with the min id of its component."""
    keep = src != dst
    ids, inv = np.unique(np.concatenate([src[keep], dst[keep]]), return_inverse=True)
    # both directions of every edge over compact indices; ids are sorted, so
    # the min index of a component is its min id
    u, v = inv, np.roll(inv, inv.size // 2)
    lab = np.arange(ids.size)
    while True:
        old = lab.copy()
        # lab[u] is a root (lab[i] <= i, jumped to a fixpoint): hook it onto
        # the smaller label across the edge
        np.minimum.at(lab, lab[u], lab[v])
        while not np.array_equal(jumped := lab[lab], lab):
            lab = jumped
        if np.array_equal(lab, old):
            return ids, ids[lab]


def _canon(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    both = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = both.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", F.col("src")).alias("mn"))
    return (
        both.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
    relink = (
        e.join(mins, "src")
        .where(F.col("dst") != F.col("mn"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )
    selfe = mins.select(F.col("src"), F.col("mn").alias("dst"))
    return relink.union(selfe).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id_l",
    dst: str = "id_r",
    max_iterations: int = 50,
) -> DataFrame:
    """edge list -> (id, component) with component = min node id of the group.

    Nodes with no edges are absent; callers left-join and coalesce to self
    (see :func:`assign_clusters`).
    """
    # pinned: the size probe and the star path's first checkpoint share one
    # execution of a lazy edge plan; neither result reads it afterwards
    e = pin(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    try:
        pdf = e.limit(_DRIVER_EDGES + 1).toPandas()
        if len(pdf) > _DRIVER_EDGES:
            return _star_components(e, max_iterations)
        ids, comp = _min_labels(pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64))
        return e.sparkSession.createDataFrame(
            pd.DataFrame({"id": ids, "component": comp}), "id long, component long"
        )
    finally:
        e.unpersist()


def _star_components(e: DataFrame, max_iterations: int) -> DataFrame:
    """The scale path over a (src, dst) edge frame: large-star/small-star
    rounds to a fixpoint of (node -> root) stars."""
    # checkpoints route through the cache module: the FINAL round's blocks
    # must outlive this call (the returned plan reads them), so they release
    # at the consumer's cache_scope exit; each SUPERSEDED round is released
    # eagerly below — an iterative loop holds two frontiers, not max_iter
    e = pin_local_checkpoint(_canon(e))
    prev_sig = None
    for _ in range(max_iterations):
        new_e = pin_local_checkpoint(_small_star(_large_star(e)))
        sig_row = new_e.select(
            F.count("*").alias("cnt"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("chk"),
        ).collect()[0]
        # new_e is materialized (eager checkpoint): the previous round's
        # blocks are unreferenced from here on
        release_local_checkpoint(e)
        e = new_e
        sig = (sig_row["cnt"], sig_row["chk"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} rounds")
    # fixpoint: edges are (node -> root) stars; roots map to themselves
    comp = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return comp.union(roots).groupBy("id").agg(F.min("component").alias("component"))


def assign_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_l",
    dst: str = "id_r",
    max_iterations: int = 50,
) -> DataFrame:
    """Every doc gets a cluster id: its component root, or itself if unique."""
    comp = connected_components(edges, src, dst, max_iterations)
    return (
        docs.join(comp, docs[id_col] == comp["id"], "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("id", "component")
    )
