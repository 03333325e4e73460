"""Staged, checkpointed, resumable dedup pipeline (SURVEY.md §3.2).

Stages (each a parquet table + ``_manifest.json`` under the checkpoint root):

1. ``signatures``  — doc keys + content_sha256 + signature (partitioned by a
                     hash bucket of doc_id so downstream joins co-locate)
2. ``bands``       — exploded (doc_id, band_id, band_key)
3. ``candidates``  — distinct (id_l, id_r) after the bucket-cap skew policy
4. ``edges``       — verified pairs with j_est / j_exact
5. ``clusters``    — (doc_id, cluster_id)

Resume: stages whose manifest matches the current config fingerprint are
loaded, not recomputed (safe: every stage is a pure function of its inputs,
SURVEY.md §1.2).  The per-row invariant ``content_sha256`` is carried into the
signatures table and re-checked on resume-read.

Shuffle frontiers (the four to budget at 100 TB): signatures repartition,
band groupBy/self-join, verify join, each clustering round.  Everything else
is narrow + Arrow-vectorized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..config import DedupConfig
from ..operators.components import assign_clusters
from ..operators.dedup import (
    band_explode,
    candidate_pairs,
    estimate_pair_jaccard,
    verify_pairs,
    with_doc_id,
    with_signature,
)
from .manifest import stage_complete, stage_dir, write_manifest

KEY_COLS = ["repo", "path", "commit"]


def _write(
    df: DataFrame,
    root: str,
    stage: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
):
    """Stage-table writer.  ``fmt='iceberg'`` is the production seam (the
    sandbox has no Iceberg runtime jar); parquet directories otherwise."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "iceberg":  # pragma: no cover - needs a catalog + runtime jar
        w.saveAsTable(f"{root}.{stage}")
    else:
        w.save(str(stage_dir(root, stage) / "data"))


def _read(spark: SparkSession, root: str, stage: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":  # pragma: no cover
        return spark.read.table(f"{root}.{stage}")
    return spark.read.format(fmt).load(str(stage_dir(root, stage) / "data"))


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
    sketch_partitions: int = 0,
    fmt: str = "parquet",
) -> dict:
    """Run (or resume) the full pipeline; returns a counters summary dict."""
    fp = cfg.fingerprint()
    counters: dict = {"config_fingerprint": fp, "resumed_stages": []}

    # ---- stage 1: signatures -------------------------------------------
    if stage_complete(checkpoint_root, "signatures", fp):
        sigs = _read(spark, checkpoint_root, "signatures", fmt)
        counters["resumed_stages"].append("signatures")
    else:
        staged = with_doc_id(files.select(*KEY_COLS, "lang", "content"), KEY_COLS)
        staged = staged.withColumn("content_sha256", F.sha2("content", 256))
        staged = with_signature(staged, cfg)
        if sketch_partitions:
            staged = staged.repartition(sketch_partitions, "doc_id")
        _write(staged, checkpoint_root, "signatures", fmt=fmt)
        sigs = _read(spark, checkpoint_root, "signatures", fmt)
        write_manifest(
            checkpoint_root,
            "signatures",
            fp,
            {"rows": sigs.count()},
            {"config": cfg.to_json()},
        )
    counters["files"] = sigs.count()
    # per-row integrity: sha256(content) must equal the checkpointed value
    bad = sigs.where(F.sha2("content", 256) != F.col("content_sha256")).count()
    if bad:
        raise RuntimeError(f"sha256 invariant violated for {bad} rows")
    counters["sha256_checked"] = counters["files"]

    # ---- stage 2: bands --------------------------------------------------
    if stage_complete(checkpoint_root, "bands", fp):
        bands = _read(spark, checkpoint_root, "bands", fmt)
        counters["resumed_stages"].append("bands")
    else:
        bands = band_explode(sigs, cfg)
        _write(bands, checkpoint_root, "bands", fmt=fmt)
        bands = _read(spark, checkpoint_root, "bands", fmt)
        write_manifest(checkpoint_root, "bands", fp, {"rows": bands.count()})
    counters["band_rows"] = bands.count()

    # ---- stage 3: candidates --------------------------------------------
    if stage_complete(checkpoint_root, "candidates", fp):
        pairs = _read(spark, checkpoint_root, "candidates", fmt)
        counters["resumed_stages"].append("candidates")
        counters["dropped_buckets"] = (
            _read(spark, checkpoint_root, "dropped_buckets", fmt).count()
        )
    else:
        pairs, dropped = candidate_pairs(bands, cfg, on_capped="record")
        _write(pairs, checkpoint_root, "candidates", fmt=fmt)
        _write(dropped, checkpoint_root, "dropped_buckets", fmt=fmt)
        pairs = _read(spark, checkpoint_root, "candidates", fmt)
        counters["dropped_buckets"] = (
            _read(spark, checkpoint_root, "dropped_buckets", fmt).count()
        )
        write_manifest(
            checkpoint_root,
            "candidates",
            fp,
            {"rows": pairs.count(), "dropped_buckets": counters["dropped_buckets"]},
        )
    counters["candidate_pairs"] = pairs.count()

    # ---- stage 4: verified edges -----------------------------------------
    if stage_complete(checkpoint_root, "edges", fp):
        edges = _read(spark, checkpoint_root, "edges", fmt)
        counters["resumed_stages"].append("edges")
    else:
        est = estimate_pair_jaccard(pairs, sigs, cfg)
        edges = verify_pairs(est, sigs.select("doc_id", "content"), cfg)
        _write(edges, checkpoint_root, "edges", fmt=fmt)
        edges = _read(spark, checkpoint_root, "edges", fmt)
        write_manifest(checkpoint_root, "edges", fp, {"rows": edges.count()})
    counters["duplicate_edges"] = edges.count()

    # ---- stage 5: clusters ------------------------------------------------
    if stage_complete(checkpoint_root, "clusters", fp):
        clusters = _read(spark, checkpoint_root, "clusters", fmt)
        counters["resumed_stages"].append("clusters")
    else:
        clustered = assign_clusters(sigs.select("doc_id"), edges)
        _write(clustered, checkpoint_root, "clusters", fmt=fmt)
        clusters = _read(spark, checkpoint_root, "clusters", fmt)
        write_manifest(checkpoint_root, "clusters", fp, {"rows": clusters.count()})
    counters["clustered_files"] = clusters.count()
    counters["duplicate_groups"] = (
        clusters.groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    return counters
