"""Staged, checkpointed, resumable dedup pipeline (SURVEY.md §3.2).

Stages (each a parquet table + ``_manifest.json`` under the checkpoint root):

1. ``signatures``  — doc keys + content_sha256 + signature
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


def _write(df: DataFrame, root: str, stage: str):
    """Stage-table writer: one parquet directory per stage."""
    df.write.mode("overwrite").parquet(str(stage_dir(root, stage) / "data"))


def _read(spark: SparkSession, root: str, stage: str) -> DataFrame:
    return spark.read.parquet(str(stage_dir(root, stage) / "data"))


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
) -> dict:
    """Run (or resume) the full pipeline; returns a counters summary dict."""
    fp = cfg.fingerprint()
    counters: dict = {"config_fingerprint": fp, "resumed_stages": []}

    # ---- stage 1: signatures -------------------------------------------
    if stage_complete(checkpoint_root, "signatures", fp):
        sigs = _read(spark, checkpoint_root, "signatures")
        counters["resumed_stages"].append("signatures")
        counters["files"] = sigs.count()
    else:
        staged = with_doc_id(files.select(*KEY_COLS, "lang", "content"), KEY_COLS)
        staged = staged.withColumn("content_sha256", F.sha2("content", 256))
        staged = with_signature(staged, cfg)
        _write(staged, checkpoint_root, "signatures")
        sigs = _read(spark, checkpoint_root, "signatures")
        counters["files"] = sigs.count()
        write_manifest(
            checkpoint_root,
            "signatures",
            fp,
            {"rows": counters["files"]},
            {"config": cfg.to_json()},
        )
    # per-row integrity: sha256(content) must equal the checkpointed value
    bad = sigs.where(F.sha2("content", 256) != F.col("content_sha256")).count()
    if bad:
        raise RuntimeError(f"sha256 invariant violated for {bad} rows")
    counters["sha256_checked"] = counters["files"]

    # ---- stage 2: bands --------------------------------------------------
    if stage_complete(checkpoint_root, "bands", fp):
        bands = _read(spark, checkpoint_root, "bands")
        counters["resumed_stages"].append("bands")
        counters["band_rows"] = bands.count()
    else:
        bands = band_explode(sigs, cfg)
        _write(bands, checkpoint_root, "bands")
        bands = _read(spark, checkpoint_root, "bands")
        counters["band_rows"] = bands.count()
        write_manifest(checkpoint_root, "bands", fp, {"rows": counters["band_rows"]})

    # ---- stage 3: candidates --------------------------------------------
    if stage_complete(checkpoint_root, "candidates", fp):
        pairs = _read(spark, checkpoint_root, "candidates")
        counters["resumed_stages"].append("candidates")
        counters["candidate_pairs"] = pairs.count()
        counters["dropped_buckets"] = (
            _read(spark, checkpoint_root, "dropped_buckets").count()
        )
    else:
        pairs, dropped = candidate_pairs(bands, cfg, on_capped="record")
        _write(pairs, checkpoint_root, "candidates")
        _write(dropped, checkpoint_root, "dropped_buckets")
        pairs = _read(spark, checkpoint_root, "candidates")
        counters["candidate_pairs"] = pairs.count()
        counters["dropped_buckets"] = (
            _read(spark, checkpoint_root, "dropped_buckets").count()
        )
        write_manifest(
            checkpoint_root,
            "candidates",
            fp,
            {
                "rows": counters["candidate_pairs"],
                "dropped_buckets": counters["dropped_buckets"],
            },
        )

    # ---- stage 4: verified edges -----------------------------------------
    if stage_complete(checkpoint_root, "edges", fp):
        edges = _read(spark, checkpoint_root, "edges")
        counters["resumed_stages"].append("edges")
        counters["duplicate_edges"] = edges.count()
    else:
        est = estimate_pair_jaccard(pairs, sigs, cfg)
        edges = verify_pairs(est, sigs.select("doc_id", "content"), cfg)
        _write(edges, checkpoint_root, "edges")
        edges = _read(spark, checkpoint_root, "edges")
        counters["duplicate_edges"] = edges.count()
        write_manifest(
            checkpoint_root, "edges", fp, {"rows": counters["duplicate_edges"]}
        )

    # ---- stage 5: clusters ------------------------------------------------
    if stage_complete(checkpoint_root, "clusters", fp):
        clusters = _read(spark, checkpoint_root, "clusters")
        counters["resumed_stages"].append("clusters")
        counters["clustered_files"] = clusters.count()
    else:
        clustered = assign_clusters(sigs.select("doc_id"), edges)
        _write(clustered, checkpoint_root, "clusters")
        clusters = _read(spark, checkpoint_root, "clusters")
        counters["clustered_files"] = clusters.count()
        write_manifest(
            checkpoint_root, "clusters", fp, {"rows": counters["clustered_files"]}
        )
    counters["duplicate_groups"] = (
        clusters.groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    return counters
