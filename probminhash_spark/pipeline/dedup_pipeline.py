"""Staged, checkpointed, resumable dedup pipeline (SURVEY.md §3.2).

Stages (each a parquet table ``<root>/<stage>/data`` + ``_manifest.json``
under the checkpoint root, which may be any Hadoop URI):

1. ``signatures``  — doc keys + content_sha256 + signature
2. ``bands``       — exploded (doc_id, band_id, band_key)
3. ``candidates``  — distinct (id_l, id_r) after the bucket-cap skew policy
   (capped buckets go to ``dropped_buckets/data``)
4. ``edges``       — verified pairs with j_est / j_exact
5. ``clusters``    — (doc_id, cluster_id)

Resume (manifests after ``SetSketchParams`` dump/reload,
``setsketcher.rs:141-193``): a stage loads while every earlier stage loaded
and its manifest is complete under the config fingerprint.  The first stage
that cannot load deletes its own and every later manifest, then it and all
later stages recompute, so a crash mid-rebuild never resumes a later stage
over stale input.  Safe because every stage is a pure function of (input
table, config), SURVEY.md §1.2.  The input is hashed once, at ingest
(``content_sha256``); the signatures manifest keeps an order-free digest of
the input, which a resume recomputes over the input (one job): a changed
input, or a manifest without a digest, rebuilds every stage.

A fresh stage costs one Spark job per table it writes: the manifest's row
counts are observed during the write (``DataFrame.observe``), never a
recount, and the table is read back with the schema it was written with, so
no parquet schema-inference job runs either.  A resumed stage takes its
counts from its manifest.

Shuffle frontiers (the four to budget at 100 TB): signatures repartition,
band groupBy/self-join, verify join, each clustering round.  Everything else
is narrow + Arrow-vectorized.
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .. import hfs
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

KEY_COLS = ["repo", "path", "commit"]
STAGES = ("signatures", "bands", "candidates", "edges", "clusters")
MANIFEST = "_manifest.json"
# what a table's write observes: its row count and, for the signatures table,
# the order-free digest of the input rows it covers (0 on an empty input)
OBSERVED = ("count(1) AS n", "coalesce(bit_xor(xxhash64(doc_id, content_sha256)), 0) AS digest")


def _path(root: str, table: str, leaf: str) -> str:
    """``<root>/<table>/<leaf>``: a table's ``data`` dir or its manifest."""
    return f"{root.rstrip('/')}/{table}/{leaf}"


def read_manifest(spark: SparkSession, root: str, stage: str) -> dict | None:
    """The stage's manifest, or None when it is missing or torn."""
    path = _path(root, stage, MANIFEST)
    return hfs.read_json(spark, path) if hfs.exists(spark, path) else None


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
) -> dict:
    """Run (or resume) the full pipeline; returns a counters summary dict."""
    fp = cfg.fingerprint()
    root = checkpoint_root
    resumed: list[str] = []
    counters: dict = {"config_fingerprint": fp, "resumed_stages": resumed}

    def read(table: str) -> DataFrame:
        return spark.read.parquet(_path(root, table, "data"))

    def step(stage: str, counter: str, build, source: DataFrame | None = None):
        """Load ``stage`` if every earlier stage resumed and its manifest
        matches the fingerprint (and the digest of ``source``, the input).
        Otherwise delete its manifest and every later one, write the tables
        ``build()`` returns (``{name: frame}``, the stage's own first), each
        in one job whose ``OBSERVED`` metrics land in the manifest, and write
        the manifest.  The stage's row count lands in ``counters[counter]``,
        a side table's under its own name.  Returns the stage table as
        checkpointed."""
        i = STAGES.index(stage)
        chained = len(resumed) == i  # every earlier stage resumed
        m = read_manifest(spark, root, stage) if chained else None
        valid = m and m.get("status") == "complete" and m.get("fingerprint") == fp
        if valid and source is not None:  # built from this very input
            valid = m.get("input") == source.selectExpr(*OBSERVED).first().asDict()
        if valid:
            resumed.append(stage)
            out, rows = read(stage), m["counters"]
        else:
            if chained:
                for later in STAGES[i:]:
                    hfs.delete(spark, _path(root, later, MANIFEST))
            tables = build()
            seen = {name: Observation(name) for name in tables}
            for name, df in tables.items():
                metrics = OBSERVED if source is not None and name == stage else OBSERVED[:1]
                observed = df.observe(seen[name], *map(F.expr, metrics))
                observed.write.mode("overwrite").parquet(_path(root, name, "data"))
            # file sources read every column as nullable, so the built
            # frame's schema is the inferred one, without an inference job
            out = spark.read.schema(tables[stage].schema).parquet(
                _path(root, stage, "data")
            )
            rows = {
                "rows" if name == stage else name: obs.get["n"]
                for name, obs in seen.items()
            }
            manifest = {
                "stage": stage,
                "status": "complete",
                "fingerprint": fp,
                "counters": rows,
                "completed_at_unix": time.time(),
            }
            if source is not None:
                manifest.update(config=cfg.to_json(), input=seen[stage].get)
            hfs.write_json(spark, _path(root, stage, MANIFEST), manifest)
        counters[counter] = rows["rows"]
        counters.update((k, v) for k, v in rows.items() if k != "rows")
        return out

    # the pass's one sha256, digested over the input again on resume
    staged = with_doc_id(files.select(*KEY_COLS, "lang", "content"), KEY_COLS)
    staged = staged.withColumn("content_sha256", F.sha2("content", 256))
    # the builders call operators through this module's globals at call
    # time, so wrappers installed on those names take effect
    sigs = step("signatures", "files", lambda: {"signatures": with_signature(staged, cfg)}, staged)
    counters["sha256_checked"] = counters["files"]

    bands = step("bands", "band_rows", lambda: {"bands": band_explode(sigs, cfg)})

    def build_candidates():
        pairs, dropped = candidate_pairs(bands, cfg, on_capped="record")
        return {"candidates": pairs, "dropped_buckets": dropped}

    pairs = step("candidates", "candidate_pairs", build_candidates)

    def build_edges():
        return {"edges": verify_pairs(estimate_pair_jaccard(pairs, sigs, cfg), cfg)}

    edges = step("edges", "duplicate_edges", build_edges)
    clusters = step(
        "clusters",
        "clustered_files",
        lambda: {"clusters": assign_clusters(sigs.select("doc_id"), edges)},
    )
    counters["duplicate_groups"] = (
        clusters.groupBy("cluster_id").count().where(F.col("count") > 1).count()
    )
    return counters
