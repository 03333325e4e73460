"""Operator-internal persists must be releasable (round-3 verdict wrong #4):
wrapping build + execution in ``cache_scope()`` leaves ZERO cached relations
behind, so repeated sweeps don't accumulate executor storage."""

import os

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

import pyspark.sql.functions as F
import pytest

from probminhash_spark.config import DedupConfig
from probminhash_spark.corpus import generate_files
from probminhash_spark.operators.cache import cache_scope, pin


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.fixture()
def docs(spark):
    files = generate_files(n_files=40, n_clusters=4, seed=7)
    return spark.createDataFrame(files)


def test_cache_scope_releases_all_operator_persists(spark, docs):
    from probminhash_spark.operators.dedup import (
        dedup_edges,
        simhash_dup_pairs,
        with_doc_id,
    )
    from probminhash_spark.operators.exact_pairs import (
        ngram_jaccard_pairs,
        weighted_token_jaccard_pairs,
    )
    from probminhash_spark.operators.sketch_ops import (
        group_distinct_shingles,
        group_jaccard,
    )

    spark.catalog.clearCache()
    assert _n_cached(spark) == 0
    cfg = DedupConfig()
    ided = with_doc_id(docs, ["repo", "path", "commit"]).withColumn(
        "text", F.col("content")
    )
    with cache_scope():
        dedup_edges(docs, cfg, key_cols=["repo", "path", "commit"]).count()
        simhash_dup_pairs(ided, cfg).count()
        ngram_jaccard_pairs(ided, threshold=0.5, cfg=cfg).count()
        weighted_token_jaccard_pairs(
            ided, threshold=0.5, token_re="[A-Za-z0-9_]+", cfg=cfg
        ).count()
        gs = group_distinct_shingles(docs, ["lang"], cfg)
        group_jaccard(gs, cfg, "lang").count()
        assert _n_cached(spark) > 0, "operators pinned nothing?"
    assert _n_cached(spark) == 0, "cache_scope leaked persisted relations"


def test_pin_outside_scope_is_caller_managed(spark, docs):
    spark.catalog.clearCache()
    df = pin(docs.select("repo"))
    df.count()
    assert _n_cached(spark) == 1  # documented legacy contract: persists stay
    df.unpersist()
    assert _n_cached(spark) == 0


def test_cache_scopes_nest_independently(spark, docs):
    spark.catalog.clearCache()
    with cache_scope():
        outer = pin(docs.select("repo"))
        outer.count()
        with cache_scope():
            inner = pin(docs.select("path"))
            inner.count()
            assert _n_cached(spark) == 2
        # inner scope released only its own pin
        assert _n_cached(spark) == 1
    assert _n_cached(spark) == 0


def test_batch_job_surface_leaves_no_cached_relations(spark, tmp_path, monkeypatch):
    """r5 (r4 verdict task #6): the JOB surfaces wrap build+write in
    cache_scope() themselves — a long-lived daemon importing jobs/dedup.py
    and invoking main() repeatedly must hold zero residual cached relations
    between runs."""
    import jobs.dedup as job

    monkeypatch.setattr(job, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # shared test session
    spark.catalog.clearCache()
    rc = job.main(
        ["--input", "synthetic:40", "--output", str(tmp_path / "out")]
    )
    assert rc == 0
    assert _n_cached(spark) == 0, "job surface leaked persisted relations"


@pytest.mark.parametrize("engine", ["lsm", "state-store"])
def test_streaming_batch_loop_leaves_no_cached_relations(spark, tmp_path, engine):
    """Each micro-batch of either streaming engine runs inside its own cache
    scope — a continuous stream never accumulates pins."""
    from probminhash_spark.streaming.dedup_stream import StreamingDeduper
    from probminhash_spark.streaming.state_dedup import attach_stateful_dedup

    spark.catalog.clearCache()
    files = generate_files(n_files=30, n_clusters=3, seed=11)
    if engine == "state-store":
        src = tmp_path / "in"
        src.mkdir()
        files.to_parquet(src / "w1.parquet")
        stream = spark.readStream.schema(
            "repo string, path string, commit string, lang string, content string"
        ).parquet(str(src))
        attach_stateful_dedup(
            stream, DedupConfig(), str(tmp_path / "edges"),
            str(tmp_path / "ckpt"), index_buckets=16,
        ).awaitTermination(180)
        assert _n_cached(spark) == 0, "micro-batch leaked cached relations"
        return
    dedup = StreamingDeduper(
        spark, DedupConfig(), str(tmp_path / "state"), state_buckets=16
    )
    for b in range(2):
        dedup.process_batch(spark.createDataFrame(files), batch_id=b)
        assert _n_cached(spark) == 0, f"batch {b} leaked cached relations"
