"""T4 (resume semantics) and T5 (skew) from SURVEY.md §5.2."""

import json
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from probminhash_spark.config import DedupConfig
from probminhash_spark.corpus import inject_viral_block, make_corpus
from probminhash_spark.operators.dedup import band_explode, candidate_pairs, with_doc_id, with_signature
from probminhash_spark.pipeline.dedup_pipeline import (
    STAGES,
    read_manifest,
    run_pipeline,
)

CFG = DedupConfig(threshold=0.8, est_low_cut=0.4)


def test_resume_skips_complete_stages(spark, tiny_corpus, tmp_path):
    files = spark.createDataFrame(tiny_corpus.files)
    root = str(tmp_path / "ckpt")
    first = run_pipeline(spark, files, CFG, root)
    assert first["resumed_stages"] == []
    assert first["sha256_checked"] == 200
    m1 = read_manifest(spark, root, "signatures")
    second = run_pipeline(spark, files, CFG, root)
    assert set(second["resumed_stages"]) == {
        "signatures", "bands", "candidates", "edges", "clusters",
    }
    # stages were NOT recomputed: manifest timestamps unchanged
    m2 = read_manifest(spark, root, "signatures")
    assert m1["completed_at_unix"] == m2["completed_at_unix"]
    # identical final counters
    for k in ("files", "candidate_pairs", "duplicate_edges", "duplicate_groups"):
        assert first[k] == second[k], k


def test_resume_mid_run_after_kill(spark, tiny_corpus, tmp_path):
    """Simulate a crash after stage 2: only later stages recompute."""
    files = spark.createDataFrame(tiny_corpus.files)
    root = str(tmp_path / "ckpt2")
    run_pipeline(spark, files, CFG, root)
    # wipe downstream stages as if the run died before candidates completed
    for stage in ("candidates", "edges", "clusters", "dropped_buckets"):
        mf = Path(root) / stage / "_manifest.json"
        if mf.exists():
            mf.unlink()
    res = run_pipeline(spark, files, CFG, root)
    assert set(res["resumed_stages"]) == {"signatures", "bands"}
    assert res["duplicate_groups"] > 0


def test_uri_checkpoint_root_keeps_manifests_under_it(
    spark, tiny_corpus, tmp_path, monkeypatch
):
    """A ``file://`` checkpoint root holds every stage manifest: none lands
    under the working directory, and a rerun resumes all five stages."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    files = spark.createDataFrame(tiny_corpus.files)
    local = tmp_path / "ck"
    root = "file://" + str(local)
    first = run_pipeline(spark, files, CFG, root)
    assert first["resumed_stages"] == []
    for stage in STAGES:
        assert (local / stage / "_manifest.json").exists(), stage
    assert not list(cwd.iterdir()), "checkpoint files written under the cwd"
    second = run_pipeline(spark, files, CFG, root)
    assert second["resumed_stages"] == list(STAGES)
    assert {k: v for k, v in second.items() if k != "resumed_stages"} == {
        k: v for k, v in first.items() if k != "resumed_stages"
    }


def test_rebuilt_stage_invalidates_later_stages(spark, tiny_corpus, tmp_path):
    """A stage that recomputes rebuilds every later stage too, even where a
    later manifest still matches: its input is being rewritten."""
    files = spark.createDataFrame(tiny_corpus.files)
    root = str(tmp_path / "ckchain")
    first = run_pipeline(spark, files, CFG, root)
    sig_dir = Path(root) / "signatures"
    (sig_dir / "_manifest.json").unlink()
    crc = sig_dir / "._manifest.json.crc"  # Hadoop checksum of the manifest
    if crc.exists():
        crc.unlink()
    res = run_pipeline(spark, files, CFG, root)
    assert res["resumed_stages"] == []
    assert {k: v for k, v in res.items() if k != "resumed_stages"} == {
        k: v for k, v in first.items() if k != "resumed_stages"
    }


def test_changed_input_rebuilds_every_stage(spark, tiny_corpus, tmp_path):
    """The signatures manifest holds a digest of the input it was built from.
    A rerun over the same root with every file's content replaced rebuilds
    all five stages and reports what a fresh run on the new input reports;
    an unchanged rerun resumes all five; a manifest without the digest (an
    older checkpoint) rebuilds."""
    from probminhash_spark import hfs

    changed_pdf = tiny_corpus.files.assign(content=tiny_corpus.files.content.iloc[0])
    files, changed = (spark.createDataFrame(p) for p in (tiny_corpus.files, changed_pdf))
    root = str(tmp_path / "ckin")
    run_pipeline(spark, files, CFG, root)
    rerun = run_pipeline(spark, changed, CFG, root)
    fresh = run_pipeline(spark, changed, CFG, str(tmp_path / "ckfresh"))
    assert rerun["resumed_stages"] == []
    assert rerun == fresh
    assert fresh["duplicate_groups"] == 1
    assert run_pipeline(spark, changed, CFG, root)["resumed_stages"] == list(STAGES)
    m = read_manifest(spark, root, "signatures")
    del m["input"]
    hfs.write_json(spark, f"{root}/signatures/_manifest.json", m)
    assert run_pipeline(spark, changed, CFG, root)["resumed_stages"] == []


def test_config_change_invalidates_checkpoints(spark, tiny_corpus, tmp_path):
    files = spark.createDataFrame(tiny_corpus.files)
    root = str(tmp_path / "ckpt3")
    run_pipeline(spark, files, CFG, root)
    other = DedupConfig(threshold=0.9, est_low_cut=0.4)
    res = run_pipeline(spark, files, other, root)
    assert res["resumed_stages"] == []


def test_default_sketch_identity_is_pinned():
    """Persisted streaming state resumes only under the same sketch
    identity; trimming verify-side config fields must not move it."""
    assert DedupConfig().sketch_identity() == "8a4615a3d618bba4"


# every table a fresh pass writes -> the counter its manifest reports
TABLE_COUNTERS = {
    "signatures": "files",
    "bands": "band_rows",
    "candidates": "candidate_pairs",
    "dropped_buckets": "dropped_buckets",
    "edges": "duplicate_edges",
    "clusters": "clustered_files",
}
EMPTY_FILES = "repo string, path string, commit string, lang string, content string"
MEGA_CFG = DedupConfig(threshold=0.8, est_low_cut=0.4, bucket_cap=20)


def _mega_bucket_files():
    """A flood of 40 identical files (every band bucket > cap 20) plus a
    viral license header over 30% of a 260-file corpus."""
    import pandas as pd

    corpus = make_corpus(n_files=260, n_clusters=10, seed=11)
    base = corpus.files
    flood_src = base.iloc[200]
    clones = pd.DataFrame(
        [
            {
                "repo": f"org/flood-{i:04d}",
                "path": "src/flood/copy.py",
                "commit": f"{i:040d}",
                "lang": "py",
                "content": flood_src.content,
            }
            for i in range(40)
        ]
    )
    viral = inject_viral_block(base, fraction=0.3, seed=7, repeats=10)
    return pd.concat([viral, clones], ignore_index=True)


@pytest.mark.parametrize("corpus", ["tiny", "mega_bucket", "empty"])
def test_fresh_counters_equal_table_recounts(spark, tiny_corpus, tmp_path, corpus):
    """A fresh pass's counters are its writes' observed row counts: each
    equals a recount of the table written, with capped buckets recorded
    (mega-bucket corpus) and on an empty input, whose writes AQE may empty
    out before the observed node runs."""
    cfg = MEGA_CFG if corpus == "mega_bucket" else CFG
    files = {
        "tiny": lambda: spark.createDataFrame(tiny_corpus.files),
        "mega_bucket": lambda: spark.createDataFrame(_mega_bucket_files()),
        "empty": lambda: spark.createDataFrame([], EMPTY_FILES),
    }[corpus]()
    root = str(tmp_path / "ckcount")
    got = run_pipeline(spark, files, cfg, root)
    assert got["resumed_stages"] == []
    recount = {
        counter: spark.read.parquet(f"{root}/{table}/data").count()
        for table, counter in TABLE_COUNTERS.items()
    }
    assert {k: got[k] for k in recount} == recount
    if corpus == "mega_bucket":
        assert got["dropped_buckets"] > 0
    if corpus == "empty":
        assert set(recount.values()) == {0}
        assert got["duplicate_groups"] == 0


# Spark jobs of one pass over tiny_corpus, AQE's shuffle-map jobs included.
# A fresh pass measured 17 once the input digest was observed during the
# signatures write (19 with a separate sha256 self-check job; 38 when each
# table was recounted and its schema inferred after the write).  A fully
# resumed pass measured 10, as with the self-check before it: 2 for the
# input digest, 5 parquet schema inferences (one per table read) and 3 for
# the duplicate-group count.
FRESH_PASS_JOBS = 17
RESUMED_PASS_JOBS = 10


def _pass_jobs(spark, files, root: str, group: str) -> int:
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)  # AQE's jobs inherit it
    try:
        run_pipeline(spark, files, CFG, root)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_pass_job_budget(spark, tiny_corpus, tmp_path):
    files = spark.createDataFrame(tiny_corpus.files)
    jobs = _pass_jobs(spark, files, str(tmp_path / "ckjobs"), "test-fresh-pass-jobs")
    assert 0 < jobs <= FRESH_PASS_JOBS + 2, jobs


def test_resumed_pass_job_budget(spark, tiny_corpus, tmp_path):
    files = spark.createDataFrame(tiny_corpus.files)
    root = str(tmp_path / "ckresume")
    run_pipeline(spark, files, CFG, root)
    jobs = _pass_jobs(spark, files, root, "test-resumed-pass-jobs")
    assert 0 < jobs <= RESUMED_PASS_JOBS + 2, jobs


def test_mega_bucket_star_cap_and_cluster_recall(spark, tmp_path):
    """F5 skew: a flood of identical files (every band bucket > cap) plus a
    viral license header.  The star cap must bound pair expansion to O(size)
    while the *cluster assignment* (the north-rule metric) stays equal to the
    exact-truth partition."""
    all_files = _mega_bucket_files()
    from probminhash_spark.corpus import exact_truth

    truth_pairs, truth_clusters = exact_truth(
        all_files["content"].tolist(), "char", 8, CFG.threshold
    )
    files = with_doc_id(spark.createDataFrame(all_files), ["repo", "path", "commit"])
    sigs = with_signature(files, MEGA_CFG).select("doc_id", "sig").cache()
    bands = band_explode(sigs, MEGA_CFG)
    pairs, capped = candidate_pairs(bands, MEGA_CFG)
    pairs = pairs.cache()
    n_pairs = pairs.count()
    # the flood group (41 members > cap=20) must be star-capped and audited
    assert capped.count() > 0, "expected mega buckets to be star-capped"
    n = len(all_files)
    assert n_pairs < n * (n - 1) / 2 / 4, "pair expansion must stay far from O(n^2)"
    # cluster-level recall: partitions must match exactly
    from probminhash_spark.operators.components import assign_clusters
    from probminhash_spark.operators.dedup import estimate_pair_jaccard, verify_pairs

    est = estimate_pair_jaccard(
        pairs, sigs.join(files.select("doc_id", "content"), "doc_id"), MEGA_CFG
    )
    edges = verify_pairs(est, MEGA_CFG)
    clustered = assign_clusters(files.select("doc_id"), edges)
    got = {r["doc_id"]: r["cluster_id"] for r in clustered.collect()}
    rows = files.select("repo", "path", "commit", "doc_id").collect()
    key_to_id = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in rows}
    pos = {
        i: key_to_id[(all_files.repo[i], all_files.path[i], all_files.commit[i])]
        for i in range(n)
    }
    oracle = {
        pos[int(r.doc_pos)]: pos[int(r.cluster_id)]
        for r in truth_clusters.itertuples()
    }

    def partition(assign):
        groups = {}
        for k, v in assign.items():
            groups.setdefault(v, set()).add(k)
        return {frozenset(g) for g in groups.values() if len(g) > 1}

    assert partition(got) == partition(oracle)
