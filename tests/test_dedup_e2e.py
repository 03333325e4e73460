"""End-to-end dedup slice (SURVEY.md §7 step 3 / FIXTURES.md F1 'tiny'):
sketch → band → candidates → verify → cluster, recall >= 0.99 vs exact
brute-force truth, clusters equal to the union-find oracle partition."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from probminhash_spark.config import DedupConfig
from probminhash_spark.operators import components
from probminhash_spark.operators.components import assign_clusters, connected_components
from probminhash_spark.operators.dedup import dedup_edges, with_doc_id
from test_components_kernel import union_find

CFG = DedupConfig(
    shingle_mode="char",
    shingle_size=8,
    algo="optdens",
    num_hashes=128,
    bands=32,
    rows=4,
    threshold=0.8,
    est_low_cut=0.4,
)


@pytest.fixture(scope="module")
def spark_files(spark, tiny_corpus):
    df = spark.createDataFrame(tiny_corpus.files)
    return with_doc_id(df, ["repo", "path", "commit"]).cache()


def _pos_map(tiny_corpus, spark_files):
    """doc position (truth index) -> doc_id (xxhash64 key)."""
    rows = spark_files.select("repo", "path", "commit", "doc_id").collect()
    key_to_id = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in rows}
    f = tiny_corpus.files
    return {
        pos: key_to_id[(f.repo[pos], f.path[pos], f.commit[pos])]
        for pos in range(len(f))
    }


def test_recall_and_precision_vs_bruteforce(spark, tiny_corpus, spark_files):
    edges = dedup_edges(spark_files, CFG).collect()
    found = {(min(e["id_l"], e["id_r"]), max(e["id_l"], e["id_r"])) for e in edges}
    pos = _pos_map(tiny_corpus, spark_files)
    truth = {
        (min(pos[a], pos[b]), max(pos[a], pos[b]))
        for a, b in zip(tiny_corpus.truth_pairs.id_l, tiny_corpus.truth_pairs.id_r)
    }
    assert truth, "fixture must plant duplicate pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall:.3f} < 0.99 ({len(truth)} truth pairs)"
    # exact verification makes precision exact (up to threshold boundary ties)
    assert found <= truth, f"false positives: {sorted(found - truth)[:5]}"


def test_cluster_assignment_matches_oracle(spark, tiny_corpus, spark_files):
    edges_df = dedup_edges(spark_files, CFG)
    clustered = assign_clusters(spark_files, edges_df).select("doc_id", "cluster_id")
    got = {r["doc_id"]: r["cluster_id"] for r in clustered.collect()}
    pos = _pos_map(tiny_corpus, spark_files)
    oracle = {
        pos[int(r.doc_pos)]: pos[int(r.cluster_id)]
        for r in tiny_corpus.truth_clusters.itertuples()
    }
    # compare as partitions (labels are representatives, ids differ)
    def partition(assign):
        groups = {}
        for k, v in assign.items():
            groups.setdefault(v, set()).add(k)
        return {frozenset(g) for g in groups.values()}

    assert partition(got) == partition(oracle)


def test_sha256_invariant_through_signature_stage(spark, spark_files, tmp_path):
    """SURVEY T3 / BASELINE.json: every row of the written signatures table
    carries the sha256 of its *input* content, and the table holds every
    input row once."""
    from probminhash_spark.pipeline.dedup_pipeline import run_pipeline

    root = str(tmp_path / "ck")
    got = run_pipeline(spark, spark_files.drop("doc_id"), CFG, root)
    sigs = spark.read.parquet(f"{root}/signatures/data")
    joined = sigs.select("doc_id", "content_sha256").join(
        spark_files.select("doc_id", F.sha2("content", 256).alias("want")), "doc_id"
    )
    n = spark_files.count()
    assert got["sha256_checked"] == sigs.count() == joined.count() == n
    assert joined.where(F.col("content_sha256") != F.col("want")).count() == 0


# gate values that force each side of connected_components' dispatch
PATHS = {"driver": 10**6, "star": 0}


def _components_by_path(edges, monkeypatch, **kw):
    """path -> the (id, component) frame connected_components returns with
    its gate forced to that path."""
    out = {}
    for path, gate in PATHS.items():
        monkeypatch.setattr(components, "_DRIVER_EDGES", gate)
        out[path] = connected_components(edges, **kw)
    return out


def test_connected_components_random_graphs(spark, monkeypatch):
    """Both sides of the gate against a union-find oracle, schema included."""
    rng = np.random.default_rng(3)
    for trial in range(3):
        n, m = 60, 45
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
            if a != b
        ]
        edges = spark.createDataFrame(pairs, "id_l long, id_r long")
        frames = _components_by_path(edges, monkeypatch)
        assert frames["driver"].schema == frames["star"].schema
        for path, comp in frames.items():
            got = {r["id"]: r["component"] for r in comp.collect()}
            assert got == union_find(pairs), (trial, path)


def test_connected_components_long_chain(spark, monkeypatch):
    """Adversarial chain: the star path must converge in O(log n) rounds."""
    n = 512
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_l long, id_r long"
    )
    for path, comp in _components_by_path(edges, monkeypatch, max_iterations=20).items():
        got = {r["id"]: r["component"] for r in comp.collect()}
        assert got == dict.fromkeys(range(n), 0), path


def test_connected_components_degenerate_graphs(spark, monkeypatch):
    """No edges, self-loops only, and duplicate/reversed edges: both paths
    agree with the oracle, and assign_clusters keeps untouched docs as their
    own cluster."""
    graphs = {
        "empty": [],
        "self_loops": [(3, 3), (5, 5), (5, 5)],
        "dup_reversed": [(4, 2), (2, 4), (4, 2), (7, 7), (9, 8), (8, 9), (2, 4)],
    }
    docs = spark.range(12).withColumnRenamed("id", "doc_id")
    for name, pairs in graphs.items():
        edges = spark.createDataFrame(pairs, "id_l long, id_r long")
        oracle = union_find([(a, b) for a, b in pairs if a != b])
        for path, gate in PATHS.items():
            monkeypatch.setattr(components, "_DRIVER_EDGES", gate)
            got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
            assert got == oracle, (name, path)
            clusters = {
                r["doc_id"]: r["cluster_id"] for r in assign_clusters(docs, edges).collect()
            }
            assert clusters == {d: oracle.get(d, d) for d in range(12)}, (name, path)


def test_connected_components_gate_boundary(spark, monkeypatch):
    """_DRIVER_EDGES edges label on the driver; one more takes the star path."""
    monkeypatch.setattr(components, "_DRIVER_EDGES", 8)
    calls = []
    star = components._star_components
    monkeypatch.setattr(
        components,
        "_star_components",
        lambda e, max_iterations: calls.append(1) or star(e, max_iterations),
    )
    for m, want_star in [(8, False), (9, True)]:
        calls.clear()
        pairs = [(i, i + 1) for i in range(m)]
        comp = connected_components(spark.createDataFrame(pairs, "id_l long, id_r long"))
        assert bool(calls) == want_star, m
        assert {r["component"] for r in comp.collect()} == {0}


def test_connected_components_over_gate_runs_edge_plan_once(spark, monkeypatch):
    """The size probe and the star path share one execution of a lazy edge
    plan: a counting UDF upstream of the edges sees every row exactly once."""
    monkeypatch.setattr(components, "_DRIVER_EDGES", 8)
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tap(x):
        seen.add(1)
        return x

    pairs = [(i, i + 1) for i in range(20)]
    edges = spark.createDataFrame(pairs, "id_l long, id_r long").select(
        tap("id_l").alias("id_l"), "id_r"
    )
    comp = connected_components(edges).collect()
    assert {r["component"] for r in comp} == {0}
    assert seen.value == len(pairs)


def _capped_dedup_edges(docs, cfg, on_capped):
    return dedup_edges(docs, cfg, id_col="doc_id", on_capped=on_capped)


def _capped_simhash(docs, cfg, on_capped):
    from probminhash_spark.operators.dedup import simhash_dup_pairs

    return simhash_dup_pairs(docs, cfg, on_capped=on_capped)


def _capped_ngram(docs, cfg, on_capped):
    from probminhash_spark.operators.exact_pairs import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        docs, 0.5, cfg=cfg, on_capped=on_capped, content_col="content"
    )


def _capped_weighted_token(docs, cfg, on_capped):
    from probminhash_spark.operators.exact_pairs import weighted_token_jaccard_pairs

    return weighted_token_jaccard_pairs(
        docs, 0.5, "[a-z]+", cfg=cfg, on_capped=on_capped, content_col="content"
    )


def _capped_substring(docs, cfg, on_capped):
    from probminhash_spark.operators.substring import substring_dup_pairs

    return substring_dup_pairs(
        docs, min_len=20, k=8, bucket_cap=cfg.bucket_cap, on_capped=on_capped
    )


def _capped_group_jaccard(docs, cfg, on_capped):
    from probminhash_spark.operators.sketch_ops import group_jaccard

    # 30 groups with identical union registers share every band bucket
    regs = np.arange(1, cfg.setsketch_m + 1, dtype="<u2").tobytes()
    sketches = docs.sparkSession.createDataFrame(
        [(f"g{i:02d}", regs) for i in range(30)], "key string, union_regs binary"
    )
    return group_jaccard(
        sketches, cfg, "key", threshold=0.5, mode="banded", on_capped=on_capped
    )


@pytest.mark.parametrize(
    "run",
    [
        _capped_dedup_edges,
        _capped_simhash,
        _capped_ngram,
        _capped_weighted_token,
        _capped_substring,
        _capped_group_jaccard,
    ],
    ids=lambda f: f.__name__.removeprefix("_capped_"),
)
def test_on_capped_fail_raises_on_viral_bucket(spark, run):
    """Contract mode, for every operator exposing ``on_capped``: a bucket
    over bucket_cap must raise loudly instead of silently star-capping
    (which diverges from an all-pairs oracle); the star default still
    connects the group through its anchor; any other policy is refused."""
    import pandas as pd

    from probminhash_spark.operators.cache import cache_scope

    # 30 identical docs -> every bucket has 30 members > cap of 8
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(30),
                "content": ["the same exact content repeated everywhere"] * 30,
            }
        )
    )
    cfg = DedupConfig(bucket_cap=8, threshold=0.5, est_low_cut=0.3)
    with cache_scope():
        with pytest.raises(RuntimeError, match="bucket_cap=8"):
            run(docs, cfg, "fail").collect()
    with cache_scope():
        assert run(docs, cfg, "star").count() >= 29
    with cache_scope():
        with pytest.raises(ValueError, match="bad on_capped"):
            run(docs, cfg, "drop")


def test_pair_join_size_gated_not_forced_broadcast(spark, spark_files):
    """The pair joins must not FORCE broadcast: with the broadcast thresholds
    disabled the plan degrades to a shuffled join (no driver OOM at 100x),
    and the edge output is identical either way."""
    from probminhash_spark.config import DedupConfig
    from probminhash_spark.operators.dedup import dedup_edges

    cfg = DedupConfig(threshold=0.5, est_low_cut=0.3)

    def run():
        edges = dedup_edges(spark_files, cfg, key_cols=["repo", "path", "commit"])
        rows = sorted((r["id_l"], r["id_r"]) for r in edges.collect())
        plan = edges._jdf.queryExecution().executedPlan().toString()
        return rows, plan

    default_rows, _ = run()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        gated_rows, gated_plan = run()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert gated_rows == default_rows
    assert "BroadcastHashJoin" not in gated_plan, gated_plan
    assert ("ShuffledHashJoin" in gated_plan) or ("SortMergeJoin" in gated_plan)


def test_edges_join_the_signature_frame_once_per_endpoint(spark, spark_files):
    """The estimate's endpoint joins carry each end's signature and content
    into verify, so the optimized edge plan holds ONE inner join per
    endpoint: 2, where separate signature and content joins made 4."""
    from probminhash_spark.operators.cache import cache_scope

    with cache_scope():
        edges = dedup_edges(spark_files, CFG)
        plan = edges._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join Inner") == 2, plan


@pytest.mark.parametrize(
    "algo", ["superminhash2", "revoptdens", "probminhash2", "superminhash", "probminhash3a"]
)
def test_recall_per_algo(spark, tiny_corpus, spark_files, algo):
    """Every cfg.algo reachable from the Spark surface must hit the recall
    target end-to-end (S7/S10/S13/S23/S26 wired through the same pipeline)."""
    import dataclasses

    cfg = dataclasses.replace(CFG, algo=algo)
    edges = dedup_edges(spark_files, cfg).collect()
    found = {(min(e["id_l"], e["id_r"]), max(e["id_l"], e["id_r"])) for e in edges}
    pos = _pos_map(tiny_corpus, spark_files)
    truth = {
        (min(pos[a], pos[b]), max(pos[a], pos[b]))
        for a, b in zip(tiny_corpus.truth_pairs.id_l, tiny_corpus.truth_pairs.id_r)
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.99, f"{algo}: recall {recall:.3f}"
    assert found <= truth, f"{algo}: false positives {sorted(found - truth)[:5]}"


@pytest.mark.parametrize("bits,eltype", [(32, "int"), (16, "smallint"), (8, "tinyint")])
def test_recall_with_folded_signatures(spark, tiny_corpus, spark_files, bits, eltype):
    """S25 signature folding: narrower slots shrink signature storage 2-8x
    and must keep end-to-end recall (collisions only inflate j_est; exact
    verification removes any false edge)."""
    import dataclasses

    from probminhash_spark.operators.dedup import with_signature

    cfg = dataclasses.replace(CFG, sig_bits=bits)
    sig_df = with_signature(spark_files, cfg)
    assert dict(sig_df.dtypes)["sig"] == f"array<{eltype}>"
    edges = dedup_edges(spark_files, cfg).collect()
    found = {(min(e["id_l"], e["id_r"]), max(e["id_l"], e["id_r"])) for e in edges}
    pos = _pos_map(tiny_corpus, spark_files)
    truth = {
        (min(pos[a], pos[b]), max(pos[a], pos[b]))
        for a, b in zip(tiny_corpus.truth_pairs.id_l, tiny_corpus.truth_pairs.id_r)
    }
    recall = len(found & truth) / len(truth)
    assert recall >= 0.99, f"sig_bits={bits}: recall {recall:.3f}"
    assert found <= truth, f"sig_bits={bits}: false positives"


def test_substring_dup_pairs_planted(spark):
    """Substring dedup: winnowing anchors must find every planted shared
    substring of length >= min_len, and the native verify must agree with a
    brute-force shared-gram check."""
    import pandas as pd

    from probminhash_spark.operators.substring import substring_dup_pairs

    rng = np.random.default_rng(23)

    def rand_text(n):
        return "".join(
            rng.choice(list("abcdefghijklmnopqrstuvwxyz 0123456789"), n)
        )

    shared = rand_text(25)  # >= min_len=20
    short_shared = rand_text(12)  # < min_len: must NOT create a pair alone
    rows = []
    for i in range(6):
        rows.append((i, rand_text(80) + shared + rand_text(80)))
    for i in range(6, 10):
        rows.append((i, rand_text(80) + short_shared + rand_text(80)))
    for i in range(10, 30):
        rows.append((i, rand_text(200)))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "content": [r[1] for r in rows]})
    )
    got = {
        (r["id_l"], r["id_r"])
        for r in substring_dup_pairs(docs, min_len=20, k=8, on_capped="fail").collect()
    }
    # brute-force truth: pairs sharing any 20-gram
    def grams(t):
        return {t[i : i + 20] for i in range(len(t) - 19)}

    g = {r[0]: grams(r[1]) for r in rows}
    truth = {
        (a, b)
        for a in g
        for b in g
        if a < b and g[a] & g[b]
    }
    assert got == truth
    planted = {(a, b) for a in range(6) for b in range(6) if a < b}
    assert planted <= got


def test_ensure_parallelism_is_plan_side(spark, tmp_path):
    """The parallelism guard must not convert the plan to an RDD (no .rdd):
    single small files fan out, scans with enough splits are left alone,
    caller-chosen repartitions are trusted, driver-local fileless plans
    fan out and other fileless plans are left alone."""
    import inspect

    import pandas as pd

    from probminhash_spark.operators import dedup as dedup_mod
    from probminhash_spark.operators.dedup import ensure_parallelism

    assert ".rdd" not in inspect.getsource(dedup_mod)

    p = str(tmp_path / "one.parquet")
    pd.DataFrame({"a": range(50), "text": ["x"] * 50}).to_parquet(p)
    scan = spark.read.parquet(p)
    fanned = ensure_parallelism(scan)
    assert "Repartition" in fanned._jdf.queryExecution().analyzed().toString()

    # a directory of defaultParallelism files scans as that many splits:
    # already fanned out, returned unchanged
    many = tmp_path / "many"
    many.mkdir()
    for i in range(spark.sparkContext.defaultParallelism):
        pd.DataFrame({"a": range(50), "text": ["x"] * 50}).to_parquet(
            str(many / f"part{i}.parquet")
        )
    wide = spark.read.parquet(str(many))
    assert ensure_parallelism(wide) is wide

    forced = spark.read.parquet(p).repartition(16)
    assert ensure_parallelism(forced) is forced  # caller's choice respected

    mem = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]}))
    assert ensure_parallelism(mem) is not mem  # LocalRelation: fan out
    lst = spark.createDataFrame([(1,), (2,)], "a int")
    assert ensure_parallelism(lst) is not lst  # LogicalRDD: fan out

    # fileless but NOT driver-local (range / JDBC / streaming-derived): the
    # source chose its partitioning — no unconditional shuffle (r3 ADVICE)
    rng = spark.range(0, 1000, 1, numPartitions=7)
    assert ensure_parallelism(rng) is rng


def test_weighted_verify_keeps_hot_token_pair(spark):
    """Weighted configs verify with the multiset Jaccard: a pair sharing one
    hot repeated token (J_w = 2/3) must survive although its distinct-set
    Jaccard is only 1/101."""
    import pandas as pd

    hot = "t " * 200  # J_w = 200/300 = 2/3, distinct-card ratio 1/101
    tail = " ".join(f"s{i}" for i in range(100))
    wdocs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "content": [hot.strip(), (hot + tail).strip()]})
    )
    cfg = DedupConfig(
        weighted=True,
        algo="probminhash3a",
        shingle_mode="token",
        shingle_size=1,
        threshold=0.4,
        est_low_cut=0.2,
        bands=64,
        rows=2,
        num_hashes=128,
    )
    edges = dedup_edges(wdocs, cfg).collect()
    got = {(r["id_l"], r["id_r"]) for r in edges}
    assert (1, 2) in got, "weighted J_w=2/3 pair must survive verification"


def test_exact_pairs_operators_cap_guard_and_star(spark):
    """Scale-path exact Jaccard operators: the viral-feature cap guard
    raises under on_capped='fail', the star path stays bounded, and the
    uncapped output equals a python brute force."""
    import dataclasses

    import pandas as pd
    import pytest

    from probminhash_spark.operators.exact_pairs import ngram_jaccard_pairs

    rng = np.random.default_rng(17)
    # 12 docs all sharing one viral 8-gram; two of them near-identical
    viral = "SHAREDGR"
    base = "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 64))
    texts = [
        viral + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 64))
        for _ in range(10)
    ] + [viral + base, viral + base + "x"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(12), "text": texts})
    )
    small_cap = dataclasses.replace(CFG, bucket_cap=4)
    with pytest.raises(RuntimeError, match="bucket_cap"):
        ngram_jaccard_pairs(docs, 0.5, cfg=small_cap, on_capped="fail").collect()
    # star path runs bounded and keeps exactness for pairs it emits
    star = ngram_jaccard_pairs(docs, 0.5, cfg=small_cap, on_capped="star").collect()
    for r in star:
        assert r["j_exact"] >= 0.5
    # uncapped: equals python brute force
    full = {
        (r["id_l"], r["id_r"]): r["j_exact"]
        for r in ngram_jaccard_pairs(docs, 0.5, on_capped="fail").collect()
    }
    grams = [
        {t[i : i + 8] for i in range(max(len(t) - 7, 1))} for t in texts
    ]
    brute = {}
    for a in range(12):
        for b in range(a + 1, 12):
            j = len(grams[a] & grams[b]) / len(grams[a] | grams[b])
            if j >= 0.5:
                brute[(a, b)] = j
    assert set(full) == set(brute)
    for k, v in brute.items():
        assert abs(full[k] - v) < 1e-12


def test_simhash_dup_pairs_planted(spark):
    """SimHash Hamming-ball dedup: few-token edits stay within the Hamming
    ball (block-join candidates + native bit_count verify); unrelated docs
    don't pair."""
    import pandas as pd

    from probminhash_spark.operators.dedup import simhash_dup_pairs

    rng = np.random.default_rng(8)
    vocab = [f"tok{i}" for i in range(5000)]

    def text(n):
        return " ".join(rng.choice(vocab, n))

    base = text(300)
    toks = base.split(" ")
    toks[5] = "changedword"
    near = " ".join(toks)
    rows = [(0, base), (1, near)] + [(i, text(300)) for i in range(2, 40)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "content": [r[1] for r in rows]})
    )
    cfg = DedupConfig(shingle_mode="token", shingle_size=1)
    got = {
        (r["id_l"], r["id_r"]): r["hamming"]
        for r in simhash_dup_pairs(docs, cfg, max_hamming=3).collect()
    }
    assert (0, 1) in got, f"planted near-dup missed: {got}"
    for (l, r), h in got.items():
        assert h <= 3


def test_keep_representatives(spark, tiny_corpus, spark_files):
    """Survivor count = n_docs - sum(cluster_size - 1); survivors are the
    min-id member of each cluster."""
    from probminhash_spark.operators.dedup import keep_representatives

    edges = dedup_edges(spark_files, CFG)
    surv = {r["doc_id"] for r in keep_representatives(spark_files, edges).collect()}
    from probminhash_spark.operators.components import assign_clusters

    clustered = assign_clusters(spark_files, edges).collect()
    groups = {}
    for r in clustered:
        groups.setdefault(r["cluster_id"], []).append(r["doc_id"])
    expect = {min(g) for g in groups.values()}
    assert surv == expect


def test_weighted_jaccard_udf_matches_bruteforce(spark):
    """make_pair_jaccard_udf on a weighted config == multiset min/max
    Jaccard computed the slow way on token counters."""
    import collections
    import re

    import pandas as pd

    from probminhash_spark.functions.sketch_udfs import make_pair_jaccard_udf

    rng = np.random.default_rng(12)
    vocab = [f"w{i}" for i in range(50)]

    def text(n):
        return " ".join(rng.choice(vocab, n))

    pairs = [(text(80), text(80)) for _ in range(20)] + [("", ""), ("a a a", "a b")]
    pdf = pd.DataFrame({"a": [p[0] for p in pairs], "b": [p[1] for p in pairs]})
    df = spark.createDataFrame(pdf)
    wj = make_pair_jaccard_udf(
        DedupConfig(shingle_mode="token", shingle_size=1, weighted=True)
    )
    got = [r["j"] for r in df.select(wj("a", "b").alias("j")).collect()]

    def brute(a, b):
        ca = collections.Counter(re.findall(r"[0-9A-Za-z_]+", a))
        cb = collections.Counter(re.findall(r"[0-9A-Za-z_]+", b))
        toks = set(ca) | set(cb)
        smin = sum(min(ca[t], cb[t]) for t in toks)
        smax = sum(max(ca[t], cb[t]) for t in toks)
        return smin / smax if smax else 1.0

    for (a, b), g in zip(pairs, got):
        assert abs(g - brute(a, b)) < 1e-12, (a[:20], b[:20], g, brute(a, b))


def test_null_content_pair_verify(spark):
    """r6 (ADVICE): NULL content must take the equal-content shortcut —
    NULL = NULL is NULL, so without coalesce('') a NULL/NULL pair would miss
    it (the verify UDF applies fillna('') and scores empty/empty as 1.0).  Two NULL
    docs and an ''-doc must be byte-identical dups of each other."""
    import dataclasses

    rows = [
        (1, None),
        (2, None),
        (3, ""),
        (4, "x" * 200),
        (5, "x" * 200),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    cfg = dataclasses.replace(CFG, threshold=0.5, est_low_cut=0.0)
    per_pair = {
        (r["id_l"], r["id_r"]): round(r["j_exact"], 9)
        for r in dedup_edges(docs, cfg).collect()
    }
    # the NULL/NULL and NULL/'' pairs verify at exactly 1.0
    assert per_pair.get((1, 2)) == 1.0
    assert {(1, 3), (2, 3)} <= set(per_pair)
