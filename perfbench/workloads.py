"""The workloads: each sets up, warms up, measures and checks one surface.

Both run ``run_pipeline`` (what ``jobs/dedup.py`` runs), one pass per fresh
checkpoint root, on generated corpora that differ in how many files are
planted near-duplicates:

- ``batch_unique``: one cluster per 25 files (about 14% of files planted).
  Its traced run also drains the same kind of corpus through
  ``StreamingDeduper.attach`` (what ``jobs/dedup_stream.py`` runs).
- ``batch_dupdense``: one cluster per 4 files (about 88% planted).  Its
  traced run also runs the 15 ``sketch_*`` entries of
  ``__spark_entry__.queries()``, the driver surface.

A workload function returns ``(end_to_end, per_layer)`` metric dicts; only
the one matching ``--trace`` is filled.  Operations and output checks are
counted on the :class:`Run`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from functools import partial

import pandas as pd

from probminhash_spark.config import DedupConfig

from . import checks, inputs
from .kernel_timing import kernel_rates
from .tracing import Tracer, job_metrics, subtree_jobs, trace_pipeline, trace_streaming

CFG = DedupConfig()
STREAM_SCHEMA = "repo string, path string, commit string, lang string, content string"

# input sizes (also recorded in BENCHMARK.json's workload rationale)
BATCH_FILES = 2000
FILES_PER_CLUSTER = {"batch_unique": 25, "batch_dupdense": 4}
# warm-up: passes over the corpus's first files.  A pass costs ~6 s of Spark
# planning and scheduling whatever its size, and the JIT needs a few passes
# before that settles; the data-dependent part warms within one pass.
BATCH_WARMUP_FILES = 100
BATCH_WARMUP_PASSES = 1
DRIVER_DOCS = 200
DRIVER_PLANTED = 20  # near-copies added to the documents table
# traced drain: job default of 64 state buckets; compact_every=1 gives two
# compactions in three micro-batches
STREAM_BATCHES = 3
STREAM_FILES_PER_BATCH = 80
STREAM_REINGEST = 8
STREAM_BUCKETS = 64
STREAM_COMPACT_EVERY = 1
# a pass's time falls for several passes (JIT) and the shared host's speed
# drifts by tens of percent over minutes; the fastest of at least two
# measured passes is the steadiest per-run figure (best-of-N, as bench.py).
# With run_seconds below two passes' time, every run measures exactly two,
# so the figure does not depend on how many passes fit.
MIN_PASSES = 2
RECALL_FLOOR = 1.0  # LSH misses a J >= 0.8 pair with p < 1e-7
GEN_REPEATS = 3


@dataclass
class Run:
    spark: object
    work: str
    cores: int
    seed: int
    seconds: float
    trace: bool
    session_s: float
    sizes: dict = field(default_factory=dict)
    attempted: int = 0
    failures: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)

    def op(self, what: str, fn, *args, **kwargs):
        """Run one counted operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def check(self, messages: list[str]) -> None:
        self.attempted += 1
        if messages:
            self.failures.append("; ".join(messages))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def measure(self, what: str, fn, *args) -> list:
        """Repeat ``fn`` until ``seconds`` are spent and MIN_PASSES ran;
        returns the successful results."""
        out, start = [], time.perf_counter()
        while len(out) < MIN_PASSES or time.perf_counter() - start < self.seconds:
            result = self.op(what, fn, *args)
            if result is None:
                break
            out.append(result)
        return out


def _generate(run: Run, make) -> tuple[pd.DataFrame, float]:
    """Build the inputs GEN_REPEATS times (median time); the copies must be
    identical, since the same seed has to give the same inputs."""
    times, outs = [], []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        outs.append(make())
        times.append(time.perf_counter() - t0)
    same = all(o.equals(outs[0]) for o in outs[1:])
    run.check([] if same else ["the same seed generated different inputs"])
    return outs[0], statistics.median(times)


def _du(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------------------------ batch ---


def _pipeline_pass(run: Run, files_df, root: str):
    from probminhash_spark.operators.cache import cache_scope
    from probminhash_spark.pipeline.dedup_pipeline import run_pipeline

    _fresh(root)
    t0 = time.perf_counter()
    with cache_scope():
        counters = run_pipeline(run.spark, files_df, CFG, root)
    return time.perf_counter() - t0, counters


def batch(run: Run, workload: str):
    spark = run.spark
    per_cluster = FILES_PER_CLUSTER[workload]
    files, gen_s = _generate(
        run, lambda: inputs.batch_corpus(BATCH_FILES, per_cluster, run.seed)
    )
    os.makedirs(run.path("input"))
    src, warm_src = run.path("input", "files.parquet"), run.path("input", "warm.parquet")
    t0 = time.perf_counter()
    inputs.write_parquet(files, src)
    inputs.write_parquet(files.iloc[:BATCH_WARMUP_FILES], warm_src)
    files_df = spark.read.parquet(src)
    warm_df = spark.read.parquet(warm_src)
    for i in range(BATCH_WARMUP_PASSES):
        run.op("warm-up pass", _pipeline_pass, run, warm_df, run.path(f"ckpt-warm{i}"))
    setup_s = run.session_s + gen_s + time.perf_counter() - t0
    run.sizes.update(files=len(files), content_bytes=inputs.content_bytes(files))
    if run.trace:
        layers = _batch_traced(run, files, files_df)
        layers.update(TRACED_EXTRA[workload](run))
        return None, layers

    root = run.path("ckpt")  # each pass overwrites the previous one's tables
    passes = run.measure("pipeline pass", _pipeline_pass, run, files_df, root)
    run.check(checks.check_same_counters([c for _, c in passes]))
    recall = (0, 0)
    if passes:
        edges = spark.read.parquet(os.path.join(root, "edges", "data")).toPandas()
        run.check(checks.check_pipeline_edges(edges, CFG.threshold))
        clusters = spark.read.parquet(os.path.join(root, "clusters", "data"))
        clusters = clusters.select("doc_id", "cluster_id").toPandas()
        planted = inputs.planted_pairs(files, CFG)
        recall = checks.pipeline_recall(clusters, planted, checks.doc_ids(spark, files))
        run.check(checks.check_recall(*recall, RECALL_FLOOR))
    walls = [w for w, _ in passes]
    pass_s = min(walls) if walls else 0.0
    run.samples.update(planted_pairs=recall[1], pass_s=[round(w, 3) for w in walls])
    return {
        "setup_s": setup_s,
        "files_per_s": len(files) / pass_s if pass_s else 0.0,
        "pass_s": pass_s,
        "planted_recall": checks.recall(*recall),
    }, None


def _batch_traced(run: Run, files, files_df) -> dict:
    spark = run.spark
    base = run.op("untraced pass", _pipeline_pass, run, files_df, run.path("ckpt-base"))
    tracer = Tracer(spark.sparkContext, f"{run.seed}")
    with trace_pipeline(tracer), tracer.span("pipeline.pass") as top:
        out = run.op("traced pass", _pipeline_pass, run, files_df, run.path("ckpt-traced"))
    run.check(checks.check_same_counters([p[1] for p in (base, out) if p]))
    layers = _pipeline_layers(run, tracer, top, out[1] if out else {})
    layers["trace.overhead_s"] = top.wall_s - base[0] if base and out else 0.0
    run.spans += tracer.spans

    texts = files["content"].tolist()
    rates = kernel_rates(texts)
    layers.update({f"kernels.{k}.docs_per_s": v for k, v in rates.items()})
    kernel_s = len(texts) * (1 / rates["shingles"] + 1 / rates["optdens"])
    layers["functions.sketch_overhead_s"] = layers["pipeline.signatures.executor_s"] - kernel_s
    return layers


_STAGE_ROWS = {
    "signatures": "files",
    "bands": "band_rows",
    "candidates": "candidate_pairs",
    "edges": "duplicate_edges",
    "clusters": "clustered_files",
}


def _pipeline_layers(run: Run, tracer: Tracer, top, counters: dict) -> dict:
    jobs = job_metrics(run.spark.sparkContext, tracer)
    out, phase_wall = {}, 0.0
    for stage, counter in _STAGE_ROWS.items():
        spans = [s for s in tracer.spans if s.name == f"pipeline.{stage}"]
        wall = sum(s.wall_s for s in spans)
        js = [j for s in spans for j in subtree_jobs(tracer, jobs, s)]
        ex = sum(j["executor_s"] for j in js)
        phase_wall += wall
        out[f"pipeline.{stage}.wall_s"] = wall
        out[f"pipeline.{stage}.executor_s"] = ex
        out[f"pipeline.{stage}.busy_ratio"] = ex / (wall * run.cores) if wall else 0.0
        out[f"pipeline.{stage}.tasks"] = sum(j["tasks"] for j in js)
        out[f"pipeline.{stage}.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in js)
        out[f"pipeline.{stage}.rows"] = counters.get(counter, 0)
    out["pipeline.pass.wall_s"] = top.wall_s
    out["pipeline.other.wall_s"] = top.wall_s - phase_wall
    out["pipeline.edges.yield"] = (
        counters.get("duplicate_edges", 0) / counters["candidate_pairs"]
        if counters.get("candidate_pairs")
        else 0.0
    )
    checkpoints = sum(
        s.counts.get("checkpoints", 0) for s in tracer.spans if s.name == "pipeline.clusters"
    )
    out["operators.components.rounds"] = max(checkpoints - 1, 0)
    return out


# ---------------------------------------------------- streaming (traced) ---


def _write_stream_dir(path: str, batches: list[pd.DataFrame]) -> None:
    os.makedirs(path)
    base = time.time() - 3600  # fixed arrival order: one second apart
    for i, part in enumerate(batches):
        inputs.write_parquet(part, os.path.join(path, f"part-{i:05d}.parquet"), base + i)


def _drain(run: Run, in_dir: str, tracer: Tracer):
    """One availableNow drain (one file per micro-batch) into fresh state and
    checkpoint dirs, traced; returns (micro-batch seconds, deduper)."""
    from probminhash_spark.streaming.dedup_stream import StreamingDeduper

    spark = run.spark
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    deduper = StreamingDeduper(
        spark,
        CFG,
        _fresh(run.path("state")),
        state_buckets=STREAM_BUCKETS,
        compact_every=STREAM_COMPACT_EVERY,
    )
    deduper.debug_metrics = True
    with trace_streaming(tracer, deduper), tracer.span("streaming.drain"):
        query = deduper.attach(stream, _fresh(run.path("ckpt-stream")))
        query.awaitTermination()  # raises if the query failed
    batches = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in query.recentProgress
        if p["numInputRows"] > 0
    ]
    return batches, deduper


def _stream_layers(run: Run) -> dict:
    """Drain a seeded micro-batch split of the same generator's files:
    planted clusters shuffled across batches, planted files of earlier
    batches re-ingested in later ones."""
    spark = run.spark
    batches = inputs.stream_batches(
        STREAM_BATCHES, STREAM_FILES_PER_BATCH, STREAM_REINGEST, run.seed
    )
    in_dir = run.path("stream-input")
    _write_stream_dir(in_dir, batches)
    rows = pd.concat(batches, ignore_index=True)
    tracer = Tracer(spark.sparkContext, f"{run.seed}-stream")
    out = run.op("drain", _drain, run, in_dir, tracer)
    run.spans += tracer.spans
    if out is None:
        return {}
    batch_s, deduper = out
    run.samples["micro_batch_s"] = [round(b, 3) for b in batch_s]
    run.check([] if len(batch_s) == len(batches) else [f"{len(batch_s)} micro-batches"])
    edges = spark.read.parquet(f"{deduper.state_dir}/edges").select("id_l", "id_r").toPandas()
    run.check(checks.check_unique_edges(edges))
    planted = inputs.planted_pairs(rows, CFG)
    found = checks.stream_recall(edges, planted, checks.doc_ids(spark, rows))
    run.check(checks.check_recall(*found, RECALL_FLOOR))

    jobs = job_metrics(spark.sparkContext, tracer)

    def spans(*names):
        return [s for s in tracer.spans if s.name in names]

    def wall(*names):
        return sum(s.wall_s for s in spans(*names))

    batch_spans = spans("streaming.batch")
    batch_jobs = [j for s in batch_spans for j in subtree_jobs(tracer, jobs, s)]
    ex = sum(j["executor_s"] for j in batch_jobs)
    batch_wall = wall("streaming.batch")
    compactions = spans(
        "streaming.lsm.bands.maybe_compact", "streaming.lsm.edges_index.maybe_compact"
    )
    files, size = _du(deduper.state_dir)

    def count(key):
        return sum(s.counts.get(key, 0) for s in batch_spans)

    return {
        "streaming.batch.jobs": len(batch_jobs),
        "streaming.batch.executor_s": ex,
        "streaming.batch.busy_ratio": ex / (batch_wall * run.cores) if batch_wall else 0.0,
        "streaming.batch.p50_s": statistics.median(batch_s) if batch_s else 0.0,
        "streaming.lsm.bands.read_s": wall("streaming.lsm.bands.read"),
        "streaming.lsm.bands.files_read": count("state_files"),
        "streaming.lsm.bands.bytes_read": count("state_bytes"),
        "streaming.lsm.edges_index.prune_s": wall("streaming.lsm.edges_index.prune"),
        "streaming.lsm.edges_index.files_read": count("edges_files"),
        "streaming.lsm.edges_index.bytes_read": count("edges_bytes"),
        "streaming.lsm.write_delta_s": wall(
            "streaming.lsm.bands.write_delta", "streaming.lsm.edges_index.write_delta"
        ),
        "streaming.lsm.compact_s": sum(s.wall_s for s in compactions),
        "streaming.lsm.compactions": sum(
            1 for s in compactions if subtree_jobs(tracer, jobs, s)
        ),
        "streaming.candidates.input_rows": count("candidate_input_rows"),
        "streaming.state.files": files,
        "streaming.state.bytes": size,
        "streaming.state.bytes_per_input_byte": size / inputs.content_bytes(rows),
        "streaming.planted_recall": checks.recall(*found),
    }


# ------------------------------------------------------- driver (traced) ---


def _driver_pass(run: Run, queries: dict, sf: str, tracer: Tracer):
    """One pass over the queries, each written to the ``noop`` sink inside
    its own span."""
    for name, query in queries.items():
        with tracer.span(f"entry.{name}"):
            run.op(name, _noop_write, query, run.spark, sf)


def _noop_write(query, spark, sf: str) -> None:
    query(spark, sf).write.format("noop").mode("overwrite").save()


def _digest(query, spark, sf: str) -> tuple[int, int, int]:
    return checks.query_digest(query(spark, sf))


def _digest_pass(run: Run, queries: dict, sf: str, n_docs: int) -> dict:
    """Every query's (rows, distinct doc ids, checksum); per-document queries
    must return one row per document, the others at least one row."""
    out = {}
    for name, query in queries.items():
        digest = run.op(f"{name} digest", _digest, query, run.spark, sf)
        if digest is not None:
            out[name] = digest
            run.check(checks.check_query(name, digest, n_docs, per_doc=digest[1] >= 0))
    return out


# per-document signature queries whose ``sig_str`` the planted-pair check reads
SIGNATURE_QUERIES = (
    "sketch_signatures",
    "sketch_signatures_sha",
    "sketch_superminhash",
    "sketch_superminhash2",
    "sketch_probminhash2",
    "sketch_revoptdens",
)


def _entry_layers(run: Run) -> dict:
    """The 15 ``sketch_*`` driver queries over a seeded ``documents`` table:
    a digest pass (also the warm-up: a query's first run is 2-30x slower), a
    traced pass, and a second digest pass that must match the first."""
    import __spark_entry__ as entry

    docs = inputs.driver_documents(DRIVER_DOCS, DRIVER_PLANTED, run.seed)
    sf = run.path("sf")
    os.makedirs(sf)
    inputs.write_parquet(docs, os.path.join(sf, "documents.parquet"))
    queries = {k: v for k, v in entry.queries().items() if k.startswith("sketch_")}
    first = _digest_pass(run, queries, sf, len(docs))
    tracer = Tracer(run.spark.sparkContext, f"{run.seed}-entry")
    with tracer.span("entry.pass"):
        _driver_pass(run, queries, sf, tracer)
    run.spans += tracer.spans
    second = _digest_pass(run, queries, sf, len(docs))
    for name in queries:
        run.check(checks.check_stable(name, [d[name] for d in (first, second) if name in d]))
    planted = inputs.planted_doc_pairs(docs, DRIVER_DOCS, CFG)
    recall = checks.sketch_recall(
        {q: queries[q](run.spark, sf) for q in SIGNATURE_QUERIES}, planted, CFG.est_low_cut
    )
    run.check(checks.check_recall(*recall, RECALL_FLOOR))

    jobs = job_metrics(run.spark.sparkContext, tracer)
    layers = {"entry.planted_recall": checks.recall(*recall)}
    for span in tracer.spans:
        if span.name != "entry.pass":
            layers[f"{span.name}.wall_s"] = span.wall_s
            layers[f"{span.name}.executor_s"] = sum(
                j["executor_s"] for j in subtree_jobs(tracer, jobs, span)
            )
    return layers


TRACED_EXTRA = {"batch_unique": _stream_layers, "batch_dupdense": _entry_layers}
WORKLOADS = {name: partial(batch, workload=name) for name in FILES_PER_CLUSTER}

# per-layer metric prefixes each workload's traced run measures; the others
# are reported as 0 there (that layer does no work on that workload)
_BATCH_LAYERS = ("pipeline.", "operators.", "functions.", "kernels.", "memory.", "trace.")
LAYERS = {
    "batch_unique": _BATCH_LAYERS + ("streaming.",),
    "batch_dupdense": _BATCH_LAYERS + ("entry.",),
}
