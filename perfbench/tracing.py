"""Spans recorded from the benchmark's own files around calls into each layer.

A span has a name, start, end, parent and run id.  Opening a span tags every
Spark job submitted from the driver thread with the span's job group until
the span closes (or, for a *phase*, until the next phase opens), so Spark's
own stage metrics can be attributed to the span afterwards.  Spans stay in
memory; :func:`write_spans` writes them out when the run ends.

Nothing here changes the program: wrappers are installed by patching the
names the measured surface looks up, and removed again on exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, ExitStack
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float | None = None
    phase: bool = False
    prev_group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group_of(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.id}"

    def _open(self, name: str, phase: bool) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(
            id=len(self.spans) + 1,
            name=name,
            parent=parent,
            run=self.run_id,
            start=time.perf_counter(),
            phase=phase,
            prev_group=self.sc.getLocalProperty(_GROUP),
        )
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setLocalProperty(_GROUP, self.group_of(span))
        return span

    def _close_top(self) -> None:
        span = self._stack.pop()
        span.end = time.perf_counter()
        self.sc.setLocalProperty(_GROUP, span.prev_group)

    @contextmanager
    def span(self, name: str):
        """Interval span: covers exactly the body of the ``with`` block."""
        span = self._open(name, phase=False)
        try:
            yield span
        finally:
            while self._stack and self._stack[-1] is not span:
                self._close_top()  # phases left open inside this span
            self._close_top()

    def phase(self, name: str) -> Span:
        """Phase span: stays open after the call that opened it returns, so
        the lazy plan it built is charged to it when a later action runs.
        Ends when the next phase opens or the enclosing span closes."""
        if self._stack and self._stack[-1].phase:
            if self._stack[-1].name == name:
                return self._stack[-1]
            self._close_top()
        return self._open(name, phase=True)

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None


# ----------------------------------------------------------------- patching ---


@contextmanager
def patched(target, name: str, make_wrapper):
    """Replace ``target.name`` with ``make_wrapper(original)`` for the block."""
    original = getattr(target, name)
    setattr(target, name, make_wrapper(original))
    try:
        yield original
    finally:
        setattr(target, name, original)


def _phase_wrapper(tracer: Tracer, phase: str):
    def make(fn):
        def wrapper(*args, **kwargs):
            tracer.phase(phase)
            return fn(*args, **kwargs)

        return wrapper

    return make


def _span_wrapper(tracer: Tracer, name_of):
    def make(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args)):
                return fn(*args, **kwargs)

        return wrapper

    return make


def _counting_wrapper(tracer: Tracer, key: str):
    def make(fn):
        def wrapper(*args, **kwargs):
            span = tracer.current()
            if span is not None:
                span.counts[key] = span.counts.get(key, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    return make


# run_pipeline's imported operator names -> pipeline stage they open.  The
# estimate and verify joins execute in one write, so both belong to `edges`.
PIPELINE_PHASES = {
    "with_signature": "signatures",
    "band_explode": "bands",
    "candidate_pairs": "candidates",
    "estimate_pair_jaccard": "edges",
    "verify_pairs": "edges",
    "assign_clusters": "clusters",
}


@contextmanager
def trace_pipeline(tracer: Tracer):
    """Phase spans around the operators ``run_pipeline`` calls, and a
    checkpoint counter inside connected components (one per round, plus the
    initial edge checkpoint)."""
    from probminhash_spark.operators import components
    from probminhash_spark.pipeline import dedup_pipeline

    with ExitStack() as stack:
        for fn_name, phase in PIPELINE_PHASES.items():
            stack.enter_context(
                patched(dedup_pipeline, fn_name, _phase_wrapper(tracer, f"pipeline.{phase}"))
            )
        stack.enter_context(
            patched(
                components, "pin_local_checkpoint", _counting_wrapper(tracer, "checkpoints")
            )
        )
        yield


def _store(lsm) -> str:
    return lsm.delta_base.rstrip("/").rsplit("/", 1)[-1]


@contextmanager
def trace_streaming(tracer: Tracer, deduper):
    """Interval spans around each micro-batch, the LSM reads, writes and
    compactions, and the prior-edges anti-join."""
    from probminhash_spark.streaming import dedup_stream, lsm

    def batch_wrapper(fn):
        def wrapper(batch_df, batch_id):
            with tracer.span("streaming.batch") as span:
                fn(batch_df, batch_id)
            # the deduper's own debug counters for the batch just processed
            span.counts.update(
                candidate_input_rows=deduper.last_candidate_input_rows or 0,
                state_files=deduper.last_state_files_scanned or 0,
                state_bytes=deduper.last_state_bytes_scanned or 0,
                edges_files=deduper.last_edges_files_scanned or 0,
                edges_bytes=deduper.last_edges_bytes_scanned or 0,
            )

        return wrapper

    with ExitStack() as stack:
        stack.enter_context(patched(deduper, "process_batch", batch_wrapper))
        for method in ("read", "write_delta", "maybe_compact"):
            stack.enter_context(
                patched(
                    lsm.BucketedLsm,
                    method,
                    _span_wrapper(
                        tracer, lambda self, *a, _m=method: f"streaming.lsm.{_store(self)}.{_m}"
                    ),
                )
            )
        stack.enter_context(
            patched(
                dedup_stream,
                "prune_prior_edges",
                _span_wrapper(tracer, lambda *a: "streaming.lsm.edges_index.prune"),
            )
        )
        yield


# ------------------------------------------------------------ stage metrics ---


def _java_list(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def job_metrics(sc, tracer: Tracer) -> dict[int, list[dict]]:
    """Span id -> metrics of the Spark jobs submitted under its job group.

    Reads the status store directly (the UI is off): the job list for the
    group tags, and the five-argument ``stageList`` for per-stage executor
    run time, task count and shuffle bytes.
    """
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    groups = {tracer.group_of(s): s.id for s in tracer.spans}
    stages_of: dict[int, list[dict]] = {}
    jobs = _java_list(sc, store.jobsList(jvm.java.util.ArrayList()))
    job_span: list[tuple[int, list[int]]] = []
    for job in jobs:
        group = job.jobGroup()
        if not group.isDefined() or group.get() not in groups:
            continue
        ids = [int(i) for i in _java_list(sc, job.stageIds())]
        job_span.append((groups[group.get()], ids))
    stage_list = _java_list(
        sc,
        store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        ),
    )
    wanted = {i for _, ids in job_span for i in ids}
    for st in stage_list:
        sid = int(st.stageId())
        if sid in wanted and str(st.status()) != "SKIPPED":
            stages_of.setdefault(sid, []).append(
                {
                    "tasks": int(st.numCompleteTasks()),
                    "executor_s": int(st.executorRunTime()) / 1000.0,
                    "shuffle_bytes": int(st.shuffleWriteBytes()),
                }
            )
    out: dict[int, list[dict]] = {}
    for span_id, ids in job_span:
        job = {"tasks": 0, "executor_s": 0.0, "shuffle_bytes": 0}
        for sid in ids:
            for attempt in stages_of.get(sid, []):
                for k in job:
                    job[k] += attempt[k]
        out.setdefault(span_id, []).append(job)
    return out


def subtree_jobs(tracer: Tracer, jobs: dict[int, list[dict]], root: Span) -> list[dict]:
    """Jobs charged to ``root`` or any span below it."""
    children: dict[int | None, list[Span]] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out += jobs.get(s.id, [])
        todo += children.get(s.id, [])
    return out


def write_spans(spans: list[Span], path) -> None:
    keys = ("id", "name", "parent", "run", "start", "end", "counts")
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({k: getattr(s, k) for k in keys}) + "\n")
