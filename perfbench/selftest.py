"""Fast self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. The output checks reject corrupted outputs (a planted pair split apart,
   a planted edge removed, an edge below threshold, a repeated stream edge,
   a flipped signature slot, a missing driver row, counters or checksums
   that differ between passes).
2. Every workload, untraced and traced, prints each metric BENCHMARK.json
   names, with its unit, and passes its own checks.
3. Run from a directory holding only BENCHMARK.json and ``perfbench/``, the
   benchmark exits non-zero without printing a result.

Exits 1 on the first failed expectation.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def check_corruptions() -> None:
    import pandas as pd

    from perfbench import checks, inputs
    from perfbench.workloads import CFG, RECALL_FLOOR

    files = inputs.batch_corpus(200, 25, seed=3)
    planted = inputs.planted_pairs(files, CFG)
    expect(len(planted) > 0, "tiny corpus has planted pairs")
    ids = list(range(len(files)))
    # a perfect clustering: each planted pair shares its first member's label
    label = {i: i for i in ids}
    for a, b in sorted(planted):
        label[b] = label[a]
    clusters = pd.DataFrame({"doc_id": ids, "cluster_id": [label[i] for i in ids]})
    found, total = checks.pipeline_recall(clusters, planted, ids)
    expect(not checks.check_recall(found, total, RECALL_FLOOR), "perfect clusters pass")
    split = clusters.copy()
    split.loc[split["doc_id"] == planted[0][1], "cluster_id"] = -1
    found, total = checks.pipeline_recall(split, planted, ids)
    expect(bool(checks.check_recall(found, total, RECALL_FLOOR)), "one planted pair split fails")

    edges = pd.DataFrame({"id_l": [a for a, _ in planted], "id_r": [b for _, b in planted]})
    found, total = checks.stream_recall(edges, planted, ids)
    expect(not checks.check_recall(found, total, RECALL_FLOOR), "all planted edges pass")
    found, total = checks.stream_recall(edges.iloc[1:], planted, ids)
    expect(bool(checks.check_recall(found, total, RECALL_FLOOR)), "one planted edge removed fails")
    expect(not checks.check_unique_edges(edges), "distinct stream edges pass")
    expect(
        bool(checks.check_unique_edges(pd.concat([edges, edges.iloc[:1]]))),
        "a repeated stream edge fails",
    )
    ok_edges = pd.DataFrame({"j_exact": [0.9, CFG.threshold]})
    bad_edges = pd.DataFrame({"j_exact": [0.9, CFG.threshold - 0.01]})
    expect(not checks.check_pipeline_edges(ok_edges, CFG.threshold), "edges at threshold pass")
    expect(bool(checks.check_pipeline_edges(bad_edges, CFG.threshold)), "edge below threshold fails")
    expect(bool(checks.check_same_counters([{"edges": 3}, {"edges": 2}])), "counter drift fails")
    expect(checks.slot_agreement("-1-2--3", "-1-2--3") == 1.0, "equal signatures agree")
    expect(
        abs(checks.slot_agreement("-1-2-3", "-1-2--3") - 2 / 3) < 1e-9,
        "a slot differing only in sign disagrees",
    )
    expect(bool(checks.check_query("q", (9, 9, 1), 10, per_doc=True)), "missing driver row fails")
    expect(bool(checks.check_stable("q", [(10, 10, 1), (10, 10, 2)])), "unstable digest fails")


def run_tiny(workload: str, trace: int) -> dict:
    from perfbench import run

    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(
            ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]
        )
    expect(code == 0, f"{workload} trace={trace} exits 0")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def check_metrics() -> None:
    from perfbench import workloads as w

    # tiny shapes: enough to reach every code path, far from the real sizes
    w.BATCH_FILES = 150
    w.BATCH_WARMUP_FILES = 30
    w.BATCH_WARMUP_PASSES = 1
    w.DRIVER_DOCS = 80
    w.DRIVER_PLANTED = 5
    w.STREAM_BATCHES = 2
    w.STREAM_FILES_PER_BATCH = 12
    w.STREAM_REINGEST = 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for workload in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result = run_tiny(workload, trace)
            expect(
                set(result) == {"correct", "attempted", "failed", "metrics"},
                f"{workload} trace={trace} result keys",
            )
            expect(
                result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                f"{workload} trace={trace} outputs pass their checks",
            )
            wanted = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == wanted, f"{workload} trace={trace} prints every {key} metric with its unit")
            values = {k: v["value"] for k, v in result["metrics"].items()}
            must = list(wanted) if trace == 0 else POSITIVE_LAYERS[workload]
            zero = [k for k in must if not values[k] > 0]
            expect(not zero, f"{workload} trace={trace} metrics that must be positive are {zero}")


# per-layer metrics whose being 0 would mean the tracing lost its attribution
POSITIVE_LAYERS = {
    "batch_unique": [
        "pipeline.signatures.executor_s",
        "pipeline.signatures.tasks",
        "pipeline.clusters.wall_s",
        "operators.components.rounds",
        "kernels.optdens.docs_per_s",
        "memory.peak_rss_mb",
        "streaming.batch.jobs",
        "streaming.batch.executor_s",
        "streaming.lsm.compactions",
        "streaming.state.bytes",
    ],
    "batch_dupdense": [
        "pipeline.edges.executor_s",
        "pipeline.edges.rows",
        "entry.sketch_signatures.wall_s",
        "entry.sketch_signatures.executor_s",
        "entry.sketch_group_rollup.executor_s",
        "entry.planted_recall",
    ],
}


def check_bare_directory() -> None:
    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(
        ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_unique", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, env=env, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare, ignore_errors=True)
    expect(proc.returncode != 0, "bare directory exits non-zero")
    expect('"metrics"' not in proc.stdout, "bare directory prints no result")


def main() -> int:
    sys.path[0] = str(ROOT)
    check_corruptions()
    check_bare_directory()
    check_metrics()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
