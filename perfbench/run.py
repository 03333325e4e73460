"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload on Spark ``local[<cores>]`` from this single driver
process, checks the outputs, and prints the result as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the
per-layer ones (from a separate, traced run).  All scratch files live under
``.perfbench_work/`` in the checkout and are removed at exit.

Exits 2 without a result when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def _args(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: Path) -> None:
    """Before the JVM starts: workers must import the package, and every
    temporary file must stay inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # gettempdir() caches the first answer
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM, the launcher's too: no /tmp perf-data files, no /tmp temp files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _session(work: Path, cores: int):
    from probminhash_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run attributes every stage of a pass; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _metric_specs() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
        "workloads": [w["name"] for w in spec["workloads"]],
    }


def main(argv=None) -> int:
    args = _args(argv)
    specs = _metric_specs()
    if args.workload not in specs["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        import probminhash_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from perfbench.procs import TreeRss, stop_spark
    from perfbench.tracing import write_spans
    from perfbench.workloads import LAYERS, WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    rss = TreeRss().start() if args.trace else None
    t0 = time.perf_counter()
    spark = _session(work, cores)
    run = Run(
        spark=spark,
        work=str(work),
        cores=cores,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        session_s=time.perf_counter() - t0,
    )
    try:
        end_to_end, per_layer = WORKLOADS[args.workload](run)
        if rss is not None:
            per_layer["memory.peak_rss_mb"] = rss.stop()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = specs["per_layer"]
        produced = per_layer
        for name in units:
            if name not in produced and not name.startswith(LAYERS[args.workload]):
                produced[name] = 0  # layer not exercised by this workload
        spans_path = WORK / f"spans-{args.workload}-{args.seed}.jsonl"
        write_spans(run.spans, spans_path)
    else:
        units = specs["end_to_end"]
        produced = end_to_end
    missing = sorted(set(units) - set(produced))
    run.check([f"metrics not produced: {missing}"] if missing else [])

    for failure in run.failures:
        print(f"FAILED: {failure}", file=sys.stderr)
    print(
        f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"cores={cores} sizes={json.dumps(run.sizes)} samples={json.dumps(run.samples)}"
    )
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {
            name: {"value": float(produced.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = str(ROOT)  # import the program and this package from the checkout
    raise SystemExit(main())
