"""Dedup job entry point.

Run: spark-submit --py-files probminhash_spark.zip jobs/dedup.py \
        --input <parquet dir or 'synthetic:N'> --output <dir> \
        [--config run.json] [--master local[8]]

Reads the source-file table (repo, path, commit, lang, content), runs
sketch -> band -> candidates -> verify -> cluster, writes stage tables and
manifests under --output (any Hadoop URI: hdfs://, s3a://, file://; a rerun
resumes from the first incomplete stage), prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from probminhash_spark.config import DedupConfig  # noqa: E402
from probminhash_spark.session import get_spark  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or synthetic:N")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--config", default=None, help="DedupConfig JSON (inline string or file path)"
    )
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    if args.config:
        raw = (
            args.config
            if args.config.lstrip().startswith("{")
            else Path(args.config).read_text()
        )
        # partial configs allowed: unspecified fields keep their defaults
        cfg = DedupConfig(**json.loads(raw))
    else:
        cfg = DedupConfig()
    spark = get_spark(app_name="probminhash-dedup", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()

    if args.input.startswith("synthetic:"):
        from probminhash_spark.corpus import generate_files

        n = int(args.input.split(":", 1)[1])
        files = spark.createDataFrame(
            generate_files(n_files=n, n_clusters=max(2, n // 25))
        )
    else:
        files = spark.read.parquet(args.input)

    from probminhash_spark.operators.cache import cache_scope
    from probminhash_spark.pipeline.dedup_pipeline import run_pipeline

    # build + execute inside one cache scope: operator-internal persists are
    # released on exit, so a long-lived daemon reusing this module holds no
    # residual cached relations between runs
    with cache_scope():
        summary = run_pipeline(spark, files, cfg, args.output)
    summary["wall_clock_sec"] = round(time.time() - t0, 2)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
