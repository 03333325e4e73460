"""Streaming dedup job entry point.

Run: spark-submit --py-files probminhash_spark.zip jobs/dedup_stream.py \
        --input <dir watched for parquet files> --state <state dir> \
        [--checkpoint <dir>] [--config run.json] [--master local[8]] \
        [--continuous]

Watches ``--input`` for arriving parquet files of the source-file table
(repo, path, commit, lang, content) and runs the incremental near-dup
pipeline (`StreamingDeduper`): each micro-batch is sketched, banded and
joined against the accumulated LSM band state under ``--state``; candidate
duplicate pairs with their ``band_hit_rate`` (no exact verify runs) land in
``<state>/edges/batch_id=K``.

Default trigger is ``availableNow`` (drain what's there, then exit —
cron-friendly, exactly the 100 TB backfill/ingest pattern); pass
``--continuous`` for a long-running micro-batch loop.  State and checkpoint
dirs may be any Hadoop-supported URI (hdfs://, s3a://, file://).

Prints one JSON summary line after termination (availableNow mode).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from probminhash_spark import hfs  # noqa: E402
from probminhash_spark.config import DedupConfig  # noqa: E402
from probminhash_spark.session import get_spark  # noqa: E402

SCHEMA = "repo string, path string, commit string, lang string, content string"


def _count_edges(spark, edges_dir: str) -> int:
    # an all-empty write leaves only _SUCCESS behind, and reading that would
    # fail schema inference
    if not hfs.glob_dirs(spark, f"{edges_dir}/batch_id=*"):
        return 0
    return spark.read.parquet(edges_dir).count()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir watched for parquet files")
    ap.add_argument("--state", required=True, help="band/edge state dir (URI ok)")
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="default: <state>/_checkpoint (per-engine); explicit paths get "
        "an engine=<engine> suffix so the engines never share a checkpoint",
    )
    ap.add_argument(
        "--config", default=None, help="DedupConfig JSON (inline string or file path)"
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--state-buckets",
        type=int,
        default=64,
        help="bucket count of the band state and the edges index (both "
        "engines); pinned in the state dir on the first batch",
    )
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument(
        "--continuous",
        action="store_true",
        help="run until killed instead of draining available input and exiting",
    )
    ap.add_argument(
        "--ttl",
        default=None,
        help="state-store engine only, requires --continuous: sliding dedup "
        "window (e.g. '6 hours') — band buckets idle past it are evicted, "
        "bounding checkpoint state on unbounded streams; a post-window "
        "re-ingestion can re-pair (already-emitted pairs are still dropped "
        "by the edges index).  Continuous-only because pending processing-"
        "time timers keep an availableNow drain scheduling empty batches "
        "instead of terminating",
    )
    ap.add_argument(
        "--engine",
        choices=["lsm", "state-store"],
        default="lsm",
        help="lsm: parquet band state with bucketed segments (inspectable "
        "tables); state-store: applyInPandasWithState band state inside the "
        "checkpoint (point lookups; pair with "
        "spark.sql.streaming.stateStore.providerClass=...RocksDB... )",
    )
    args = ap.parse_args(argv)
    if args.ttl and args.engine != "state-store":
        ap.error("--ttl applies to --engine state-store only (the LSM "
                 "engine's state is external parquet; prune it by compaction)")
    if args.ttl and not args.continuous:
        ap.error("--ttl requires --continuous: a TTL'd query holds pending "
                 "processing-time timers, so an availableNow drain never "
                 "self-terminates")

    # Engine-disjoint checkpoints even when --checkpoint is user-supplied:
    # the two engines keep different state under different semantics, and a
    # file-source checkpoint reused across an --engine switch would silently
    # drain ZERO batches while reporting the other engine's edge counts.
    # Default paths were already disjoint; suffix explicit ones the same way.
    user_ckpt = (
        f"{args.checkpoint.rstrip('/')}/engine={args.engine}"
        if args.checkpoint
        else None
    )

    if args.config:
        raw = (
            args.config
            if args.config.lstrip().startswith("{")
            else Path(args.config).read_text()
        )
        cfg = DedupConfig(**json.loads(raw))
    else:
        cfg = DedupConfig()
    spark = get_spark(app_name="probminhash-dedup-stream", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    # An explicitly supplied --checkpoint that holds a legacy
    # (un-suffixed) checkpoint would be silently orphaned by the engine
    # suffix — the job would start a fresh file-source checkpoint and
    # re-drain the entire input as new batches against the existing state.
    # Detect the legacy layout (offsets/ at the un-suffixed path, nothing at
    # the suffixed one) and fail with migration instructions instead.
    if user_ckpt:
        legacy = f"{args.checkpoint.rstrip('/')}/offsets"
        if hfs.exists(spark, legacy) and not hfs.exists(
            spark, f"{user_ckpt}/offsets"
        ):
            raise SystemExit(
                f"--checkpoint {args.checkpoint} holds a legacy (pre-engine-"
                f"suffix) streaming checkpoint, but this run would use "
                f"{user_ckpt} and silently RE-DRAIN the whole input against "
                "the existing state.  Either move the legacy checkpoint "
                f"contents under {user_ckpt}/ (same engine as before), or "
                "point --checkpoint/--state at fresh directories."
            )

    stream = spark.readStream.schema(SCHEMA).parquet(args.input)
    t0 = time.time()
    if args.engine == "state-store":
        # engine-disjoint checkpoint + edges paths: the two engines keep
        # different state (parquet LSM vs engine store) under different
        # semantics, and sharing the LSM's file-source checkpoint would make
        # a later --engine switch silently drain ZERO batches while
        # reporting the other engine's edge counts
        from probminhash_spark.streaming.state_dedup import attach_stateful_dedup

        checkpoint = (
            user_ckpt or f"{args.state.rstrip('/')}/_checkpoint_state_store"
        )
        edges_dir = f"{args.state.rstrip('/')}/edges_state_store"
        q = attach_stateful_dedup(
            stream, cfg, edges_dir, checkpoint,
            available_now=not args.continuous,
            index_buckets=args.state_buckets,
            ttl=args.ttl,
        )
        q.awaitTermination()
        if args.continuous:
            return 0
        print(
            json.dumps(
                {
                    "engine": "state-store",
                    "state_dir": args.state.rstrip("/"),
                    "duplicate_edges_total": _count_edges(spark, edges_dir),
                    "wall_clock_sec": round(time.time() - t0, 2),
                }
            )
        )
        spark.stop()
        return 0

    from probminhash_spark.streaming.dedup_stream import StreamingDeduper

    dedup = StreamingDeduper(
        spark,
        cfg,
        args.state,
        state_buckets=args.state_buckets,
        compact_every=args.compact_every,
    )
    checkpoint = user_ckpt or f"{args.state.rstrip('/')}/_checkpoint"
    if args.continuous:
        dedup.attach(stream, checkpoint, available_now=False).awaitTermination()
        return 0
    q = dedup.attach(stream, checkpoint)
    q.awaitTermination()
    manifest = dedup.bands.read_manifest()
    print(
        json.dumps(
            {
                "state_dir": dedup.state_dir,
                "duplicate_edges_total": _count_edges(spark, dedup.edges_dir),
                "compacted_through": manifest["through"] if manifest else None,
                "segments": manifest["segments"] if manifest else [],
                "delta_batches": len(dedup.bands.delta_batch_ids()),
                "wall_clock_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
