"""Bucketed parquet LSM store shared by the streaming state tables.

One generic store, two instances:

- band state:  bucket = ``pmod(band_key, P)``        (delta ``bands/``,
  segments ``bands_compact/``)
- edges index: bucket = ``pmod(xxhash64(id_l,id_r), P)`` (delta
  ``edges_index/``, segments ``edges_index_compact/``)

Layout per store (all paths Hadoop URIs; every probe/list/delete goes
through :mod:`probminhash_spark.hfs` so HDFS/S3A state works):

- ``{delta_base}/batch_id=K/bucket=B/``   — per-batch DELTA tier
- ``{compact_base}/seg=NAME/bucket=B/``   — SEGMENT tier (committed deltas
  folded together; ``batch_id`` kept as a data column for replay exclusion)
- ``{compact_base}/manifest-*.json``      — versioned commit log: readers
  take the highest parseable manifest, so half-written segments are
  invisible and a torn newest file falls back one version

Per-batch reads enumerate only the bucket dirs the new batch touches across
<= ``max_segments`` segments and <= ``compact_every`` un-compacted deltas —
file count per batch is O((max_segments + compact_every) x touched buckets),
independent of accumulated history.  Compaction is write-amortized:
folding deltas costs O(delta); full segment merges cost O(state) but run
every ``max_segments x compact_every`` batches.

Crash-safety (same argument as the r4 band LSM, now shared): deltas are
rewritten delete-first on replay; compaction covers only checkpoint-committed
batches strictly before the one in flight; the manifest flip is last, and the
reclaim sweep covers every delta at or below the watermark so a crash between
flip and reclaim leaks nothing permanently.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from .. import hfs


def delete_batch_partition(spark: SparkSession, base: str, batch_id: int) -> None:
    """Drop ``base/batch_id=K``.  Dynamic partition overwrite only rewrites
    partitions PRESENT in the new data — a replay that computes zero rows
    would otherwise leave a failed attempt's stale partition feeding
    downstream reads.  Shared by both streaming engines."""
    hfs.delete(spark, f"{base}/batch_id={int(batch_id)}")


class BucketedLsm:
    """One bucketed delta+segment parquet store with a manifest commit log.

    ``cols`` is the full data-column list INCLUDING ``batch_id``;
    ``bucket_expr`` maps the data columns to the bucket number (must be a
    pure function of the row so deltas and segments agree on placement).
    Single-writer per store (the streaming checkpoint serializes batches).
    """

    def __init__(
        self,
        spark: SparkSession,
        delta_base: str,
        compact_base: str,
        cols: list[str],
        bucket_expr: Callable[[], Column],
        buckets: int,
        compact_every: int = 8,
        max_segments: int = 8,
    ):
        self.spark = spark
        self.delta_base = delta_base.rstrip("/")
        self.compact_base = compact_base.rstrip("/")
        self.cols = list(cols)
        self.bucket_expr = bucket_expr
        self.buckets = int(buckets)
        self.compact_every = int(compact_every)
        self.max_segments = int(max_segments)
        # dirs enumerated by the last read() — flat-cost tests turn these
        # into file/byte counts via scan_metrics()
        self.last_scanned_dirs: list[str] = []

    def scan_metrics(self, dirs: list[str]) -> tuple[int, int]:
        """(files, bytes) of the parquet parts under ``dirs``."""
        parts = [f for d in dirs for f in hfs.glob_files(self.spark, f"{d}/part-*")]
        return len(parts), sum(n for _, n in parts)

    # ---------------------------------------------------------- manifest ---
    #
    # Versioned commit log, never overwrite-in-place: each compaction writes
    # a NEW manifest-{through}.json and readers take the highest parseable
    # one.  A crash mid-write therefore tears only the not-yet-referenced
    # newest file — the previous manifest (and the deltas it still covers,
    # which are only reclaimed AFTER the manifest lands) stay intact, and
    # the retried compaction rewrites the same name.

    def manifest_files(self) -> list[str]:
        return sorted(
            uri
            for uri, _ in hfs.glob_files(
                self.spark, f"{self.compact_base}/manifest-*.json"
            )
        )

    def read_manifest(self) -> dict | None:
        """{"through": W, "segments": [name, ...]} or None before the first
        compaction.  Readers trust only the manifest log — orphan segment
        dirs from a crash are invisible; a torn newest file falls back to
        the previous committed manifest.

        Only PARSE failures fall back a version (see :func:`hfs.read_json`)
        — treating a transient FS/py4j error as "torn" could select a stale
        straggler manifest whose files were already reclaimed.  And a
        parseable manifest is only trusted after its segment dirs are
        verified to exist: a GC straggler referencing reclaimed segments
        must fail loudly, not read silently-empty state and miss
        duplicates."""
        for path in reversed(self.manifest_files()):
            manifest = hfs.read_json(self.spark, path)
            if manifest is None or not {"through", "segments"} <= manifest.keys():
                continue  # torn/corrupt newest: fall back one version
            missing = [
                s
                for s in manifest["segments"]
                if not hfs.exists(self.spark, f"{self.compact_base}/seg={s}")
            ]
            if missing:
                raise RuntimeError(
                    f"manifest {path} references segment dirs that do not "
                    f"exist ({missing}): the store is inconsistent (stale "
                    "straggler manifest after GC, or reclaimed segments) — "
                    "reading it would silently see empty state and miss "
                    "duplicates; restore the segments or rebuild the state dir"
                )
            return manifest
        return None

    def write_manifest(self, through: int, segments: list[str]) -> None:
        name = f"{self.compact_base}/manifest-{int(through):020d}.json"
        hfs.write_json(
            self.spark, name, {"through": int(through), "segments": segments}
        )
        # GC superseded manifests (best-effort; readers always take the
        # highest parseable version, so stragglers are harmless)
        for path in self.manifest_files():
            if not path.endswith(f"manifest-{int(through):020d}.json"):
                try:
                    hfs.delete(self.spark, path)
                except Exception:  # pragma: no cover
                    pass

    # ------------------------------------------------------------- reads ---

    def delta_batch_ids(self) -> list[int]:
        out = []
        for d in hfs.glob_dirs(self.spark, f"{self.delta_base}/batch_id=*"):
            try:
                out.append(int(d.rstrip("/").rsplit("batch_id=", 1)[1]))
            except ValueError:  # pragma: no cover — foreign dir in store
                continue
        return sorted(out)

    def exists(self) -> bool:
        """True iff the store holds a committed manifest or any delta.

        Raises ``RuntimeError`` (from :meth:`read_manifest`) when the newest
        parseable manifest references segment dirs that do not exist — an
        inconsistent store is an error, not an absent one."""
        return self.read_manifest() is not None or bool(self.delta_batch_ids())

    def read(self, batch_id: int, touched_buckets: list[int]) -> DataFrame | None:
        """Accumulated rows that could join the new batch, reading ONLY the
        bucket directories in ``touched_buckets``: manifest segments +
        un-compacted (batch_id > W, != current) deltas.  Returns None when
        no state is readable (cols ``self.cols``).  Raises ``RuntimeError``
        when the manifest references missing segment dirs (see
        :meth:`read_manifest`)."""
        manifest = self.read_manifest()
        w = manifest["through"] if manifest else None
        touched = {f"bucket={int(b)}" for b in touched_buckets}

        def bucket_dirs(base: str) -> list[str]:
            # one listing per base dir; filter to touched buckets client-side
            return [
                d
                for d in hfs.glob_dirs(self.spark, f"{base}/bucket=*")
                if d.rstrip("/").rsplit("/", 1)[1] in touched
            ]

        frames = []
        scanned: list[str] = []
        for seg in manifest["segments"] if manifest else []:
            base = f"{self.compact_base}/seg={seg}"
            sdirs = bucket_dirs(base)
            if sdirs:
                scanned += sdirs
                frames.append(
                    self.spark.read.option("basePath", base)
                    .parquet(*sdirs)
                    .where(F.col("batch_id") != int(batch_id))
                    .select(*self.cols)
                )
        delta_ids = [
            k
            for k in self.delta_batch_ids()
            if (w is None or k > w) and k != int(batch_id)
        ]
        ddirs = [
            d
            for k in delta_ids
            for d in bucket_dirs(f"{self.delta_base}/batch_id={k}")
        ]
        if ddirs:
            scanned += ddirs
            frames.append(
                self.spark.read.option("basePath", self.delta_base)
                .parquet(*ddirs)
                .select(*self.cols)
            )
        self.last_scanned_dirs = scanned
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # ------------------------------------------------------------ writes ---

    def delete_delta(self, batch_id: int) -> None:
        delete_batch_partition(self.spark, self.delta_base, batch_id)

    def write_delta(self, df: DataFrame, batch_id: int) -> None:
        """Append batch ``batch_id``'s delta (delete-first rewrite on replay
        is the CALLER's job via :meth:`delete_delta` — kept separate because
        some callers must clear a failed attempt's partition even when the
        replay computes zero rows).  ``df`` must carry ``self.cols``
        (including ``batch_id``)."""
        (
            df.withColumn("bucket", self.bucket_expr())
            # repartition on the write keys: without it each upstream task
            # writes a sliver file into every bucket dir it touches
            # (tasks x buckets files per batch)
            .repartition(min(self.buckets, 32), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(self.delta_base)
        )

    def _write_segment(self, df: DataFrame, name: str) -> None:
        """One file per bucket (repartition on the partition key before
        partitionBy — without it every upstream task writes a sliver file
        into every bucket dir and the file count explodes)."""
        target = f"{self.compact_base}/seg={name}"
        # a failed earlier attempt's dir is rewritten from scratch
        hfs.delete(self.spark, target)
        (
            df.withColumn("bucket", self.bucket_expr())
            .repartition(self.buckets, F.col("bucket"))
            .write.partitionBy("bucket")
            .parquet(target)
        )

    def maybe_compact(self, batch_id: int) -> None:
        """LSM maintenance after batch K's delta is committed:

        1. fold pending deltas (W < batch_id <= K-1; those are
           checkpoint-committed) into a new segment once ``compact_every``
           accumulate — O(delta) work;
        2. merge all segments into one when more than ``max_segments`` exist
           — O(state) work, amortized over max_segments x compact_every
           batches;
        3. flip the manifest, then reclaim superseded delta/segment dirs
           (crash between flip and reclaim leaves orphans that the next
           pass sweeps — readers never reference them).
        """
        manifest = self.read_manifest()
        w = manifest["through"] if manifest else None
        segments = list(manifest["segments"]) if manifest else []
        through = int(batch_id) - 1
        pending = [
            k for k in self.delta_batch_ids() if (w is None or k > w) and k <= through
        ]
        if len(pending) < self.compact_every:
            return
        through = max(pending)
        delta = (
            self.spark.read.option("basePath", self.delta_base)
            .parquet(*[f"{self.delta_base}/batch_id={k}" for k in pending])
            .select(*self.cols)
        )
        seg_name = f"{min(pending)}-{through}"
        self._write_segment(delta, seg_name)
        segments.append(seg_name)
        if len(segments) > self.max_segments:
            merged_name = f"m{through}"
            merged = (
                self.spark.read.option("basePath", self.compact_base)
                .parquet(*[f"{self.compact_base}/seg={s}" for s in segments])
                .select(*self.cols)
            )
            self._write_segment(merged, merged_name)
            segments = [merged_name]
        self.write_manifest(through, segments)
        # reclaim superseded state (the manifest no longer references it).
        # Sweep EVERY delta <= through, not just this round's pending list:
        # a crash between a previous manifest flip and its reclaim loop
        # leaves stale deltas at or below the watermark that no later
        # pending set would ever cover (they are read-invisible — reads
        # filter k > W — but would leak disk forever).
        for k in self.delta_batch_ids():
            if k <= through:
                self.delete_delta(k)
        keep = {f"seg={s}" for s in segments}
        for d in hfs.glob_dirs(self.spark, f"{self.compact_base}/seg=*"):
            if d.rstrip("/").rsplit("/", 1)[1] not in keep:
                hfs.delete(self.spark, d)
