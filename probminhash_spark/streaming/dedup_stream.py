"""Structured Streaming variants of the dedup pipeline.

The sketch family is incremental and order-independent (SURVEY.md §1.2-1.3:
per-element seeding means a signature is a pure function of the set), so
streaming dedup is a ``foreachBatch`` loop that sketches each micro-batch and
joins its band keys against the accumulated state table — no custom stateful
operator needed.  Late data is harmless: a late file simply becomes a new row
whose bands join against everything already seen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import hfs
from ..config import DedupConfig
from ..operators.cache import cache_scope, pin
from ..operators.dedup import (
    band_explode,
    candidate_pairs,
    with_doc_id,
    with_signature,
)
from .lsm import BucketedLsm, delete_batch_partition

_STATE_COLS = ["doc_id", "band_id", "band_key", "batch_id"]
_EDGE_IDX_COLS = ["id_l", "id_r", "batch_id"]


def edges_index_lsm(
    spark: SparkSession,
    prefix: str,
    buckets: int,
    compact_every: int = 8,
    max_segments: int = 8,
) -> BucketedLsm:
    """LSM index over discovered edge PAIRS, bucketed by the pair hash —
    the structure that bounds the per-batch re-emission anti-join.  Holds
    (id_l, id_r, batch_id) only; the full edge rows (with hit rates) stay
    in the append-only ``edges/batch_id=K`` output table, which nothing
    re-reads per batch.  Deltas live at ``{prefix}/``, segments at
    ``{prefix}_compact/``."""
    base = prefix.rstrip("/")
    return BucketedLsm(
        spark,
        delta_base=base,
        compact_base=f"{base}_compact",
        cols=_EDGE_IDX_COLS,
        bucket_expr=lambda: F.pmod(F.xxhash64("id_l", "id_r"), F.lit(int(buckets))),
        buckets=buckets,
        compact_every=compact_every,
        max_segments=max_segments,
    )


def ensure_meta(
    store: BucketedLsm, meta_path: str, layout_key: str, cfg: DedupConfig
) -> None:
    """Pin a streaming store's bucket layout and sketch identity: the meta
    file at ``meta_path`` holds ``{layout_key: store.buckets,
    "sketch_identity": cfg.sketch_identity()}``.

    Resuming a store with a different bucket count silently changes pmod
    bucket placement — pruned reads then open the WRONG bucket dirs and
    miss duplicates (band state) or re-emit already-discovered pairs
    (edges index).  Resuming under a different sketch identity
    (algo/hasher/shingle regime/num_hashes/bands/rows/key-regime version)
    produces keys that never match history.  The first writer records
    both.  A mismatch raises ``ValueError``.  Once ``store`` holds data, a
    meta file that cannot vouch for it (missing, unreadable, or without an
    identity) raises ``RuntimeError``; before that, such a file is
    (re)written with this run's layout and identity."""
    identity = cfg.sketch_identity()
    found = hfs.exists(store.spark, meta_path)
    meta = hfs.read_json(store.spark, meta_path) if found else None
    if meta is not None and layout_key in meta:
        if int(meta[layout_key]) != store.buckets:
            raise ValueError(
                f"{meta_path} pins {layout_key}={meta[layout_key]}; this run "
                f"is configured with {store.buckets} — bucket pruning would "
                "read the wrong dirs and silently miss duplicates or re-emit "
                "already-discovered pairs"
            )
        pinned = meta.get("sketch_identity")
        if pinned == identity:
            return
        if pinned is not None:
            raise ValueError(
                f"{meta_path} was written under sketch identity {pinned} but "
                f"this run's config has identity {identity}: keys would never "
                "match history and duplicates would be silently missed — "
                "resume with the original config or rebuild the state dir"
            )
    if store.exists():
        if not found:
            problem = "is missing: the store predates meta pinning"
        elif meta is None or layout_key not in meta:
            problem = "is unreadable"
        else:
            problem = "has no sketch_identity"
        raise RuntimeError(
            f"{meta_path} {problem}, next to live data under "
            f"{store.delta_base} — its bucket layout and key regime cannot be "
            "verified; rebuild the state dir (or, after verifying both match, "
            f'write {{"{layout_key}": {store.buckets}, "sketch_identity": '
            f'"{identity}"}} to the meta file)'
        )
    hfs.write_json(
        store.spark,
        meta_path,
        {layout_key: store.buckets, "sketch_identity": identity},
    )


def prune_prior_edges(
    pairs: DataFrame, eidx: BucketedLsm, batch_id: int
) -> DataFrame:
    """Anti-join ``pairs`` (id_l, id_r, ...) against the edges already
    discovered by earlier batches, reading ONLY the index buckets this
    batch's pairs hash into.  ``pairs`` should be persisted by the caller
    (it is traversed once for the touched-bucket collect and once for the
    surviving-join)."""
    if not eidx.exists():
        eidx.last_scanned_dirs = []
        return pairs
    touched = [
        r[0]
        for r in pairs.select(
            F.pmod(F.xxhash64("id_l", "id_r"), F.lit(int(eidx.buckets))).alias("b")
        )
        .distinct()
        .collect()
    ]
    if not touched:
        eidx.last_scanned_dirs = []
        return pairs
    prior = eidx.read(batch_id, touched)
    if prior is None:
        return pairs
    return pairs.join(prior.select("id_l", "id_r"), ["id_l", "id_r"], "left_anti")


def emit_edges(
    pairs: DataFrame, eidx: BucketedLsm, edges_dir: str, batch_id: int
) -> None:
    """The edge-emission tail of both streaming engines: drop the pairs
    earlier batches already emitted (:func:`prune_prior_edges`), write the
    survivors to ``edges_dir/batch_id=K`` and record them in ``eidx``'s
    batch-K delta.  Replays rewrite exactly their own partition and delta
    (delete-first, so a replay that computes zero edges still clears a
    failed attempt's rows).  ``pairs`` (id_l, id_r, band_hit_rate) is
    pinned — it feeds the touched-bucket collect, the edge write and the
    index write — so call this inside the batch's ``cache_scope()``."""
    new_edges = prune_prior_edges(pin(pairs), eidx, batch_id).withColumn(
        "batch_id", F.lit(int(batch_id))
    )
    delete_batch_partition(eidx.spark, edges_dir, batch_id)
    (
        new_edges.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(edges_dir)
    )
    eidx.delete_delta(batch_id)
    idx_rows = new_edges.select(*_EDGE_IDX_COLS)
    if not idx_rows.isEmpty():
        eidx.write_delta(idx_rows, batch_id)


class StreamingDeduper:
    """foreachBatch incremental dedup against an accumulating parquet state.

    State layout under ``state_dir`` — two little LSM trees (see
    :mod:`probminhash_spark.streaming.lsm` for tiering/manifest/crash-safety)
    plus the append-only edge output:

    - ``bands/``, ``bands_compact/``             — BAND state LSM, bucketed
      by ``pmod(band_key, state_buckets)``
    - ``edges_index/``, ``edges_index_compact/`` — discovered-PAIR index
      LSM, bucketed by ``pmod(xxhash64(id_l, id_r), state_buckets)``: the
      bounded re-emission guard
    - ``edges/batch_id=K/``                      — candidate duplicate pairs
      with their ``band_hit_rate`` (no exact verify runs), the job OUTPUT;
      append-only, never re-read by the batch loop

    Each micro-batch: sketch -> band -> candidate generation restricted to
    the state band buckets the new docs touch -> estimate -> anti-join the
    new pairs against their edges-index buckets -> write edges + both deltas
    -> opportunistic compaction.

    Per-batch COMPUTE is incremental: state rows enter the candidate stage
    only via a semi-join on the new batch's band keys, so work scales with
    the new data, not with total history.  Per-batch I/O is bounded too:
    every history read enumerates only touched-bucket directories
    across <= ``max_segments`` segments and <= ``compact_every`` un-compacted
    deltas — file count per batch is O((max_segments + compact_every) x
    touched buckets), independent of how many batches have accumulated.
    (True per-key point lookups would need an indexed state store — that is
    what ``spark.sql.streaming.stateStore.providerClass=RocksDB...`` gives
    the ``applyInPandasWithState`` operators; for the parquet-state design,
    bucket pruning is the scalable approximation: a trickle batch touching
    T of P buckets reads ~T/P of state.)

    All state probes and listings go through :mod:`probminhash_spark.hfs`,
    so ``state_dir`` may be any Hadoop-supported URI.

    Single-writer: one streaming query owns a state dir (the checkpoint
    already serializes its batches).  Pointing two concurrent jobs at the
    same ``state_dir`` is unsupported — compaction would race the other
    writer's reads.

    Idempotent on replays: a retried micro-batch deletes + overwrites
    exactly its own partitions (explicit delete first, so a replay that
    produces ZERO rows still clears a failed attempt's stale partitions) and
    prior rows from the failed attempt are excluded from the computation —
    re-running batch K is a no-op.  Compaction only ever covers batches
    STRICTLY BEFORE the one being processed (those are checkpoint-committed
    by the time batch K runs), so a replayed batch is never baked into a
    segment; a crash mid-compaction leaves an uncommitted dir that the next
    compaction sweeps (readers never saw it — the manifest flip is last).

    Resume-safety: ``_state_meta.json`` pins BOTH the bucket count (the
    pruning layout) and the sketch-identity fingerprint
    (:meth:`DedupConfig.sketch_identity` — algo/hasher/shingle regime/
    num_hashes/bands/rows/key-regime version).  Resuming with a different
    identity would produce band keys that never match historical state, so
    every cross-upgrade duplicate would be missed with no error; the meta
    check (:func:`ensure_meta`) turns that into a loud failure.

    The two stores are the public ``bands`` and ``edges_index``
    :class:`BucketedLsm` attributes; the edge output is ``edges_dir``.
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig,
        state_dir: str,
        state_buckets: int = 64,
        compact_every: int = 8,
        max_segments: int = 8,
    ):
        self.cfg = cfg
        self.state_dir = state_dir.rstrip("/")
        self.state_buckets = int(state_buckets)
        self.compact_every = int(compact_every)
        self.max_segments = int(max_segments)
        self.bands = BucketedLsm(
            spark,
            delta_base=f"{self.state_dir}/bands",
            compact_base=f"{self.state_dir}/bands_compact",
            cols=_STATE_COLS,
            bucket_expr=lambda: F.pmod(
                F.col("band_key"), F.lit(self.state_buckets)
            ),
            buckets=self.state_buckets,
            compact_every=self.compact_every,
            max_segments=self.max_segments,
        )
        self.edges_index = edges_index_lsm(
            spark,
            f"{self.state_dir}/edges_index",
            buckets=self.state_buckets,
            compact_every=self.compact_every,
            max_segments=self.max_segments,
        )
        self.edges_dir = f"{self.state_dir}/edges"
        # debug observability for the incremental-cost contract (tests):
        # band rows that entered the candidate stage in the last batch, and
        # the state files/bytes each pruned read actually enumerated
        self.debug_metrics = False
        self.last_candidate_input_rows: int | None = None
        self.last_state_files_scanned: int | None = None
        self.last_state_bytes_scanned: int | None = None
        self.last_edges_files_scanned: int | None = None
        self.last_edges_bytes_scanned: int | None = None
        self._meta_checked = False

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # one cache scope per micro-batch: every pin made while building and
        # running this batch's plans is released when the batch commits — a
        # continuously-running stream never accumulates pins
        with cache_scope():
            self._process_batch_scoped(batch_df, batch_id)

    def _process_batch_scoped(self, batch_df: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        if not self._meta_checked:
            ensure_meta(
                self.bands, f"{self.state_dir}/_state_meta.json",
                "state_buckets", cfg,
            )
            self._meta_checked = True
        docs = with_doc_id(batch_df, ["repo", "path", "commit"])
        sigs = with_signature(docs, cfg).select("doc_id", "sig")
        new_bands = pin(
            band_explode(sigs, cfg)
            .withColumn("batch_id", F.lit(int(batch_id)))
            .withColumn(
                "bucket", F.pmod(F.col("band_key"), F.lit(self.state_buckets))
            )
        )
        touched = sorted(
            r[0] for r in new_bands.select("bucket").distinct().collect()
        )
        old_bands = self.bands.read(batch_id, touched) if touched else None
        if self.debug_metrics:
            self.last_state_files_scanned, self.last_state_bytes_scanned = (
                self.bands.scan_metrics(
                    self.bands.last_scanned_dirs if touched else []
                )
            )
        new_cand = new_bands.select("doc_id", "band_id", "band_key")
        if old_bands is not None:
            # INCREMENTAL: only state rows in buckets the new batch touches
            # were even READ (pruned dirs above); of those, only rows sharing
            # an exact band key can form a new candidate — a semi-join on the
            # new band keys, so per-batch cost tracks the new data volume
            new_keys = new_bands.select("band_id", "band_key").distinct()
            touched_old = old_bands.join(
                new_keys, ["band_id", "band_key"], "left_semi"
            ).select("doc_id", "band_id", "band_key")
            cand_bands = touched_old.unionByName(new_cand)
        else:
            cand_bands = new_cand
        cand_bands = pin(cand_bands)
        if self.debug_metrics:
            self.last_candidate_input_rows = cand_bands.count()
        # candidates must touch a NEW doc (old-old pairs already emitted;
        # a capped bucket's star expansion can anchor on an old doc)
        new_ids = new_bands.select("doc_id").distinct()
        # one subtree reading `pairs` once: flag each endpoint with a
        # broadcast left join on the new ids and keep pairs where either
        # matched (both sides are distinct, so no pair is repeated)
        pairs, _ = candidate_pairs(cand_bands, cfg)
        pairs = (
            pairs.join(
                F.broadcast(new_ids.select(
                    F.col("doc_id").alias("id_l"), F.lit(True).alias("_new_l")
                )),
                "id_l",
                "left",
            )
            .join(
                F.broadcast(new_ids.select(
                    F.col("doc_id").alias("id_r"), F.lit(True).alias("_new_r")
                )),
                "id_r",
                "left",
            )
            .where(F.col("_new_l") | F.col("_new_r"))
            .select("id_l", "id_r")
        )
        # band hit rate per CANDIDATE pair (state bands carry no sigs, so
        # the estimate is the band-collision fraction).  Shared buckets of a
        # pair touching a new doc always contain that new doc, so counting
        # within cand_bands is exact — and the join volume is pairs x
        # bands-per-doc, never state x state.
        # (no dropDuplicates: countDistinct below already collapses
        # re-ingested duplicate band rows, and each dedup would cost an
        # extra shuffle)
        tl = cand_bands.select(
            F.col("doc_id").alias("id_l"), "band_id", "band_key"
        )
        tr = cand_bands.select(
            F.col("doc_id").alias("id_r"), "band_id", "band_key"
        )
        pairs_est = (
            pairs.join(tl, "id_l")
            .join(tr, ["id_r", "band_id", "band_key"])
            .groupBy("id_l", "id_r")
            # countDistinct: a doc re-ingested in a later batch leaves
            # duplicate band rows in state; counting distinct band ids keeps
            # the hit rate a true fraction in [1/bands, 1]
            .agg((F.countDistinct("band_id") / cfg.bands).alias("band_hit_rate"))
        )
        # don't re-emit edges already discovered by an earlier batch (happens
        # when a doc is re-ingested and counts as "new" again); the guard
        # reads only the edges-INDEX buckets this batch's pairs hash into
        emit_edges(pairs_est, self.edges_index, self.edges_dir, batch_id)
        if self.debug_metrics:  # before compaction reclaims the scanned dirs
            self.last_edges_files_scanned, self.last_edges_bytes_scanned = (
                self.edges_index.scan_metrics(self.edges_index.last_scanned_dirs)
            )
        self.bands.delete_delta(batch_id)
        self.bands.write_delta(new_bands.select(*_STATE_COLS, "bucket"), batch_id)
        self.bands.maybe_compact(batch_id)
        self.edges_index.maybe_compact(batch_id)

    def attach(self, stream_df: DataFrame, checkpoint: str, available_now: bool = True):
        """Wire onto a streaming DataFrame of files; returns the query.
        ``available_now=True`` drains what's there and stops (backfill /
        cron pattern); ``False`` keeps the micro-batch loop running."""
        writer = stream_df.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
