"""SparkSession factory with the Arrow + AQE settings the pipeline relies on."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# numpy's MADV_HUGEPAGE on madvise-defrag kernels triggers synchronous page
# compaction on every large allocation (~6x cold-path slowdown on microVM
# kernels); glibc returning big buffers to the OS re-faults them each batch.
# Must be in the environment before numpy import in each Python worker.
_WORKER_ENV = {
    "NUMPY_MADVISE_HUGEPAGE": "0",
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
}
for _k, _v in _WORKER_ENV.items():
    os.environ.setdefault(_k, _v)


def get_spark(
    app_name: str = "probminhash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session configured for Arrow-batched UDF pipelines.

    Settings rationale (SURVEY.md §4.2):
    - Arrow execution on: every sketch UDF is a pandas UDF over Arrow batches.
    - ``maxRecordsPerBatch`` sized for ~64 KiB documents so a batch stays in
      the hundreds-of-MB range inside the Python worker.
    - AQE + skew-join on: band-bucket self-joins have semantic skew; AQE
      splits oversized shuffle partitions at runtime.
    - Cached plans may change their output partitioning
      (``canChangeCachedPlanOutputPartitioning``): Spark's default keeps a
      pinned frame at the full ``shuffle.partitions`` count, so every
      consumer of a small pin (the pipeline's band buckets, the driver
      queries' and streaming batches' pins) would run that many tasks, most
      of them over empty partitions.  With it on, AQE coalesces a cached
      plan's shuffle like any other, and the planner adds an exchange for
      any consumer that needs the partitioning the coalesced pin lacks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # pair-set joins carry no useful ordering: when AQE's runtime size
        # gate rules out broadcast, fall back to a shuffled hash join on the
        # id key rather than sorting both sides (SMJ)
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
