"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB target (and sane at local[32]):
- AQE on (runtime coalesce + skew-join splitting for hot hosts),
- Arrow on for pandas UDFs, with a bounded records-per-batch so binary
  image columns can't blow executor memory,
- UTC session timezone (reference truncates to UTC seconds,
  /root/reference/archive_query_log/utils/time.py:13-14).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

MAX_DRIVER_MEMORY_MB = 24 * 1024


def default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """Driver heap default: half the machine's physical memory, capped at
    24g. A fixed 24g heap on a 16 GB machine lets the local-mode JVM grow
    until the kernel kills it; half leaves room for the Python workers and
    the JVM's off-heap memory. ``mem_total_bytes`` defaults to this
    machine's; if it cannot be read, the cap is used."""
    if mem_total_bytes is None:
        try:
            mem_total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (ValueError, OSError, AttributeError):
            mem_total_bytes = 0
    if mem_total_bytes <= 0:
        return f"{MAX_DRIVER_MEMORY_MB}m"
    half_mb = mem_total_bytes // 2 // (1 << 20)
    return f"{max(1, min(MAX_DRIVER_MEMORY_MB, half_mb))}m"


def get_spark(
    app_name: str = "archive-query-log-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records_per_batch: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's parallelism-first coalescing targets defaultParallelism but
        # clamps at minPartitionSize (default 1 MB): a few-MB shuffle output
        # collapses to 1-2 partitions, and any CPU-heavy operator downstream
        # (shingle explode → 8×md5/shingle, url canonicalization, ...) runs
        # single-task — measured 8 s → 0.8 s on the dedup shingle stage at
        # sf0.1 after lowering the clamp. Scale-adaptive by construction:
        # once post-shuffle partitions exceed 1 MB (any real workload) the
        # setting is inert, so cluster plans are unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8192-row Arrow batches (was 2048): the per-fetch decode path
        # measured 15-20% faster end-to-end with the larger batches
        # (amortized RecordBatch construction + fewer IPC frames), and
        # memory stays bounded by Spark 4's
        # spark.sql.execution.arrow.maxBytesPerBatch (default 64 MB), which
        # is the knob that actually protects fat binary rows — a
        # records-only cap never did for multi-MB payloads anyway.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(
                arrow_max_records_per_batch
                or int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "8192"))
            ),
        )
        # binary image payloads serialize poorly with the default codec
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill scratch space. On shared sandboxes the default /tmp is
    # a real disk whose contention from co-tenants dominates run-to-run
    # variance of shuffle-heavy jobs; pointing local.dir at a tmpfs (e.g.
    # /dev/shm) removes that I/O from the measurement. On a production
    # cluster this maps to fast local NVMe / ramdisk scratch per executor.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        # spark.local.dir accepts a comma-separated list (one scratch root
        # per disk) — pre-create each root, not a path containing commas
        for d in local_dir.split(","):
            if d:
                os.makedirs(d, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
