"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
also matter on a real cluster (AQE, broadcast threshold, Arrow).  Shuffle
partition count is sized by the local core count; on a 1000-executor
cluster it should be set to ~2-3x total cores by the submitter.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# cap on the host-derived driver heap (the former fixed default)
_MAX_DRIVER_MEM_GB = 48


def _local_resources() -> tuple[int, str]:
    """(cores, driver heap) of the local session.  ``SPARK_GRAFT_CPUS``
    and ``SPARK_GRAFT_DRIVER_MEM`` win when set; otherwise fit the host:
    the CPUs this process may run on (its affinity set — containers and
    taskset pin fewer than the machine has) and half of physical memory
    in whole GiB (the rest stays for Python workers, off-heap and the
    OS), at least 1 g and at most 48 g."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{max(1, min(_MAX_DRIVER_MEM_GB, phys // 2 // (1 << 30)))}g"
    return int(cpus), mem


def get_spark(app_name: str = "transcriptomics-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, driver_mem = _local_resources()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long sessions run hundreds of broadcast-heavy queries; the
        # reference-tracking cleaner's default BLOCKING unpersist turns
        # GC-triggered cleanup bursts into multi-second stalls charged
        # to whatever query is running (observed 8s -> 30s outliers)
        .config("spark.cleaner.referenceTracking.blocking", "false")
        # one meta-analysis query (TSV read, pivot write, DE, Stouffer,
        # BH) generates ~100 distinct classes; at Spark's default of 100
        # cached classes a repeated query evicts its own code and Janino
        # recompiled ~70 classes on every run (4-core host: 0.5-1 s of
        # a ~4 s query, falling as the JIT warms, so the timing spread
        # too).  Generated classes average ~2.6 KB of bytecode.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # io codec decision (r11, VERDICT item 9): lz4 (Spark's own
        # default) stays — a same-host A/B on the closure-heavy
        # dedup_clusters gate measured zstd 29% SLOWER end-to-end
        # (9.4 -> 12.1 s; banded pairs 1.25 -> 3.15 s) because
        # iterative CC rounds ship many tiny shuffle blocks where
        # zstd's per-block cost dominates.  zstd's ~35% smaller spill
        # (PLANS.md r10) only pays on disk-tight scale runs, which can
        # set spark.io.compression.codec themselves.
        .config("spark.io.compression.codec", "lz4")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver-provided parquet tables as a dict of DataFrames."""
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}
