"""SparkSession factory with the engine's standard configuration.

Local-mode knobs tuned for the sandbox (single JVM, local[N]); the same
builder config is what we'd pass to spark-submit on a real cluster
(AQE + skew join + Arrow are cluster-relevant, shuffle partitions would
be sized to executors instead of local cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# share of physical memory the Spark driver's JVM heap gets when
# SPARK_DRIVER_MEM is unset: the JVM's resident size runs past its heap
# (metaspace, code cache, Arrow and shuffle buffers) and Python workers
# share the machine, so a heap sized near physical memory gets the
# process OOM-killed
DRIVER_MEMORY_SHARE = 0.4


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Spark driver heap for :func:`get_spark` when ``SPARK_DRIVER_MEM``
    is unset: ``DRIVER_MEMORY_SHARE`` of physical memory (``phys_bytes``,
    read from the OS by default), as a JVM size string in MiB."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(phys_bytes * DRIVER_MEMORY_SHARE) >> 20}m"


def get_spark(
    app_name: str = "record_linkage_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N-ish partitions; a real cluster sizes this to
        # 2-3x total executor cores (or leaves it to AQE coalescing)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else max(int(n), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # partition coalescing sizes stages by shuffle BYTES; this engine's
        # stages are bytes-small but CPU-heavy (Arrow similarity kernels,
        # pair blow-ups after joins), so coalescing starves them of cores
        # (measured: a 64-partition rollup collapsed to 3). We size
        # spark.sql.shuffle.partitions to the cluster explicitly instead.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
