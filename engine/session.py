"""SparkSession factory with the pinned configuration for this
engine (SURVEY.md §4). One place so jobs, tests and bench agree."""

from __future__ import annotations

from pyspark.sql import SparkSession


def sweep_dead_spill_dirs(base: str) -> list[str]:
    """Remove per-PID tmpfs spill dirs whose owning process is gone
    (uncleanly-died JVMs leak them; on tmpfs the leak is RAM — see
    the SPARK_GRAFT_TMPFS note in get_spark). Returns the swept dir
    names; total on any filesystem state."""
    import os
    import shutil

    swept = []
    try:
        entries = os.listdir(base)
    except OSError:
        return swept
    for d in entries:
        if d.isdigit() and not os.path.exists(f"/proc/{d}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
            swept.append(d)
    return swept


def host_driver_memory(mem_total_kib: int | None) -> tuple[str, str]:
    """(spark.driver.memory, spark.driver.maxResultSize) for a host
    with mem_total_kib of RAM (/proc/meminfo MemTotal). In local mode
    the driver JVM is the whole engine, so its heap is a quarter of
    RAM, between 1g and 24g, leaving the rest to the Python workers
    and the page cache; collected results get a quarter of the heap.
    None (MemTotal unreadable) keeps the 24g/4g ceiling."""
    if mem_total_kib is None:
        return "24g", "4g"
    heap_mib = min(24 << 10, max(1 << 10, (mem_total_kib >> 10) // 4))
    return f"{heap_mib}m", f"{max(256, heap_mib // 4)}m"


def _mem_total_kib() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def get_spark(
    master: str = "local[*]",
    app_name: str = "webtext-engine",
    shuffle_partitions: int | None = None,
    rocksdb_state: bool = False,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """rocksdb_state=True switches Structured Streaming state to the
    RocksDB provider: state lives off-heap/on-disk per executor instead
    of in the JVM heap, which is the only regime that survives the
    dedup-within-watermark state of a crawl-scale url stream (streaming
    jobs enable it; the default HDFSBackedStateStore is fine for tests
    and small state). NOTE: stateStore.providerClass is read
    per STREAMING QUERY at start, so setting it on an already-running
    session (spark.conf.set) works too — this flag just pins it at
    session build for the job entrypoints."""
    import os

    # local-mode JVM heap: default 1g OOMs on blob-heavy shuffles, a
    # fixed large one outgrows small hosts; SPARK_DRIVER_MEMORY wins
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        heap, max_result = os.environ["SPARK_DRIVER_MEMORY"], "4g"
    else:
        heap, max_result = host_driver_memory(_mem_total_kib())
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", heap)
        .config("spark.driver.maxResultSize", max_result)
        # oracle comparison + determinism: duckdb timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow at every Python boundary; blob-heavy rows need small batches
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # amortize Python worker startup across tasks
        .config("spark.python.worker.reuse", "true")
        # AQE: runtime coalesce + skew backstop (SURVEY.md §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # let AQE coalesce a persisted plan's output too: without it a
        # cached ingest batch keeps every dedup shuffle partition (200
        # by default), and each becomes a Python task downstream
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # idempotent per-partition overwrite (checkpoint/resume A12)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # blob-heavy tables: 128MB default splits give too few map
        # tasks for the Python extraction stage (a 773MB corpus ->
        # ~6 tasks -> 10+ idle cores at local[16]); 16MB splits keep
        # every core fed while each task still carries ~1.5k docs.
        # At 10^12 rows the same knob bounds per-task payload bytes.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
    )
    # shuffle spill dir: tmpfs keeps shuffle I/O off this sandbox's one
    # shared virtual disk, but tmpfs spill = spill-to-RAM, which breaks
    # on hosts with a small /dev/shm. So: honor an explicit
    # SPARK_LOCAL_DIRS, opt into tmpfs only via SPARK_GRAFT_TMPFS=1
    # (bench harnesses set it), otherwise keep Spark's default.
    if os.environ.get("SPARK_LOCAL_DIRS"):
        b = b.config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
    elif os.environ.get("SPARK_GRAFT_TMPFS") == "1":
        # Per-PID dir + stale-sibling sweep (r5): tmpfs shuffle files
        # leak when a JVM dies uncleanly (OOM-kill, SIGKILL mid-run),
        # and because tmpfs IS RAM the leaks silently shrink the
        # memory every LATER run gets — observed at 97 GB of
        # accumulated dead-session spill during the r5 500k rehearsal
        # (the proximate cause of its first OOM). A dir is reclaimed
        # when its owning pid no longer exists.
        base = "/dev/shm/spark-local"
        sweep_dead_spill_dirs(base)
        b = b.config("spark.local.dir", f"{base}/{os.getpid()}")
    if rocksdb_state:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            # bound RocksDB native memory per executor (the point of
            # moving state off-heap is not to move the OOM off-heap)
            "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
            "true",
        )
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
