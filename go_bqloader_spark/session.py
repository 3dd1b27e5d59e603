"""SparkSession builders tuned for the CDC engine.

Local mode is for tests/bench only; the configs are chosen so the same code
path scales to a multi-executor cluster (AQE on, skew-join handling on,
Arrow batching sized to the reference's 10k-row projection batches —
``/root/reference/handler.go:17``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_memory(meminfo: str = "/proc/meminfo") -> tuple[str, str]:
    """``(driver heap, off-heap)`` sizes for a host: 40% and 25% of its
    ``MemTotal``, capped at the 24g and 16g the engine was tuned with on a
    large host, so heap plus off-heap stays within a small one. Falls back
    to the caps when ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g", "16g"
    mb = kb // 1024
    return f"{max(min(mb * 2 // 5, 24 * 1024), 512)}m", f"{max(min(mb // 4, 16 * 1024), 256)}m"


def build_session(
    app_name: str = "go_bqloader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count so that one
    shuffle partition maps to one core — at cluster scale callers pass
    2-3x total executor cores instead. The driver heap and off-heap sizes
    come from ``SPARK_GRAFT_DRIVER_MEM`` and ``SPARK_GRAFT_OFFHEAP``, else
    from the host's memory (:func:`default_memory`).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    driver_mem, offheap = default_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # match the reference's 10k-row projection batch (handler.go:17)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT64 micros instead of the deprecated INT96: identical values
        # on read (Spark's internal timestamp IS micros), and footer
        # min/max statistics exist — the lake's merge path derives its
        # zone maps from them with no read-back job (table.py
        # _footer_stats_zones); INT96 carries no usable statistics
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", driver_mem))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        # Tungsten sort/agg buffers off-heap: keeps the row-shuffle hot path
        # out of the GC entirely (measured: 400s+ GC per 16M-row window at
        # 32 threads on-heap, ~20s off-heap)
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", os.environ.get("SPARK_GRAFT_OFFHEAP", offheap))
        # never mmap shuffle blocks: 32 threads × mmap/unmap contend on the
        # process-wide mmap_sem and stall the whole executor
        .config("spark.storage.memoryMapThreshold", "2g")
    )
    if master.startswith("local["):
        # a read of more than `threshold` paths (default 32; a lake read
        # passes one per manifest entry) lists them in a Spark job. In
        # local mode that job runs on the driver's own threads, so it only
        # adds a job: on 4 cores, building a read of 33 entry directories
        # took 292 ms with the job and 22 ms listing on the driver, and of
        # 1000 directories 435 ms against 236 ms (the job's per-path cost is
        # lower, so it pays off again at a few thousand paths)
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "4096"
        )
    # sandbox adaptation: the VM's virtio disk stalls on dirty-page
    # writeback under concurrent shuffle writes; a real cluster would have
    # local SSDs per executor. tmpfs local dirs remove that artifact.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_graft_local")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()
    # allow a fresh master/memory config on the next build_session
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession.builder._options = {}  # noqa: SLF001
