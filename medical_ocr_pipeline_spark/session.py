"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_HEAP_FRAC = 0.4     # of physical memory
DRIVER_HEAP_CAP_MB = 16 * 1024


def driver_memory() -> str:
    """The ``spark.driver.memory`` value: ``SPARK_DRIVER_MEM`` when set,
    else 40% of physical memory in MiB, capped at ``16g``.

    A local-mode driver hosts every executor thread, so its heap is the
    engine's whole working set; G1 grows it lazily towards the cap, and a
    cap near the machine's RAM ends in a kernel OOM kill of the JVM.
    """
    override = os.environ.get("SPARK_DRIVER_MEM")
    if override:
        return override
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)
    heap_mb = int(phys_mb * DRIVER_HEAP_FRAC)
    return "16g" if heap_mb >= DRIVER_HEAP_CAP_MB else f"{heap_mb}m"


def get_spark(app: str = "medical_ocr_pipeline_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Get or create the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 when unset) and
    ``shuffle_partitions`` to the master's core count (at least 8).  The
    driver heap (``spark.driver.memory``) defaults to 40% of physical
    memory, never more than ``16g``; a set ``SPARK_DRIVER_MEM`` overrides
    it unchanged.  See ``driver_memory``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Key-only repartitions (base.fanout) are REPARTITION_BY_COL:
        # AQE-managed, partition count from shuffle.partitions.  At the
        # default minPartitionSize (1 MB) AQE would coalesce the toy-
        # scale corpora (sf0.1 documents ~1.5 MB of text) down to 1-2
        # partitions and serialize the shingle/token pipelines; with
        # parallelismFirst (default true) the target size is
        # max(total/parallelism, minPartitionSize), so a tiny floor
        # keeps local[N] fan-outs at N partitions while a production
        # cluster (where total/parallelism >> 1 MB) is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
