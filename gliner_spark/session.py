"""SparkSession factory tuned for this pipeline.

Local-mode testing stands in for the multi-executor cluster; the configs
below are the ones that transfer (AQE, shuffle partitioning, Arrow batch
sizing). On a real cluster the same builder is used by spark-submit with
master/executor settings supplied externally.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_UNITS = {"": 2**20, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _page_size(driver_memory: str) -> str:
    """``spark.buffer.pageSize`` for a local session whose heap is
    ``driver_memory`` (a JVM memory string; no unit means MiB): the
    largest power of two ≤ heap / 8192, between 64 KiB and 64 MiB.

    Every sort, aggregation map and hash join of a task takes one page
    on its first row. Spark's default page (16 MiB on a 2 GB 4-core
    driver) is a G1 humongous object (≥ half a region, heap / 2048),
    which can start a concurrent marking cycle, so on this engine's
    small tasks the op's CPU swung with the task count and with G1
    (docs/SCALE.md, "Memory & batching"). heap / 8192 stays below the
    humongous size on heaps up to 64 GB, and 8192 pages (Spark's page
    table per task) still cover the heap, so no task runs out of pages
    before it runs out of memory."""
    num, unit = driver_memory.strip().lower().rstrip("b"), ""
    if num and num[-1] in _UNITS:
        num, unit = num[:-1], num[-1]
    heap = int(num) * _UNITS[unit]
    page = 1 << max(16, min(26, (heap // 8192).bit_length() - 1))
    return f"{page // 1024}k"


def build_session(
    app_name: str = "gliner_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra: dict | None = None,
) -> SparkSession:
    driver_memory = (extra or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # match parallelism, not the 200 default: avoids tiny-task overhead
        # locally; on a cluster set ≈ 2-3× total cores (AQE coalesces down)
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scorer batch inside mapInArrow: 2048 measured fastest for the
        # surrogate (amortizes per-batch overhead); drop toward 256-512
        # for ONNX where padded-batch memory matters
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_batch_rows),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.buffer.pageSize", _page_size(driver_memory))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
