"""SparkSession factory tuned for the encode engine.

Local-mode defaults match the sandbox (local[$SPARK_GRAFT_CPUS], single JVM);
on a real cluster the same settings apply per executor. Arrow batch size
(``chunk_rows`` -> ``spark.sql.execution.arrow.maxRecordsPerBatch``) is the
one chunk-size setting: on every encode path a chunk is at most one Arrow
batch (the file-split scan reads its files in batches of this size, the
keyed path cuts each batch at bucket boundaries), the Spark analogue of the
reference's row group (SURVEY.md §1.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# ~8k rows/chunk at ~128-1024 tokens/row => 4-32 MB of flat int32 per chunk:
# large enough to amortize codec setup, small enough to stay in executor RAM
# at 100 TB scale (chunks are independent; memory is O(chunk), not O(input)).
DEFAULT_CHUNK_ROWS = 8192

MAX_DRIVER_MIB = 24 << 10


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap for ``spark.driver.memory``: half of physical RAM, capped
    at 24g. Local mode runs every task in the driver JVM, so a heap larger
    than the machine (24g on a 15 GB box with no swap) ends in an OOM kill
    instead of a spill. Without a readable MemTotal the cap is used."""
    try:
        with open(meminfo) as f:
            total_kib = next(
                (int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:")), None
            )
    except OSError:
        total_kib = None
    if total_kib is None:
        return f"{MAX_DRIVER_MIB}m"
    return f"{min(MAX_DRIVER_MIB, total_kib // 2048)}m"


def available_cores() -> int:
    """CPUs this process may run on: its affinity mask, the count nproc
    reports. ``os.cpu_count()`` counts the whole machine instead."""
    return len(os.sched_getaffinity(0))


def empty_df(spark: SparkSession, ddl: str) -> DataFrame:
    """Zero-row DataFrame of schema ``ddl``, built on the JVM as an empty
    local relation: collecting it runs no task and starts no Python worker.
    ``createDataFrame([], ddl)`` instead plans a PythonRDD whose every
    partition forks a worker (0.28 s vs 0.04 s per collect at local[4])."""
    jspark = spark._jsparkSession
    jschema = jspark.parseDataType(StructType.fromDDL(ddl).json())
    return DataFrame(jspark.createDataFrame(spark._jvm.java.util.ArrayList(), jschema), spark)


def get_spark(
    app: str = "parquet_to_arrow_spark",
    cores: int | str | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    ncores = available_cores() if cores == "*" else int(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(ncores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # int64 micros, not the deprecated INT96: INT96 chunks carry no
        # min/max statistics (killing manifest bounds / file skipping for
        # timestamp columns) and Iceberg's spec requires micros anyway
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(chunk_rows))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
