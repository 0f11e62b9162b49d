"""SparkSession factory tuned for the local[32] harness.

The same settings are scale-appropriate defaults for a real cluster:
AQE on (runtime coalesce + skew-join splitting), UTC session timezone
(parquet timestamps compare bit-identically against the DuckDB
oracle), Arrow enabled for the pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_heap_gib() -> int:
    """Half of physical memory in whole GiB, at least 1: the JVM heaps
    and the Python workers must both fit the host (a 16g heap does
    not fit a 15 GB box)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, phys // (2 << 30))


def default_driver_mem() -> str:
    """host_heap_gib() capped at 16g. MNEMO_SPARK_DRIVER_MEM overrides
    it."""
    return f"{min(16, host_heap_gib())}g"


def get_spark(app_name: str = "mnemo_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): byte-based
        # coalescing (parallelismFirst=false + a small advisory size)
        # was measured r9 to halve the co-purchase pair aggregation BUT
        # collapse the exchange feeding the applyInPandas chain fold to
        # 1-2 partitions — Python/Arrow stages look tiny in bytes while
        # being the most CPU-expensive stages in the suite
        # (assign_chain_events 1.4s -> 6.3s). Net bench -15%; reverted.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        # events.parquet carries TIMESTAMP(NANOS); Spark 4 has no nanos
        # timestamp type — read as long, io.load_table converts to a
        # µs timestamp (truncation, matching DuckDB's µs internal type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("MNEMO_SPARK_DRIVER_MEM") or default_driver_mem(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
