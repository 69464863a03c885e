"""SparkSession factory with scale-aware defaults.

Local test profile runs ``local[N]`` (single JVM); the same settings are
what we would ship to a 1000-executor cluster, minus the master URL:
AQE on (runtime skew-join + partition coalescing), Arrow on (fast
pandas-UDF path), UTC session timezone (parquet timestamps are naive;
pinning UTC makes Spark and DuckDB read identical values — reference
uses naive localtime via ``datetime.fromtimestamp``,
``/root/reference/raw_data_reformat.py:60-61``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def _default_driver_memory() -> str:
    """Half the host's RAM, at most 48 GiB: a heap the host can back, so
    the JVM collects before the kernel kills it."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{min(48 * 1024, total_kb // 1024 // 2)}m"


def get_spark(
    app_name: str = "sensomics_data_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on; ``spark.driver.memory`` to ``$SPARK_DRIVER_MEMORY``, else
    half the host's RAM (at most 48 GiB).

    ``shuffle_partitions`` defaults to the core count: at local scale the
    stock 200 over-parallelizes tiny shuffles; on a real cluster you would
    raise it to ~2-3x total cores and let AQE coalesce.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores events.ts as TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as long and convert in
        # sources.readers.load_table (values are µs-aligned, lossless)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
