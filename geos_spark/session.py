"""SparkSession factory with engine-tuned defaults.

Local-mode testing (``local[N]``) stands in for a multi-executor
cluster; all knobs below are the ones that matter at 100 TB too:
AQE (runtime re-plan + skew-join backstop), Arrow batching for the
pandas-UDF kernels, shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cores() -> int:
    """CPUs this process may run on (the affinity mask, like nproc)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _host_driver_memory() -> str:
    """Half of physical memory (MemTotal), in whole GiB, at least 1g:
    in local mode the driver JVM also hosts every executor task."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"


def get_spark(
    app_name: str = "geos_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    master: str | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or _host_cores())
    if shuffle_partitions is None:
        # 2x cores locally; on a real cluster this scales with executors
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.master(master or f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size for pUDF stages; env-overridable so the
        # batch-size sensitivity of the pandas-UDF join can be swept
        # without code changes (results recorded in BASELINE.md)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iceberg_conf(
    catalog: str = "lake",
    warehouse: str = "/tmp/geos_spark_warehouse",
) -> dict:
    """Spark conf enabling an Iceberg catalog — pass as ``extra_conf``
    to :func:`get_spark` on a cluster where the
    ``iceberg-spark-runtime`` jar is deployed (``spark-submit
    --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12``).

    The engine's checkpoint/lineage contract (plans/checkpoint.py) is
    format-agnostic: with Iceberg available, each bucket commit is an
    Iceberg snapshot (``df.writeTo(f"{catalog}.t").append()``); in
    this sandbox (no Iceberg jar baked in) the identical contract runs
    over parquet subdirectories + an atomically-renamed JSON manifest.
    """
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions"
        ),
    }
