"""SparkSession factory.

The reference creates a bare local session per Airflow task
(``dags/main.py:144-145``) with zero tuning. Here the session is
created once with the knobs that matter at scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — our whole "physical tuning" story per SURVEY §4.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is overridden to ~2-3x total executor cores (AQE
  coalesces down, so erring high is safe).
- UTC session timezone so event-time semantics are stable and match
  the DuckDB oracle.
- Arrow enabled for the few vectorized-Python paths (pandas_udf).
- Driver heap sized from the host: half of physical RAM unless
  ``SPARK_GRAFT_DRIVER_MEM`` names a size, so a local run never claims
  more memory than the machine has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """Half of the host's physical RAM, as a JVM size in MiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{total // 2 // 2**20}m"


def get_spark(
    app_name: str = "geoestate-etl-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local-mode defaults; on a cluster the master/memory settings are
    supplied by spark-submit and everything here still applies.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
