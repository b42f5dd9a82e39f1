"""JDBC serving sink/source — the reference's external-OLAP store
(ClickHouse), expressed as Spark's JDBC data source behind a
driver-class probe.

The reference lands its cleaned table in ClickHouse with a
driver-side ``collect()`` + 2,000-row batched INSERT loop
(``dags/main.py:381-437``) and serves SQL back through a client
connection (``dags/main.py:481-502``). This module is the
distributed twin: ``df.write.format("jdbc")`` runs one INSERT stream
PER PARTITION on the executors (each itself batched via
``batchsize``), and reads come back partition-parallel via
predicate-split ranges — no row ever visits the driver.

Gating contract: a JDBC *driver* jar (ClickHouse, Postgres, ...) is not
bundled with pyspark, so every entry point probes for the requested
driver class first and raises an actionable error instead of Spark's
opaque ``ClassNotFoundException`` stack. When the jar IS present
(``spark-submit --jars clickhouse-jdbc-*.jar``) the same calls go
live unchanged — proven in-container by the test suite against the
Derby embedded driver that Spark bundles for its Hive metastore.

:func:`write_serving_table` is the composition callers want: JDBC
when a URL + live driver is configured, falling back to the
:func:`~geoestate_etl_spark.sources.parquet_io.write_sorted_table`
relational emulation (sorted parquet ≈ MergeTree ``ORDER BY``)
otherwise — so a pipeline runs identically in environments with and
without the external store.

Scale notes (real cluster, 100 TB):

- The write's connection fan-out == partition count. Size it with
  ``coalesce`` *before* the write (``n_connections``): a 1000-executor
  job must not open 8,000 sockets against one OLAP endpoint.
- ``batchsize`` (default 10k here vs the reference's 2k) controls
  rows per round-trip within each partition's stream.
- ``isolationLevel NONE`` — ClickHouse has no transactions; asking
  for READ_UNCOMMITTED makes some drivers throw.
- Reads must pass ``partition_column``/bounds: a bare JDBC read is
  ONE task pulling the whole table through one socket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from geoestate_etl_spark.sources.parquet_io import write_sorted_table

#: The driver the reference's store would use; callers override per DB.
CLICKHOUSE_DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"


class JdbcDriverMissing(RuntimeError):
    """Raised when the requested JDBC driver class is not on the
    Spark JVM classpath (driver jars are never bundled with pyspark)."""

    def __init__(self, driver: str) -> None:
        super().__init__(
            f"JDBC driver class {driver!r} is not on the Spark "
            "classpath. Add the vendor jar, e.g. spark-submit --jars "
            "clickhouse-jdbc-<version>-all.jar (or --packages "
            "com.clickhouse:clickhouse-jdbc:<version>). Without it, "
            "use write_serving_table(..., path=...) which lands the "
            "same relation as a sorted parquet serving table."
        )


def jdbc_driver_available(spark: SparkSession, driver: str) -> bool:
    """True if ``driver`` resolves in the Spark JVM.

    Resolution goes through Spark's own class loader (``Utils.
    classForName``) so jars added via ``--jars``/``spark.jars`` — which
    live in a child loader the plain ``java.lang.Class.forName`` root
    lookup can miss — are honored; falls back to ``Class.forName`` on
    Spark builds where the Utils signature differs.
    """
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(driver, True, False)
        return True
    except Exception:
        try:
            spark._jvm.java.lang.Class.forName(driver)
            return True
        except Exception:
            return False


def write_jdbc_table(
    df: DataFrame,
    url: str,
    table: str,
    driver: str = CLICKHOUSE_DRIVER,
    mode: str = "append",
    batchsize: int = 10_000,
    truncate: bool = False,
    create_table_options: str | None = None,
    n_connections: int | None = None,
    **options: str,
) -> None:
    """S5/S6/S7 against a REAL external OLAP store: executor-parallel
    batched INSERT streams (replacing the reference's single-process
    ``collect()`` loop, ``dags/main.py:381-437``).

    - ``mode='overwrite'`` + ``truncate=True`` == the reference's
      truncate-before-load (S6) without dropping the DDL;
      ``truncate=False`` re-creates the table, where
      ``create_table_options`` carries engine DDL (S5) — e.g.
      ``"ENGINE = MergeTree() ORDER BY house_id"``.
    - ``n_connections`` coalesces before the write to bound the
      endpoint's connection fan-out (see module scale notes). Coalesce,
      not repartition: narrowing parallelism must not buy a shuffle.
    """
    spark = df.sparkSession
    if not jdbc_driver_available(spark, driver):
        raise JdbcDriverMissing(driver)
    if n_connections is not None:
        df = df.coalesce(n_connections)
    writer = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("batchsize", str(batchsize))
        .option("isolationLevel", "NONE")
    )
    if truncate:
        writer = writer.option("truncate", "true")
    if create_table_options is not None:
        writer = writer.option("createTableOptions", create_table_options)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str = CLICKHOUSE_DRIVER,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    **options: str,
) -> DataFrame:
    """Scan an external table (or pushed-down subquery — pass
    ``table="(SELECT ...) t"``, the S8 external-SQL shape,
    ``dags/main.py:489-502``).

    With ``partition_column`` + bounds the scan splits into
    ``num_partitions`` range predicates executed in parallel; without
    them it is ONE task through one socket — acceptable only for dims.
    Filters/projections on the returned frame push down into the
    remote SQL (Catalyst JDBC pushdown), so ``.filter`` here becomes a
    remote ``WHERE``, not a full-table pull.
    """
    if not jdbc_driver_available(spark, driver):
        raise JdbcDriverMissing(driver)
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and "
                "num_partitions (the parallel-scan split)"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_serving_table(
    df: DataFrame,
    sort_key: str,
    path: str | None = None,
    jdbc_url: str | None = None,
    table: str | None = None,
    driver: str = CLICKHOUSE_DRIVER,
    mode: str = "overwrite",
    **jdbc_options,
) -> str:
    """The serving-store landing, environment-adaptive: JDBC when a
    URL is configured AND its driver is live, else the sorted-parquet
    emulation at ``path`` (``write_sorted_table`` — clustering by the
    sort key stands in for MergeTree's primary key). Returns which
    sink ran (``"jdbc"`` / ``"parquet"``) so pipelines can record it.

    An explicit ``jdbc_url`` with a MISSING driver raises (the caller
    asked for the external store; silently writing parquet instead
    would strand the data where their serving queries can't see it) —
    the fallback is for the *unconfigured* case, not the broken one.
    """
    if jdbc_url is not None:
        if table is None:
            raise ValueError("jdbc_url requires table")
        write_jdbc_table(
            df, jdbc_url, table, driver=driver, mode=mode, **jdbc_options
        )
        return "jdbc"
    if path is None:
        raise ValueError("provide jdbc_url+table or a parquet path")
    write_sorted_table(df, path, sort_key, mode=mode)
    return "parquet"
