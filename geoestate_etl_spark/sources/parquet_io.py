"""Parquet source/sink + managed-table sink.

Covers reference operators S2/S3 (parquet write/read between tasks,
``dags/main.py:161,175,...``), S5 (ClickHouse MergeTree DDL,
``dags/main.py:113-130``), S6 (truncate-before-load,
``dags/main.py:415-421``) and S7 (the collect()+batched-INSERT loader,
``dags/main.py:381-437``).

The scale story: the reference's serving-store load path pulls every
row to the driver and re-inserts in 2,000-row batches — a single-
process cliff (SURVEY §3.2). Here the sink is a partition-parallel
``df.write``; MergeTree's ``ORDER BY house_id`` clustering is
expressed as ``sortWithinPartitions`` before write so parquet
row-group stats give the same pruning benefit; truncate-before-load
is ``mode("overwrite")``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3: parquet scan. Columnar, predicate-pushdown capable."""
    return spark.read.parquet(path)


def write_sorted_table(
    df: DataFrame,
    path: str,
    sort_key: str,
    mode: str = "overwrite",
) -> None:
    """S5/S7: serving-table sink ≈ MergeTree ``ORDER BY sort_key``.

    Partition-parallel write (no collect), rows clustered by the sort
    key within each file so min/max row-group stats prune point/range
    lookups — the distributed analogue of the reference's MergeTree
    primary key.
    """
    df.sortWithinPartitions(sort_key).write.mode(mode).parquet(path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table loader, normalizing nanosecond timestamps.

    The r3 testdata writes plain tz-less timestamp[us], which reads
    directly (as TIMESTAMP_NTZ). Earlier driver testdata wrote ``ts``
    as parquet TIMESTAMP(NANOS), which Spark 4 refuses to read
    natively (``PARQUET_TYPE_ILLEGAL``); such a file is re-read with
    the per-read ``nanosAsLong`` option, which surfaces ``ts`` as
    ns-since-epoch longs, and we rebuild a microsecond timestamp with
    *integer* division (ns epoch values exceed double's 2^53 exact
    range, so float division would corrupt timestamps by ±1 µs). The
    option alone still fails at schema inference, so that read
    declares the schema. The session conf is never written.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    path = os.path.join(sf_dir, "events.parquet")
    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
        df = (
            spark.read.schema(
                "event_id long, ts long, user_id long, event_type string,"
                " value double, props string"
            )
            .option("spark.sql.legacy.parquet.nanosAsLong", "true")
            .parquet(path)
        )
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # watermarks/event-time ops require TIMESTAMP; with the UTC
        # session timezone the cast preserves every wall-clock value
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver testdata table from ``sf_dir``; ``events`` goes
    through :func:`load_events`."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the driver testdata tables from ``sf_dir`` as DataFrames."""
    from geoestate_etl_spark.schema import TESTDATA_TABLES

    names = names or TESTDATA_TABLES
    return {name: table(spark, sf_dir, name) for name in names}
