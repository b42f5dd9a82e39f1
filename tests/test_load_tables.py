from geoestate_etl_spark.sources.parquet_io import load_tables
from tests.conftest import SF_SMOKE


def test_load_tables_all(spark):
    tables = load_tables(spark, SF_SMOKE)
    assert set(tables) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert tables["region"].count() == 5
    # events ts must land on a usable timestamp type whichever way the
    # driver generated the file: TIMESTAMP(NANOS) -> rebuilt micros
    # (TimestampType), plain tz-less timestamp[us] -> TimestampNTZType
    # (Spark 4 infers NTZ, matching DuckDB's tz-less TIMESTAMP)
    assert str(tables["events"].schema["ts"].dataType) in (
        "TimestampType()",
        "TimestampNTZType()",
    )


def test_load_tables_subset(spark):
    tables = load_tables(spark, SF_SMOKE, ["nation", "region"])
    assert set(tables) == {"nation", "region"}


def test_nanos_events_load_without_touching_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file loads through a per-read option:
    the session conf is left exactly as it was, and µs timestamps are
    rebuilt with integer division (float division is off by ±1 µs at
    ns-epoch magnitudes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from geoestate_etl_spark.sources.parquet_io import load_events

    ns = [1_700_000_000_123_456_789, 1_700_000_000_123_456_789 + 1500]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.5, 2.5],
                "props": ["{}", "{}"],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    before = dict(spark.conf.getAll)
    rows = (
        load_events(spark, str(tmp_path))
        .select("event_id", F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    )
    assert dict(spark.conf.getAll) == before
    assert [r.us for r in rows] == [1_700_000_000_123_456, 1_700_000_000_123_458]
