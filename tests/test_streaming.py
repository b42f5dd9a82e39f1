"""Structured Streaming demo path: the batch-verified session-window
plan and a stream-static join, run as a real readStream (file source
-> memory sink) and checked against the batch result on the same
rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.sources.parquet_io import load_events
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_batch(spark, tmp_path_factory):
    # re-materialize with a us timestamp so readStream sees a plain schema
    p = str(tmp_path_factory.mktemp("stream") / "events")
    load_events(spark, SF_SMOKE).write.parquet(p)
    return p


def test_session_window_stream_matches_batch(spark, events_batch):
    from geoestate_etl_spark.streaming.event_windows import session_windows

    batch_df = spark.read.parquet(events_batch)
    expected = {
        (r.user_id, r.session_start): r.n_events
        for r in session_windows(batch_df, "5 minutes").collect()
    }

    stream = spark.readStream.schema(batch_df.schema).parquet(events_batch)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.user_id, r.session_start): r.n_events
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()
    assert got == expected


def test_stream_static_join(spark, events_batch):
    """Streaming fact joined to a static dimension (enrichment-at-
    ingest): the stream side micro-batches, the dim broadcasts."""
    batch_df = spark.read.parquet(events_batch)
    users = batch_df.select("user_id").distinct().withColumn(
        "segment", (F.col("user_id") % 3).cast("string")
    )
    expected = (
        batch_df.join(users, "user_id")
        .groupBy("segment")
        .count()
        .collect()
    )
    expected = {r.segment: r["count"] for r in expected}

    stream = spark.readStream.schema(batch_df.schema).parquet(events_batch)
    joined = stream.join(users, "user_id").groupBy("segment").count()
    q = (
        joined.writeStream.outputMode("complete")
        .format("memory")
        .queryName("enrich_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.segment: r["count"]
            for r in spark.sql("SELECT * FROM enrich_out").collect()
        }
    finally:
        q.stop()
    assert got == expected
