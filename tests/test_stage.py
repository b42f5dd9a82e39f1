"""Stage helpers (``geoestate_etl_spark/stage.py``): job labels that
restore the caller's label, and observed counts that read the metrics
Spark delivered. The empty-metrics-row fallback is exercised on the
corpus chain that produces it
(``test_corpus_pipeline::test_seen_chain_empty_metrics_row_falls_back``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.stage import labelled, observed
from perfbench.trace import last_job_id


def _label(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description")


def test_labelled_restores_the_callers_label_on_error(spark):
    spark.sparkContext.setJobDescription("caller")
    try:
        with pytest.raises(RuntimeError):
            with labelled(spark, "stage: inner"):
                assert _label(spark) == "stage: inner"
                raise RuntimeError("fault")
        assert _label(spark) == "caller"
    finally:
        spark.sparkContext.setJobDescription(None)
    with labelled(spark, "stage: inner"):
        pass
    assert _label(spark) is None


def test_observed_reads_delivered_metrics_without_a_job(spark):
    df, read = observed(
        spark.range(10), F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
    )
    assert df.count() == 10
    before = last_job_id(spark)
    assert read() == {"n": 10, "s": 45}
    assert last_job_id(spark) == before


def test_observed_unknown_metric_raises_without_recompute(spark):
    """A name that was never observed is an error, not a reason to
    recompute: the metrics row is non-empty, so no job runs."""
    df, read = observed(spark.range(3), F.count(F.lit(1)).alias("n"))
    df.collect()
    before = last_job_id(spark)
    with pytest.raises(KeyError):
        read()["n_missing"]
    assert last_job_id(spark) == before
