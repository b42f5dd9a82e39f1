"""Split-block Bloom filter (`operators/bloom.py`): the
no-false-negative contract, a measured FP rate, the bounded build
shape, and plan audits (broadcast probe join, no corpus shuffle)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.bloom import (
    bloom_build,
    bloom_probe,
)
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def members(spark):
    # odd ids 1..9999 are members; evens are non-members
    return spark.range(1, 10_000, 2).select(F.col("id").alias("v"))


def test_no_false_negatives(spark, members):
    """Every inserted element must survive the probe — the property
    the decontaminate `bloom` oracle variant rides on."""
    bf = bloom_build(members, "v", num_words=1 << 10)
    back = bloom_probe(members, "v", bf, num_words=1 << 10)
    assert back.count() == members.count()


def test_fp_rate_bounded_and_present(spark, members):
    """Non-members pass at the FP rate: strictly between 0 (the
    filter is not a pass-through at this undersized W — load ~5
    elements/word) and a generous bound (it is not accepting
    everything either)."""
    bf = bloom_build(members, "v", num_words=1 << 10)
    non = spark.range(0, 10_000, 2).select(F.col("id").alias("v"))
    fp = bloom_probe(non, "v", bf, num_words=1 << 10).count()
    rate = fp / 5000.0
    assert 0.0 < rate < 0.60, rate  # ~5000 elems in 65536 bits
    # a comfortably sized filter gets a low single-digit-percent rate
    bf2 = bloom_build(members, "v", num_words=1 << 13)
    fp2 = bloom_probe(non, "v", bf2, num_words=1 << 13).count()
    assert fp2 / 5000.0 < 0.05, fp2


def test_mismatched_params_guarded_by_contract(spark, members):
    """Probing with a different num_words than the build silently
    degrades to nonsense — pin that the SAME params round-trip and a
    different W changes the candidate set (documents the 'params must
    match' contract rather than leaving it folklore)."""
    bf = bloom_build(members, "v", num_words=1 << 10)
    same = bloom_probe(members, "v", bf, num_words=1 << 10).count()
    other = bloom_probe(members, "v", bf, num_words=1 << 9).count()
    assert same == members.count()
    assert other < same  # wrong W loses members — do not do this


def test_build_relation_bounded(spark):
    """1M inputs → at most num_words rows out (the broadcastable
    invariant that makes the probe join map-side at any input size)."""
    big = spark.range(1_000_000).select(F.col("id").alias("v"))
    bf = bloom_build(big, "v", num_words=1 << 8)
    assert bf.count() <= 1 << 8
    # near-saturated at this load: every word present, most bits set
    stats = bf.agg(
        F.count("*").alias("n"),
        F.avg(F.bit_count("bits")).alias("avg_bits"),
    ).first()
    assert stats["n"] == 1 << 8
    assert stats["avg_bits"] > 32


def test_probe_plan_broadcast_no_shuffle(spark, members):
    """The probe side must not shuffle: the filter relation arrives
    as a BroadcastExchange and the probed frame goes scan→project→
    BroadcastHashJoin with no Exchange of its own."""
    bf = bloom_build(members, "v", num_words=1 << 10)
    probe = spark.range(100_000).select(F.col("id").alias("v"))
    plan = (
        bloom_probe(probe, "v", bf, num_words=1 << 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # exactly the build-side aggregation exchanges, no probe-side one:
    # the probe branch is Range -> Project -> join (no Exchange above
    # Range in the final plan tree's probe leg)
    probe_leg = plan.split("BroadcastHashJoin", 1)[1]
    assert "Range" in probe_leg


def test_bloom_gate_equals_exact_on_documents(spark):
    """End-to-end: Bloom-gated contamination report == exact report on
    the real documents table (the driver-oracle property, pinned
    in-repo at sf0.001 too)."""
    from geoestate_etl_spark.operators.decontam import (
        contamination_report,
        contamination_report_bloom,
    )

    docs = spark.read.parquet(
        os.path.join(SF_ORACLE.replace("sf0.01", "sf0.001"), "documents.parquet")
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in contamination_report(train, bench, "text", "doc_id").collect()
    }
    gated = {
        (r["doc_id"], r["n_shared"])
        for r in contamination_report_bloom(
            train, bench, "text", "doc_id", num_words=1 << 10
        ).collect()
    }
    assert exact == gated
