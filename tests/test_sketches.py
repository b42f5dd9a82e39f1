"""Count-min sketch properties: never underestimates, exact for heavy
keys when width comfortably exceeds cardinality, deterministic."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoestate_etl_spark.operators.sketches import cms_build, cms_estimate
from tests.conftest import SF_ORACLE


def test_cms_never_underestimates_and_is_tight_when_wide(spark):
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    truth = {
        r.o_orderpriority: r.cnt
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("cnt")).collect()
    }
    keys = orders.select("o_orderpriority").distinct()
    sketch = cms_build(orders, "o_orderpriority", depth=4, width=256)
    est = {
        r.o_orderpriority: r.est
        for r in cms_estimate(sketch, keys, "o_orderpriority", depth=4, width=256).collect()
    }
    assert set(est) == set(truth)
    for k, true_cnt in truth.items():
        assert est[k] >= true_cnt  # CMS never underestimates
    # 5 distinct keys in 256 buckets x 4 depths: no collision survives min
    assert est == truth


def test_cms_sketch_size_is_bounded(spark):
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    sketch = cms_build(li, "l_partkey", depth=4, width=64)
    assert sketch.count() <= 4 * 64  # d*w rows regardless of input size


def test_cms_absent_key_estimates_zero(spark):
    """An unseen key must estimate 0 (empty bucket at some depth),
    not vanish or inherit colliding buckets' counts (review finding)."""
    df = spark.createDataFrame([("a",)] * 10 + [("b",)] * 5, ["k"])
    keys = spark.createDataFrame([("a",), ("zzz_absent",)], ["k"])
    sketch = cms_build(df, "k", depth=4, width=64)
    est = {r.k: r.est for r in cms_estimate(sketch, keys, "k", 4, 64).collect()}
    assert est == {"a": 10, "zzz_absent": 0}


def test_cms_deterministic(spark):
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    a = sorted(map(tuple, cms_build(orders, "o_orderstatus", 3, 32).collect()))
    b = sorted(map(tuple, cms_build(orders, "o_orderstatus", 3, 32).collect()))
    assert a == b


def test_cms_probe_join_broadcasts_sketch_side(spark):
    """The broadcast hint must land on the sketch (build) side: Spark
    ignores a broadcast hint on the preserved side of a left join
    (advice finding), which would silently shuffle."""
    from geoestate_etl_spark.operators.sketches import cms_build, cms_estimate

    df = spark.createDataFrame([(f"k{i % 7}",) for i in range(100)], ["key"])
    keys = spark.createDataFrame([("k0",), ("k3",)], ["key"])
    est = cms_estimate(cms_build(df, "key"), keys, "key")
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
