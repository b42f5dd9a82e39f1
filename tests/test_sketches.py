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


def test_cms_merge_fold_invariance(spark):
    """Counter matrices are linear: merging per-batch sketches must
    equal the one-pass full build bit-for-bit (the incremental /
    per-shard deployment contract), and estimates over the merge must
    equal estimates over the union."""
    from geoestate_etl_spark.operators.sketches import cms_merge

    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    parts = [
        orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ]
    merged = cms_merge(
        *[cms_build(p, "o_orderpriority", 4, 256) for p in parts]
    )
    full = cms_build(orders, "o_orderpriority", 4, 256)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    keys = orders.select("o_orderpriority").distinct()
    em = {
        r.o_orderpriority: r.est
        for r in cms_estimate(merged, keys, "o_orderpriority", 4, 256).collect()
    }
    ef = {
        r.o_orderpriority: r.est
        for r in cms_estimate(full, keys, "o_orderpriority", 4, 256).collect()
    }
    assert em == ef


def test_hll_merge_equals_full_build(spark):
    """DataSketches HLL: per-batch grouped sketches unioned with
    hll_union_agg estimate within the sketch rsd of BOTH the one-pass
    build and the exact truth (the union path uses its own composite
    estimator, so bit-equality with the direct build is NOT the
    contract - see the hll_build docstring)."""
    from geoestate_etl_spark.operators.sketches import hll_build, hll_merge

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    parts = [li.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    merged = hll_merge(
        *[hll_build(p, "l_partkey", ["l_returnflag"]) for p in parts]
    )
    full = hll_build(li, "l_partkey", ["l_returnflag"])
    est = F.hll_sketch_estimate("hll").alias("n")
    em = {r.l_returnflag: r.n for r in merged.select("l_returnflag", est).collect()}
    ef = {r.l_returnflag: r.n for r in full.select("l_returnflag", est).collect()}
    truth = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("n"))
        .collect()
    }
    for k, n in truth.items():
        assert abs(em[k] - n) <= 0.05 * n  # lg_k=12 -> ~1% rsd, 5x slack
        assert abs(ef[k] - n) <= 0.05 * n
        assert abs(em[k] - ef[k]) <= 0.05 * max(n, 1)


def test_hll_global_merge(spark):
    from geoestate_etl_spark.operators.sketches import hll_build, hll_merge

    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
    parts = [li.filter(F.col("l_orderkey") % 2 == i) for i in range(2)]
    merged = hll_merge(*[hll_build(p, "l_partkey") for p in parts])
    n = F.hll_sketch_estimate("hll").alias("n")
    est = merged.select(n).first().n
    full = hll_build(li, "l_partkey").select(n).first().n
    truth = li.select("l_partkey").distinct().count()
    assert abs(est - truth) <= 0.05 * truth
    assert abs(est - full) <= 0.05 * truth
