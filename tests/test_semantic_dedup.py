"""SemDeDup semantic dedup: planted-duplicate recall, the greedy
ordering rule, cluster-join shape, and clustering determinism.

The registry entry (`semantic_dedup`) is hash-gated against the DuckDB
oracle in test_oracle_queries; these tests pin the parts the oracle
can't see — that planted near-copies actually land in one cluster and
get deduped, and that the pair scan never degrades to a cartesian.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from geoestate_etl_spark.operators.semantic_dedup import (
    cluster_embeddings,
    semantic_dedup,
    semantic_pairs,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, cell int, embedding array<float>"
    )


def test_planted_near_copies_are_dropped(spark):
    """Copies of a base vector with tiny noise dedup to the min id;
    the orthogonal outlier survives."""
    base = [1.0, 0.0, 0.0, 0.0]
    near1 = [0.999, 0.01, 0.0, 0.0]
    near2 = [0.998, -0.02, 0.01, 0.0]
    outlier = [0.0, 0.0, 1.0, 0.0]
    df = _df(
        spark,
        [(10, 0, base), (11, 0, near1), (12, 0, near2), (13, 0, outlier)],
    )
    pairs, decisions = semantic_dedup(df, cosine_threshold=0.95)
    kept = {r.vec_id for r in decisions.filter("kept").collect()}
    assert kept == {10, 13}
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got_pairs == {(10, 11), (10, 12), (11, 12)}


def test_greedy_order_rule_chain(spark):
    """a~b and b~c but a≁c: BOTH b and c are dropped — dedup is
    against the fixed id order (the published SemDeDup rule), not
    against the surviving set."""
    a40, a80 = math.radians(40), math.radians(80)
    df = _df(
        spark,
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [math.cos(a40), math.sin(a40)]),
            (3, 0, [math.cos(a80), math.sin(a80)]),
        ],
    )
    pairs, decisions = semantic_dedup(df, cosine_threshold=0.7)
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got_pairs == {(1, 2), (2, 3)}  # cos(40°)≈0.766; cos(80°)≈0.17
    kept = {r.vec_id for r in decisions.filter("kept").collect()}
    assert kept == {1}


def test_cross_cluster_pairs_not_examined(spark):
    """Identical vectors in different cells are NOT paired — the
    documented SemDeDup approximation (cluster = candidate scope)."""
    v = [1.0, 0.0]
    df = _df(spark, [(1, 0, v), (2, 1, v)])
    pairs, decisions = semantic_dedup(df, cosine_threshold=0.9)
    assert pairs.count() == 0
    assert decisions.filter("kept").count() == 2


def test_pair_scan_is_equi_join(spark):
    """The within-cluster scan must be a cell equi-join, never a
    cartesian/nested-loop (the whole point of clustering first)."""
    df = _df(spark, [(i, i % 4, [float(i), 1.0]) for i in range(40)])
    plan = semantic_pairs(df, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_max_cluster_size_cap_skips_degenerate_cluster(spark):
    """An over-cap cluster contributes no pairs (and is auditable via
    cap_hot_buckets' twin, like the text-LSH hot buckets)."""
    hot = [(i, 0, [1.0, 0.0]) for i in range(10)]
    cold = [(100, 1, [0.0, 1.0]), (101, 1, [0.0, 1.0])]
    df = _df(spark, hot + cold)
    pairs = semantic_pairs(df, 0.9, max_cluster_size=5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(100, 101)}


def test_cluster_embeddings_deterministic_total(spark):
    """Every vector assigned exactly once; rerun is bit-identical
    (deterministic Lloyd — no RNG, fixed init)."""
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    a = cluster_embeddings(emb, n_cells=8, iters=3)
    b = cluster_embeddings(emb, n_cells=8, iters=3)
    n = emb.count()
    assert a.count() == n
    assert a.select("vec_id").distinct().count() == n
    assert (
        a.withColumnRenamed("cell", "ca")
        .join(b.withColumnRenamed("cell", "cb"), "vec_id")
        .filter("ca != cb")
        .count()
        == 0
    )


def test_geo_fold_has_grid_rows(spark):
    """r4 fold: geo_distance_radius carries the former geo_grid_count
    surface as kind='grid' rows."""
    from geoestate_etl_spark.plans.queries_suites import q_geo_distance_radius

    df = q_geo_distance_radius(spark, "/root/testdata/sf0.001")
    grid = df.filter(F.col("kind") == "grid")
    assert grid.count() > 0
    assert grid.agg(F.sum("cnt")).first()[0] == spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).count()


def test_centroid_distance_order_keeps_most_central(spark):
    """Paper-faithful ordering: within a duplicate group the member
    CLOSEST to its cluster centroid survives, regardless of id."""
    import math

    from geoestate_etl_spark.operators.semantic_dedup import semantic_dedup

    # centroid of cell 0 at [1, 0]; id 3 is closest to it but has the
    # LARGEST id — id order would keep 1, centroid order must keep 3
    a5, a10 = math.radians(5), math.radians(10)
    df = _df(
        spark,
        [
            (1, 0, [math.cos(a10), math.sin(a10)]),
            (2, 0, [math.cos(a5), -math.sin(a5)]),
            (3, 0, [1.0, 0.0]),
        ],
    )
    cents = [[1.0, 0.0]]
    _, by_id = semantic_dedup(df, cosine_threshold=0.9)
    assert {r.vec_id for r in by_id.filter("kept").collect()} == {1}
    _, by_dist = semantic_dedup(
        df, cosine_threshold=0.9, order="centroid_distance", centroids=cents
    )
    assert {r.vec_id for r in by_dist.filter("kept").collect()} == {3}


def test_centroid_order_requires_centroids(spark):
    import pytest as _pytest

    from geoestate_etl_spark.operators.semantic_dedup import semantic_dedup

    df = _df(spark, [(1, 0, [1.0, 0.0])])
    with _pytest.raises(ValueError, match="centroid"):
        semantic_dedup(df, order="centroid_distance")
