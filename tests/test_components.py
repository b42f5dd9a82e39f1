"""Connected-components semantics on known graphs, including a long
chain (forces multiple propagation iterations) and the end-to-end
minhash-pairs -> clusters path."""

from __future__ import annotations

import pytest

from geoestate_etl_spark.operators.components import (
    connected_components,
    dedup_clusters,
)
from geoestate_etl_spark.operators.dedup import minhash_near_dups


def cc_map(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {r.id: r.component for r in connected_components(df).collect()}


def test_two_components(spark):
    got = cc_map(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # a 12-node chain needs several label-propagation rounds
    edges = [(i, i + 1) for i in range(1, 12)]
    got = cc_map(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == 12


def test_long_chain_pointer_jumping(spark):
    # 400-node chain: one-hop propagation needs ~400 rounds; with
    # pointer jumping the default 20 suffice (O(log n))
    edges = [(i, i + 1) for i in range(400)]
    got = cc_map(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 401


def test_cycle_and_cross_edges(spark):
    got = cc_map(spark, [(5, 6), (6, 7), (7, 5), (7, 2), (30, 31)])
    assert got[5] == got[6] == got[7] == got[2] == 2
    assert got[30] == got[31] == 30


def test_dedup_clusters_from_minhash(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base + " extra"),
            (7, "unrelated text about columnar storage engines and scans"),
            (8, "unrelated text about columnar storage engines and scans"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_near_dups(docs, "text", "doc_id", jaccard_threshold=0.3)
    clusters = {
        r.keeper_id: r.cluster_size for r in dedup_clusters(pairs).collect()
    }
    assert clusters[1] == 3  # 1,2,3 transitively clustered
    assert clusters[7] == 2  # 7,8 exact dups


def test_dedup_clusters_quality_keeper(spark):
    """With scores, the keeper is the best-scoring member; ties and
    wholly-unscored clusters fall back to min id deterministically."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (8, 9)], ["id_a", "id_b"]
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5),   # clear winner 2
         (4, 0.7), (5, 0.7),             # tie -> min id 4
         (7, 0.1)],                      # 6 unscored -> scored 7 wins
        ["id", "score"],                 # component {8,9} fully unscored -> 8
    )
    got = {
        r.component: (r.keeper_id, r.cluster_size)
        for r in dedup_clusters(pairs, scores=scores).collect()
    }
    assert got == {1: (2, 3), 4: (4, 2), 6: (7, 2), 8: (8, 2)}


# --- large-star/small-star variant: must agree with label propagation ---

def _star_map(spark, edges):
    from geoestate_etl_spark.operators.components import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    rows = connected_components_star(df).collect()
    assert len({r.id for r in rows}) == len(rows)  # one label per node
    return {r.id: r.component for r in rows}


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (10, 11)],
        [(i, i + 1) for i in range(1, 12)],            # chain
        [(5, 6), (6, 7), (7, 5), (7, 2), (30, 31)],    # cycle + cross
        [(0, i) for i in range(1, 50)],                # high-degree hub
        [(9, 9), (1, 2), (2, 1)],                      # self-loop + dup dirs
    ],
)
def test_star_matches_label_prop(spark, edges):
    assert _star_map(spark, edges) == cc_map(spark, edges)


def test_star_random_graph_matches(spark):
    import random

    rng = random.Random(42)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _star_map(spark, edges) == cc_map(spark, edges)


def test_star_long_chain(spark):
    edges = [(i, i + 1) for i in range(400)]
    got = _star_map(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 401


# --- r9 driver-sized small-graph tier: must agree with the loop ---

def _cc_distributed_map(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    return {
        r.id: r.component
        for r in connected_components(df, driver_max_edges=None).collect()
    }


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3), (10, 11)],
        [(i, i + 1) for i in range(1, 12)],            # chain
        [(5, 6), (6, 7), (7, 5), (7, 2), (30, 31)],    # cycle + cross
        [(0, i) for i in range(1, 50)],                # high-degree hub
        [(9, 9), (1, 2), (2, 1)],                      # self-loop + dup dirs
        [(i, i + 1) for i in range(400)],              # long chain
    ],
)
def test_driver_tier_matches_distributed_loop(spark, edges):
    """The small-graph union-find tier and the distributed
    pointer-jumping loop are the same fixed point (min reachable id)
    — pinned so the r9 driver tier can never drift from the loop it
    bypasses."""
    assert cc_map(spark, edges) == _cc_distributed_map(spark, edges)


def test_driver_tier_random_graph_matches_distributed(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(300))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(320)
    ]
    assert cc_map(spark, edges) == _cc_distributed_map(spark, edges)


def test_driver_tier_null_ids_fall_back_to_loop(spark):
    """A NULL id cannot be ordered in Python; the driver tier must
    decline and the distributed loop's null-key semantics apply."""
    df = spark.createDataFrame(
        [(None, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.id: r.component for r in connected_components(df).collect()
    }
    want = {
        r.id: r.component
        for r in connected_components(
            df, driver_max_edges=None
        ).collect()
    }
    assert got == want


def test_driver_tier_nan_ids_fall_back_to_loop(spark):
    """A float NaN id is unequal to itself and unordered in Python; the
    driver tier must decline, and the distributed loop labels every
    node with its minimum reachable id (Spark orders NaN above every
    other double)."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(nan, 1.0), (1.0, 2.0), (5.0, 6.0)], "id_a double, id_b double"
    )
    got = {
        (str(r.id), str(r.component))
        for r in connected_components(df).collect()
    }
    assert got == {
        ("nan", "1.0"),
        ("1.0", "1.0"),
        ("2.0", "1.0"),
        ("5.0", "5.0"),
        ("6.0", "5.0"),
    }
