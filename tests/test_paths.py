"""BFS hop-distance tier (operators/paths.py)."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.paths import bfs_distances


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_known_distances_path_graph(spark):
    # 0-1-2-3-4 chain plus a 0-5 shortcut to 5-3: dist(3) = min(3, 2+1)
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (0, 5), (5, 3)])
    got = {r.id: r.dist for r in bfs_distances(e, 0, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 5: 1, 2: 2, 3: 2, 4: 3}


def test_undirected_by_default(spark):
    # edge points 1 -> 0 only; undirected BFS from 0 still reaches 1
    e = _edges(spark, [(1, 0)])
    got = {r.id: r.dist for r in bfs_distances(e, 0).collect()}
    assert got == {0: 0, 1: 1}


def test_directed_respects_orientation(spark):
    e = _edges(spark, [(1, 0), (0, 2)])
    got = {r.id: r.dist for r in bfs_distances(e, 0, directed=True).collect()}
    assert got == {0: 0, 2: 1}  # 1 unreachable along direction


def test_unreachable_and_early_stop(spark):
    # two components; BFS must early-stop after exhausting component 0
    e = _edges(spark, [(0, 1), (10, 11)])
    out = bfs_distances(e, 0, max_hops=50)
    got = {r.id: r.dist for r in out.collect()}
    assert got == {0: 0, 1: 1}


def test_max_hops_truncates(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    got = {r.id: r.dist for r in bfs_distances(e, 0, max_hops=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


def test_cycle_terminates_with_min_distance(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 0)])
    got = {r.id: r.dist for r in bfs_distances(e, 0, max_hops=10).collect()}
    assert got == {0: 0, 1: 1, 2: 1}


def test_matches_networkx_free_reference(spark):
    """Random sparse graph vs a dict-based pure-python BFS."""
    import random

    rnd = random.Random(7)
    pairs = [(rnd.randrange(40), rnd.randrange(40)) for _ in range(80)]
    e = _edges(spark, pairs)
    got = {r.id: r.dist for r in bfs_distances(e, 0, max_hops=40).collect()}

    adj: dict[int, set[int]] = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want, frontier, d = {0: 0}, {0}, 0
    while frontier:
        d += 1
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in want
        }
        for v in frontier:
            want[v] = d
    assert got == want


def test_registry_histogram_is_connected_smallworld(spark):
    """The supplier↔order graph at smoke scale: supplier 0 reaches a
    large fraction of the graph within the 6-hop cap, and level sizes
    are positive through the reached depth."""
    from geoestate_etl_spark.plans.queries_ext import q_graph_bfs

    hist = {
        r.dist: r.n_nodes
        for r in q_graph_bfs(spark, "/root/testdata/sf0.001").collect()
    }
    assert hist[0] == 1
    assert all(n > 0 for n in hist.values())
    assert len(hist) >= 3  # at least source, its orders, co-suppliers


def test_failing_level_releases_edge_cache(spark, monkeypatch):
    """A fault after the edge cache is built (here: the first
    checkpoint of the level loop) propagates and leaves no persisted
    RDD behind."""

    def boom(self, eager=True):
        raise RuntimeError("injected level fault")

    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    monkeypatch.setattr(type(e), "localCheckpoint", boom)
    # let Spark's context cleaner drop the RDDs of earlier tests'
    # collected frames first, so only this call changes the set
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="injected"):
        bfs_distances(e, 0)
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) == before
