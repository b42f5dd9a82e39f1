"""PageRank semantics vs a dense numpy power-iteration reference on
known graphs (cycle, star, dangling node)."""

from __future__ import annotations

import numpy as np
import pytest

from geoestate_etl_spark.operators.pagerank import pagerank


def reference_pagerank(n, edge_list, iters=10, d=0.85):
    out_deg = np.zeros(n)
    for s, _ in edge_list:
        out_deg[s] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, t in edge_list:
            contrib[t] += pr[s] / out_deg[s]
        dangling = pr[out_deg == 0].sum()
        pr = (1 - d) / n + d * dangling / n + d * contrib
    return pr


def run(spark, edge_list, n, iters=10):
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {r.id: r.pr for r in pagerank(df, iters=iters).collect()}
    ref = reference_pagerank(n, edge_list, iters=iters)
    return got, ref


def test_two_cycle_symmetric(spark):
    got, ref = run(spark, [(0, 1), (1, 0)], 2)
    assert got[0] == pytest.approx(0.5, abs=1e-12)
    assert got[1] == pytest.approx(0.5, abs=1e-12)


def test_star_graph(spark):
    # all leaves point at the hub; hub points back to leaf 1.
    # 40 iterations: enough for the hub<->leaf1 oscillation to damp out
    # (at even low counts the mass sits on whichever side was updated last)
    edges = [(1, 0), (2, 0), (3, 0), (4, 0), (0, 1)]
    got, ref = run(spark, edges, 5, iters=40)
    for i in range(5):
        assert got[i] == pytest.approx(ref[i], abs=1e-9)
    assert got[0] == max(got.values())  # the hub dominates at convergence
    # analytic fixed point: pr0 = 0.1065 + 0.85*pr1, pr1 = 0.03 + 0.85*pr0
    assert got[0] == pytest.approx(0.132 / (1 - 0.7225), abs=1e-3)


def test_dangling_node_mass_conserved(spark):
    # node 2 has no out-edges: its mass must be redistributed
    edges = [(0, 1), (1, 2)]
    got, ref = run(spark, edges, 3)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for i in range(3):
        assert got[i] == pytest.approx(ref[i], abs=1e-9)


# ---- personalized (topic-sensitive) PageRank ---------------------------


def reference_ppr(n, edge_list, seeds, iters=10, d=0.85):
    out_deg = np.zeros(n)
    for s, _ in edge_list:
        out_deg[s] += 1
    p = np.zeros(n)
    for s in seeds:
        p[s] = 1.0 / len(seeds)
    pr = p.copy()
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, t in edge_list:
            contrib[t] += pr[s] / out_deg[s]
        dangling = pr[out_deg == 0].sum()
        pr = (1 - d) * p + d * dangling * p + d * contrib
    return pr


def test_personalized_matches_reference(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 3)]
    n = 5
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.pr for r in pagerank(df, iters=12, seeds=[0]).collect()}
    ref = reference_ppr(n, edges, [0], iters=12)
    for i in range(n):
        assert abs(got[i] - ref[i]) < 1e-12, (i, got[i], ref[i])
    # mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_favors_seed_neighborhood(spark):
    # chain 0-1-2-3-4-5 directed both ways; seed at 0 → rank decays
    # with distance once past the boundary bounce (node 0 forwards ALL
    # its mass to node 1, so node 1 legitimately outranks the seed —
    # the numpy reference agrees; decay holds from node 1 outward)
    edges = []
    for i in range(5):
        edges += [(i, i + 1), (i + 1, i)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.pr for r in pagerank(df, iters=20, seeds=[0]).collect()}
    assert got[1] > got[2] > got[3] > got[4] > got[5]
    assert got[0] > got[2]  # the seed still beats everything past 1


def test_personalized_multi_seed_and_uniform_default(spark):
    edges = [(0, 1), (1, 0), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    # seeds covering only one component: the other gets ~zero mass
    got = {r.id: r.pr for r in pagerank(df, iters=15, seeds=[0, 1]).collect()}
    assert got[2] < 1e-12 and got[3] < 1e-12
    assert abs(got[0] + got[1] - 1.0) < 1e-9
    # seeds=None still the classic result
    un = {r.id: r.pr for r in pagerank(df, iters=15).collect()}
    ref = reference_pagerank(4, edges, iters=15)
    for i in range(4):
        assert abs(un[i] - ref[i]) < 1e-12


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs())


def test_bad_seeds_raise_and_leave_no_cache(spark):
    """An empty seed set is rejected before anything is persisted, and
    a seed missing from the graph (raised after the node cache is
    built) still releases every cache."""
    df = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    before = _persistent_rdds(spark)
    with pytest.raises(ValueError, match="non-empty"):
        pagerank(df, seeds=[])
    assert _persistent_rdds(spark) == before
    with pytest.raises(ValueError, match="not in graph"):
        pagerank(df, seeds=[7])
    assert _persistent_rdds(spark) == before
