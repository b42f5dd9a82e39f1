"""Graph path primitives: BFS hop-distance labeling (single-source
shortest paths on unweighted graphs) — the frontier-expansion family
next to the fixpoint families in ``operators/components`` (label
propagation, star contraction) and ``operators/pagerank``.

Spark shape (Pregel-style, the 100 TB story):

- one shuffle per LEVEL, not per edge: the frontier equi-joins the
  edge relation on the node id, new nodes are anti-joined against the
  visited set, and both shuffles key on the same id — at scale the
  edge relation is bucketed/pre-partitioned by ``src`` once and every
  level reuses that partitioning;
- per-level ``localCheckpoint`` truncates the iterative lineage
  (the components/pagerank discipline) and the loop EARLY-STOPS on an
  empty frontier, so cost is O(diameter) levels — BFS on small-world
  graphs converges in a handful of levels regardless of node count;
- the visited set carries ``(id, dist)`` only — node-count-bounded,
  never edge-bounded.

Correctness shape: level-synchronous BFS assigns each node the MINIMUM
hop count by construction (a node enters exactly when first reached).
The registry oracle rebuilds the same labeling declaratively with a
DuckDB recursive CTE + ``min(d)`` — an independent formulation of the
same fixpoint.

Reference parity: the reference has no graph surface (dags/main.py is
numeric/geo ETL); engine-declared extension (SURVEY §2 'beyond').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def symmetrized_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    directed: bool,
    extra_cols: tuple[str, ...] = (),
    dedup: bool = True,
) -> DataFrame:
    """Canonical edge prep shared by the path/walk family: cast ids to
    long, mirror when undirected, dedup. One home for the contract
    (r4 review: three copies had drifted into being).

    ``dedup=False`` (r10) skips the trailing ``distinct()`` for
    callers that fold the dedup into their own keyed exchange (the BFS
    and SSSP loops repartition by ``u`` anyway, and HashPartitioning
    on ``u`` already co-locates every (u, v) duplicate, so their
    dropDuplicates needs no second shuffle)."""
    cols = [
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ] + [F.col(c) for c in extra_cols]
    e = edges.select(*cols)
    if not directed:
        e = e.union(
            e.select(
                F.col("v").alias("u"), F.col("u").alias("v"), *extra_cols
            )
        )
    return e.distinct() if dedup else e


def bfs_distances(
    edges: DataFrame,
    source: int,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """``(id, dist)`` for every node within ``max_hops`` of ``source``
    (hop-count shortest distance; the source labels itself 0).

    ``directed=False`` (default) symmetrizes the edge relation first.
    ``max_hops`` bounds the level loop — on a connected small-world
    graph the loop usually early-stops well before the bound.
    """
    spark = edges.sparkSession
    # Persist the derived edge relation: every level joins it, and
    # without the cache each level re-runs the symmetrize shuffle over
    # the full edge set — measured 11.2s → ~4.4s at sf0.1 (r4 bench).
    # Unpersisted before return (r4 review): the returned frame is
    # checkpoint-truncated, so releasing the cache is safe.
    # Loop-invariant edge layout (guide §2.4, r10): ONE exchange keyed
    # on the join key builds the relation every level reuses —
    # HashPartitioning(u) co-locates all (u, v) duplicates, so the
    # dedup's hash aggregate and the within-partition sort both ride
    # that exchange (the old shape paid a (u, v)-keyed distinct
    # exchange AND re-exchanged/re-sorted the full edge set inside
    # every level's sort-merge join at scale; the cached partitioning +
    # ordering now satisfy the join's requirements directly). The
    # count materializes the cache (the first level's join needed that
    # work anyway) and sizes the level loop's checkpoint shuffles (the
    # connected_components discipline — localCheckpoint bypasses AQE,
    # so each level otherwise pays the session's full shuffle-partition
    # fan-out in empty-task scheduling; at scale the clamp is a no-op).
    from geoestate_etl_spark.operators.components import (
        _iteration_shuffle_window,
    )
    from geoestate_etl_spark.stage import observed

    e = (
        symmetrized_edges(edges, src_col, dst_col, directed, dedup=False)
        .repartition(F.col("u"))
        .dropDuplicates()
        .sortWithinPartitions("u")
        .persist()
    )
    # released in ``finally``: the returned frame is checkpoint-
    # truncated, and a failing level leaves no cache registered
    try:
        n_edges = e.count()

        visited = spark.createDataFrame(
            [(int(source), 0)],
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("dist", T.IntegerType()),
                ]
            ),
        ).localCheckpoint(eager=True)
        frontier = visited.select("id")
        with _iteration_shuffle_window(spark, n_edges):
            for d in range(1, max_hops + 1):
                # the empty-frontier check rides the eager checkpoint's
                # materialization via the Observation API — no separate
                # isEmpty job per level (the connected_components
                # convergence-check discipline)
                nxt, read_new = observed(
                    frontier.join(e, frontier["id"] == e["u"])
                    .select(F.col("v").alias("id"))
                    .distinct()
                    .join(visited, "id", "left_anti")
                    .withColumn("dist", F.lit(d).cast("int")),
                    F.count(F.lit(1)).alias("n"),
                )
                nxt = nxt.localCheckpoint(eager=True)
                n_new = int(read_new()["n"] or 0)
                if n_new == 0:
                    break
                # visited is a union of per-level CHECKPOINTED frames — the
                # lineage stays O(levels) shallow without re-materializing
                # the cumulative set every round
                visited = visited.union(nxt)
                frontier = nxt.select("id")
        return visited
    finally:
        e.unpersist()


def sssp_distances(
    edges: DataFrame,
    source: int,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    directed: bool = False,
) -> DataFrame:
    """``(id, cost)`` minimum-cost distances over ≤ ``max_hops`` edges
    (hop-bounded Bellman–Ford) — the weighted sibling of
    :func:`bfs_distances`.

    Weights are INTEGER (micro-unit doctrine, docs/ORACLE_NOTES.md):
    min() over exact integer path costs is associative and
    order-independent, so the fixpoint is bit-deterministic under any
    partitioning — the property a float-weighted relax loop lacks.

    Per round: relax every edge out of the CURRENT distance set (one
    keyed join), fold candidates into the set with a node-keyed
    ``min`` aggregate (node-bounded, never path-bounded — the reason
    Bellman-Ford maps to data-parallel frameworks while Dijkstra's
    priority queue does not), early-stop when no cost improved.
    Negative edges are tolerated up to the hop bound (no negative-
    cycle divergence: the bound caps path length).
    """
    # same keyed one-exchange edge layout as bfs_distances (r10):
    # repartition by the join key, dedup and sort riding that exchange
    e = (
        symmetrized_edges(
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            ),
            "src",
            "dst",
            directed,
            extra_cols=("w",),
            dedup=False,
        )
        .repartition(F.col("u"))
        .dropDuplicates()
        .sortWithinPartitions("u")
        .persist()
    )

    spark = edges.sparkSession
    # same iteration discipline as bfs_distances (r10): materialize the
    # edge cache, size the relax loop's checkpoint shuffles from the
    # measured edge count (no-op at scale), and let the convergence
    # check ride the eager checkpoint via Observation instead of a
    # dedicated isEmpty join job per round.
    from geoestate_etl_spark.operators.components import (
        _iteration_shuffle_window,
    )
    from geoestate_etl_spark.stage import observed

    # released in ``finally``, as in bfs_distances: the returned frame
    # is checkpoint-truncated, and a failing round leaves no cache
    # registered
    try:
        n_edges = e.count()
        dist = spark.createDataFrame(
            [(int(source), 0)],
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("cost", T.LongType()),
                ]
            ),
        ).localCheckpoint(eager=True)
        with _iteration_shuffle_window(spark, n_edges):
            for _ in range(max_hops):
                relaxed = (
                    dist.join(e, dist["id"] == e["u"])
                    .select(F.col("v").alias("id"), (F.col("cost") + F.col("w")).alias("cost"))
                )
                # convergence = no node improved and none appeared: the
                # old cost rides the aggregate (min over cost carries the
                # pair (cost, old) per node), observed during the
                # checkpoint's materialization
                new_dist, read_improved = observed(
                    dist.withColumnRenamed("cost", "old")
                    .withColumn("cost", F.col("old"))
                    .unionByName(relaxed.withColumn("old", F.lit(None).cast("long")))
                    .groupBy("id")
                    .agg(
                        F.min("cost").alias("cost"),
                        F.min("old").alias("_old"),
                    ),
                    F.sum(
                        (
                            F.col("_old").isNull()
                            | (F.col("cost") < F.col("_old"))
                        ).cast("long")
                    ).alias("improved"),
                )
                dist = new_dist.drop("_old").localCheckpoint(eager=True)
                if int(read_improved()["improved"] or 0) == 0:
                    break
        return dist
    finally:
        e.unpersist()
