"""PageRank: the second iterative-algorithm surface (with
components.py), for ranking within document/link graphs — e.g.
prioritizing canonical documents inside near-duplicate clusters.

Per iteration: one join (edges ⋈ ranks) + one aggregation (contribs
per dst) + a 1-row dangling-mass aggregate broadcast back into the
rank update — all keyed shuffles, ZERO driver round-trips inside the
loop. ``localCheckpoint`` truncates lineage per iteration (same
discipline as connected_components) and, being eager, is the
iteration's single job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seeds: list[int] | None = None,
) -> DataFrame:
    """Ranks over a directed graph given as (src, dst) edge rows.

    Returns (id, pr) for every node appearing as a source or target.
    Dangling-node mass is redistributed each iteration, so ranks sum
    to 1 (within FP) at every step.

    ``seeds`` (r4): PERSONALIZED PageRank — teleport and dangling mass
    land uniformly on the seed set instead of all nodes (Haveliwala
    2002 topic-sensitive formulation; the similarity-to-seed measure
    used for seed-expansion curation: "find pages like these"). With
    ``seeds=None`` the classic uniform behavior is unchanged. The
    teleport vector rides as a literal ``isin`` Column — seed sets are
    query parameters, bounded, never a join."""
    if seeds is not None and not seeds:
        raise ValueError("seeds must be non-empty when given")
    # persist the raw edges: the node derivation and the keyed relayout
    # below both scan them, so the source scan runs once
    edges = edges.persist()
    nodes = edges_keyed = out_deg = None
    # every cache is released in ``finally``: the returned ranks are
    # checkpoint-truncated, and an error (e.g. a seed missing from the
    # graph) leaves nothing registered
    try:
        nodes = (
            edges.select(F.col(src).alias("id"))
            .union(edges.select(F.col(dst).alias("id")))
            .distinct()
            .persist()
        )
        n = nodes.count()
        if n == 0:  # empty graph (e.g. a pair-finder found nothing)
            return edges.sparkSession.createDataFrame([], "id long, pr double")
        if seeds is not None:
            # dedupe, and REQUIRE every seed to exist in the graph: an
            # absent seed silently drains teleport mass (all-zero ranks
            # when no seed is present; sum < 1 otherwise) — breaking the
            # mass-conservation contract with no error (r4 review)
            uniq = sorted({int(s) for s in seeds})
            present = {
                r.id for r in nodes.filter(F.col("id").isin(uniq)).collect()
            }
            missing = [s for s in uniq if s not in present]
            if missing:
                raise ValueError(f"seeds not in graph: {missing}")
            p = F.when(
                F.col("id").isin(uniq), F.lit(1.0 / len(uniq))
            ).otherwise(F.lit(0.0))
        else:
            p = F.lit(1.0 / n)

        ranks = nodes.withColumn("pr", p).localCheckpoint()

        # loop-invariant edge layout (guide §2.4): hash-partition +
        # sort the cached edge relation by the join key ONCE, so every
        # iteration's contrib join reuses the cached partitioning and
        # ordering instead of re-exchanging (and re-sorting) the full
        # edge set per round — at scale that is `iters` fewer full
        # edge shuffles. The one build-time exchange reads the
        # already-materialized cache.
        edges_keyed = (
            edges.repartition(F.col(src))
            .sortWithinPartitions(src)
            .persist()
        )
        # loop-invariant out-degree table, derived from the keyed cache
        # so its groupBy reuses the partitioning (no exchange); feeds
        # the contrib join and the dangling anti-join every iteration
        out_deg = (
            edges_keyed.groupBy(src).agg(F.count("*").alias("deg")).persist()
        )
        for _ in range(iters):
            contribs = (
                edges_keyed.join(ranks.withColumnRenamed("id", src), src)
                .join(out_deg, src)
                .select(F.col(dst).alias("id"), (F.col("pr") / F.col("deg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            # mass of nodes with no outgoing edges, redistributed
            # uniformly. Stays IN-PLAN as a 1-row aggregate broadcast
            # into the rank update — a driver-side collect here would
            # add a full extra Spark job + driver sync per iteration
            # (round-1 verdict #4); this way the eager localCheckpoint
            # below is the iteration's single job.
            dangling = ranks.join(
                out_deg.withColumnRenamed(src, "id"), "id", "left_anti"
            ).agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dm"))
            ranks = (
                nodes.join(contribs, "id", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "id",
                    (
                        # uniform path keeps the EXACT historical float
                        # expression — the driver oracle unrolls the same
                        # arithmetic, and (1-d)/n vs (1-d)·(1/n) differ in
                        # the last ulp (ORACLE_NOTES half-decimal trap)
                        (
                            F.lit((1.0 - damping) / n)
                            + F.lit(damping) * F.col("dm") / F.lit(float(n))
                            + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                        )
                        if seeds is None
                        else (
                            F.lit(1.0 - damping) * p
                            + F.lit(damping) * F.col("dm") * p
                            + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                        )
                    ).alias("pr"),
                )
                .localCheckpoint()
            )
        return ranks
    finally:
        for df in (edges, edges_keyed, out_deg, nodes):
            if df is not None:
                df.unpersist()
