"""Connected components over near-duplicate pairs: dedup *clustering*.

Pair-finding (MinHash/SimHash/embedding LSH) yields edges; the
real-world dedup step is grouping transitive duplicates into clusters
and electing one canonical keeper per cluster. This is the engine's
iterative-algorithm surface (genuinely not single-query SQL): the
alternating small-star/large-star style label propagation —
every node repeatedly adopts the minimum label in its neighborhood
until a fixed point.

Scale shape per iteration: one groupBy (min label per node) + two
joins (propagate along edges, then pointer-jump) — all shuffles on
node id. The pointer-jump makes convergence O(log diameter), so the
default 20 iterations cover components with diameters up to ~2^20 —
plain one-hop propagation would need O(diameter) rounds and silently
under-merge long chains. ``localCheckpoint`` truncates the growing
lineage each iteration, which keeps deep iterative plans compilable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int | None = 100_000,
) -> DataFrame:
    """Resolve (id_a, id_b) edges into (id, component) where component
    is the minimum id reachable from ``id`` — deterministic labels.

    Returns ONLY nodes that appear in at least one pair (singletons
    are trivially their own component; callers union them in if
    needed).

    ``driver_max_edges`` (r9): an edge set at or below this bound is
    solved with driver-side union-find instead of the iterative
    distributed loop. Its deduped edges are ≤ ~1.6 MB of longs, far
    below AQE's advisory partition size, so every distributed round
    would coalesce to a single task anyway and the loop's per-round
    scheduling (one localCheckpoint job per round, O(log diameter)
    rounds) is pure overhead — the same driver-bounded-metadata
    class as the k-means centroids and range boundaries. Labels are the identical unique fixed point (min
    reachable id), pinned by ``tests/test_components.py`` parity.
    ``None`` forces the distributed loop.
    """
    # symmetrize in ONE pass over the pair plan: explode each pair into
    # both directions instead of `pairs UNION pairs-reversed`, which
    # executes the (often expensive, e.g. full MinHash-LSH) pair plan
    # TWICE on first materialization — measured as the dominant fixed
    # cost of corpus_pipeline's CC stage at sf0.1 (r8)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(left_col).alias("src"),
                        F.col(right_col).alias("dst"),
                    ),
                    F.struct(
                        F.col(right_col).alias("src"),
                        F.col(left_col).alias("dst"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .persist()
    )

    # Materialize the (possibly expensive) pair plan into the cache
    # now; the measured edge count picks the driver tier below.
    n_edges = edges.count()
    if driver_max_edges is not None and n_edges <= driver_max_edges:
        out = _cc_driver(pairs.sparkSession, edges)
        if out is not None:  # None = NULL/NaN ids seen; use the loop
            edges.unpersist()
            return out
    # Truncate the edge lineage AFTER the cache is materialized: the
    # checkpoint scans cached partitions (cheap: the expensive
    # upstream already executed via the count above), and the
    # iteration plans stop embedding the whole upstream logical tree —
    # Catalyst re-analyzed the full MinHash-LSH lineage once per round
    # otherwise, the other measured fixed cost of corpus_pipeline's CC
    # stage (r8).
    cached = edges
    edges = cached.localCheckpoint(eager=True)
    cached.unpersist()

    # start: every node labeled with the min of itself and its
    # neighbors. NOT checkpointed — it is one hash-agg over the cached
    # edges, so iteration 0's checkpoint materializes it along with its
    # own work (one fewer action/barrier per call)
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("component"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "component").alias("component"),
        )
    )

    return _cc_iterate(edges, labels, max_iter)


def _cc_driver(spark, edges: DataFrame) -> "DataFrame | None":
    """Union-find over a driver-collected (small, deduped, symmetric)
    edge set — same (id, component=min reachable id) contract as the
    distributed loop. Union-by-min keeps every set's root at its
    minimum member; path halving keeps finds near-constant at this
    size. Returns None when a NULL or NaN id is present (Python cannot
    order None against values, and NaN compares false to everything
    and is unequal to itself, so it would break the min-root
    invariant; the caller falls back to the distributed loop, whose
    null-key groupBy and NaN ordering semantics are the contract)."""
    from pyspark.sql import types as T

    id_type = edges.schema["src"].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    try:
        for a, b in edges.collect():
            # ``x != x`` is true only for a NaN
            if a is None or b is None or a != a or b != b:
                return None
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # min id stays the root
    except TypeError:
        # ids Python can't hash or order (BinaryType collects as
        # bytearray → unhashable) — fall back to the distributed loop,
        # mirroring the NULL/NaN-id fallback (r9 ADVICE)
        return None

    rows = [(x, find(x)) for x in parent]
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("component", id_type),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _cc_iterate(edges: DataFrame, labels: DataFrame, max_iter: int) -> DataFrame:
    from geoestate_etl_spark.stage import observed

    for _ in range(max_iter):
        # propagate: each node adopts min(own label, neighbors' labels)
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("n_comp"))
            .withColumnRenamed("src", "id")
        )
        propagated = labels.join(neighbor_labels, "id", "left").select(
            "id",
            F.col("component").alias("_old"),
            F.least("component", F.coalesce("n_comp", "component")).alias(
                "component"
            ),
        )
        # pointer-jump (path halving): also adopt the label OF my label.
        # Neighbor propagation alone moves labels one hop per round
        # (O(diameter) rounds — a long chain would not converge within
        # max_iter); combined with jumping, convergence is O(log n).
        parents = propagated.select(
            F.col("id").alias("component"), F.col("component").alias("parent")
        )
        # convergence check rides the checkpoint's materialization via
        # the Observation API — no separate join+count job per round
        jumped, read_changed = observed(
            propagated.join(parents, "component", "left").select(
                "id",
                "_old",
                F.least(
                    "component", F.coalesce("parent", "component")
                ).alias("component"),
            ),
            F.sum(
                (F.col("component") != F.col("_old")).cast("long")
            ).alias("changed"),
        )
        labels = jumped.drop("_old").localCheckpoint()
        changed = int(read_changed()["changed"] or 0)
        if changed == 0:
            break
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the
    minimum of its neighborhood (Kiveris et al., MR-CC). One symmetric
    groupBy + one equi-join, all shuffled on node id."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct each edge large→small, then connect all smaller neighbors
    (and the center) to the neighborhood minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    spokes = (
        directed.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return spokes.union(centers).distinct()


def connected_components_star(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Alternating large-star/small-star contraction — same (id,
    component=min reachable id) contract as :func:`connected_components`,
    different scale profile.

    Label propagation carries a (node, label) row per node every round
    regardless of progress; star contraction rewrites the EDGE set,
    which shrinks geometrically as components collapse into stars, so
    per-round shuffle volume decays. On skewed pair graphs (one huge
    near-dup cluster plus many small ones — the common corpus shape)
    that makes later rounds nearly free, and high-degree hubs flatten
    in O(1) rounds instead of feeding the same wide neighborhood back
    through every iteration. Convergence is O(log² n) worst case,
    ~log n in practice (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm).

    Prefer this for very large / skewed pair graphs; the label-prop
    variant keeps singleton bookkeeping simpler for modest inputs.
    """
    # One materialization of the (possibly expensive) pair plan: the
    # node set and the edge set both derive from the checkpointed raw
    # frame instead of each re-executing the pair lineage (same
    # double-compute fix as connected_components' symmetrize, r8)
    raw = pairs.select(
        F.col(left_col).alias("u"), F.col(right_col).alias("v")
    ).localCheckpoint()
    # node set from the RAW pairs: a self-loop-only node is its own
    # (singleton) component and must still get a label
    all_nodes = (
        raw.select(F.explode(F.array("u", "v")).alias("id"))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()
    )
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        # converged when the (distinct) edge set is unchanged:
        # equal cardinality + empty one-sided difference
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        ):
            edges = new_edges
            break
        edges = new_edges
    # fixed point is a forest of stars (u → component root); roots
    # appear only on the right, so union them back as self-labeled
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = all_nodes.join(
        labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    return labels.union(roots)


def dedup_clusters(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    scores: DataFrame | None = None,
) -> DataFrame:
    """Cluster summary from near-dup pairs: one row per component with
    the canonical keeper and member count.

    Default keeper = component min id (cheap, deterministic). With
    ``scores`` — a (id, score) frame, e.g. ``quality_score`` over the
    documents — the keeper is the member with the highest score
    (production near-dup pipelines keep the *best* copy, not the
    first); ties and unscored members fall back toward min id via
    ``max_by`` on a (score, -id) ordering, so the choice stays
    deterministic. One extra equi-join on id, still no row_number
    window over the corpus.
    """
    cc = connected_components(pairs, left_col, right_col)
    if scores is None:
        return cc.groupBy("component").agg(
            F.min("id").alias("keeper_id"), F.count("*").alias("cluster_size")
        )
    scored = cc.join(scores, "id", "left").withColumn(
        "_rank", F.struct(F.coalesce("score", F.lit(float("-inf"))), -F.col("id"))
    )
    return scored.groupBy("component").agg(
        F.max_by("id", "_rank").alias("keeper_id"),
        F.count("*").alias("cluster_size"),
    )
