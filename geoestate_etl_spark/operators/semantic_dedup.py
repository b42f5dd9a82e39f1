"""Semantic (embedding-space) deduplication — SemDeDup-style.

Method (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster
the corpus embeddings with k-means, then examine pairs ONLY within a
cluster — two documents whose embeddings land in different clusters
are assumed not to be semantic duplicates (the paper's documented
approximation). Inside a cluster, an item is a duplicate when its
cosine similarity to an EARLIER item (in a fixed deterministic order)
meets the threshold; earlier items win. The published implementation
orders by distance-to-centroid — here the order is ascending id, which
keeps the rule deterministic, join-expressible, and SQL-oracle-able
without changing the structure of the algorithm.

100 TB shape:

- Clustering reuses the IVF coarse quantizer
  (:func:`operators.similarity.ivf_build` — deterministic Lloyd,
  Arrow-batched numpy assignment). The assigned table is tiny per row
  (id + cell) and is materialized once per corpus snapshot, exactly
  like the IVF serving index.
- The pair scan is an equi-self-join on ``cell``: cost is
  Σ_c n_c², bounded by choosing n_cells ∝ N so occupancy stays
  constant — never a crossJoin. A ``max_cluster_size`` cap skips
  degenerate clusters (zero vectors, templated embeddings) the same
  way the text-LSH paths cap hot buckets, with the skipped clusters
  available for audit.
- The keep/drop decision is one distinct + one left-anti join on id —
  no window over the corpus, no driver-side state.

The reference has no embedding surface (dags/main.py is a tabular
CSV→ClickHouse DAG); this operator is part of the added
training-data-pipeline tier (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.vectors import to_double_array

__all__ = [
    "cluster_embeddings",
    "semantic_pairs",
    "semantic_dedup",
]


def cluster_embeddings(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means cluster assignment ``(id, cell)``.

    Thin wrapper over the IVF coarse quantizer: same centroids a probe
    index would use, so a corpus that already maintains an IVF index
    gets semantic dedup clustering for free (one shared artifact).
    """
    from geoestate_etl_spark.operators.similarity import ivf_build

    assigned, _ = ivf_build(embeddings, n_cells, iters, id_col, vec_col)
    return assigned.select(id_col, "cell")


def _capped(clustered: DataFrame, max_cluster_size: int | None) -> DataFrame:
    if max_cluster_size is None:
        return clustered
    from geoestate_etl_spark.operators.dedup import cap_hot_buckets

    return cap_hot_buckets(clustered, ["cell"], max_cluster_size)


def _dot_pre(x: Column, y: Column) -> Column:
    """Dot of two ALREADY-double arrays — left-to-right fold, same
    arithmetic order as ``vectors.dot`` (bit-identical results)."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def semantic_pairs(
    clustered: DataFrame,
    cosine_threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
    max_cluster_size: int | None = 4096,
) -> DataFrame:
    """Within-cluster duplicate pairs ``(id_a, id_b, cell, cos_e{scale})``.

    ``clustered`` must carry ``cell`` (see :func:`cluster_embeddings`)
    plus the id and vector columns. ``id_a < id_b`` always; the score
    is the exact cosine, rounded to ``scale`` decimals and emitted as
    a scaled BIGINT (``cos * 10^scale``) so downstream hashes never
    touch a float (docs/ORACLE_NOTES.md float discipline).

    Higher-order-function folds are interpreted, not codegen'd, so
    per-PAIR vector math is the cost center of the whole operator.
    The double-cast array and the norm are therefore computed once
    per ROW before the self-join (N rows), leaving exactly one fold —
    the cross dot — per PAIR; the arithmetic (cast → self-dot → sqrt
    → dot/(na·nb)) keeps vectors.cosine's op order bit-for-bit, so
    oracle parity at ``scale`` decimals is unchanged.
    """
    b = _capped(clustered, max_cluster_size).withColumn(
        "_v", to_double_array(vec_col)
    )
    b = b.withColumn("_n", F.sqrt(_dot_pre(F.col("_v"), F.col("_v"))))
    left, right = b.alias("l"), b.alias("r")
    denom = F.col("l._n") * F.col("r._n")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        _dot_pre(F.col("l._v"), F.col("r._v")) / denom
    )
    cos_i = F.round(cos * (10**scale)).cast("bigint")
    return (
        left.join(
            right,
            (F.col("l.cell") == F.col("r.cell"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.cell").cast("bigint").alias("cell"),
            cos_i.alias(f"cos_e{scale}"),
        )
        .filter(
            F.col(f"cos_e{scale}")
            >= int(round(cosine_threshold * (10**scale)))
        )
    )


def semantic_dedup(
    clustered: DataFrame,
    cosine_threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 4,
    max_cluster_size: int | None = 4096,
    pairs: DataFrame | None = None,
    order: str = "id",
    centroids: list[list[float]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(pairs, decisions)``.

    ``decisions`` has one row per input item: ``(id, cell, kept)``.
    ``kept`` is false exactly when the item has a within-cluster
    earlier (smaller-id) neighbor at/above the threshold — the
    published SemDeDup rule with id as the fixed order, so an item can
    be dropped because of a neighbor that was itself dropped (a~b,
    b~c, a≁c drops BOTH b and c; dedup is against the ordering, not
    against the surviving set).

    Pass a precomputed (possibly persisted) ``pairs`` frame when the
    caller also consumes the pair relation — the pair scan is the
    operator's cost center and Spark would otherwise run it once per
    consumer.

    ``order`` picks the fixed ordering the greedy rule runs against:
    ``"id"`` (default — join-stable, SQL-oracle-able) or
    ``"centroid_distance"`` — the published implementation's order
    (Abbas et al. §3: keep the item CLOSEST to the cluster centroid;
    the intuition is the most central member best represents the
    cluster). The centroid order needs ``centroids`` (the same list
    ``ivf_build`` returned) and ties fall back to id, so it stays
    deterministic.
    """
    if pairs is None:
        pairs = semantic_pairs(
            clustered, cosine_threshold, id_col, vec_col, scale, max_cluster_size
        )
    if order == "id":
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    elif order == "centroid_distance":
        if centroids is None:
            raise ValueError(
                "order='centroid_distance' needs the centroids list "
                "(as returned by ivf_build / ivf_read_index)"
            )
        # rank key per item: (squared distance to own cell's centroid,
        # id). Squared distance via the hoisted-array dot pattern; the
        # centroid rides in as a per-cell literal array lookup.
        cent_arr = F.element_at(
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in c])
                    for c in centroids
                ]
            ),
            F.col("cell").cast("int") + 1,
        )
        diff = F.zip_with(
            to_double_array(vec_col), cent_arr, lambda a, b: a - b
        )
        d2 = F.aggregate(
            F.zip_with(diff, diff, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ranks = clustered.select(
            F.col(id_col).alias("_rid"), d2.alias("_d2")
        )
        ra = ranks.select(
            F.col("_rid").alias("id_a"), F.col("_d2").alias("_da")
        )
        rb = ranks.select(
            F.col("_rid").alias("id_b"), F.col("_d2").alias("_db")
        )
        with_rank = pairs.join(ra, "id_a").join(rb, "id_b")
        # the pair's LATER item in (d2, id) order is the drop
        later_a = (F.col("_da") > F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (F.col("id_a") > F.col("id_b"))
        )
        dropped = with_rank.select(
            F.when(later_a, F.col("id_a")).otherwise(F.col("id_b")).alias(id_col)
        ).distinct()
    else:
        raise ValueError(f"order must be 'id' or 'centroid_distance', got {order!r}")
    decisions = (
        clustered.join(
            dropped.withColumn("_dropped", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            F.col("cell").cast("bigint").alias("cell"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )
    return pairs, decisions
