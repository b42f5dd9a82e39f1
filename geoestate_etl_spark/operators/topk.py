"""Sort / limit / top-k operators (reference T1-T3, SURVEY §2.6).

``orderBy(...).limit(k)`` compiles to Catalyst's
``TakeOrderedAndProject`` — a per-partition bounded heap + driver
merge of k·num_partitions rows, NOT a full sort. That is the only
top-k shape that survives 100 TB, and it is what both reference paths
(Spark ``:322-331`` and the ClickHouse SQL ``:489-495``) mean.

Tiebreakers: the driver's oracle hash is order-insensitive but the
*membership* of a top-k set isn't stable under ties, so every declared
top-k query threads a unique tiebreaker column through the sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k_by_count(
    df: DataFrame, keys: list[str], k: int, count_alias: str = "cnt"
) -> DataFrame:
    """T1: top-k groups by descending count (dags/main.py:319-331).

    Group keys serve as the tiebreaker so the k-set is deterministic.
    """
    counted = df.groupBy(*keys).agg(F.count("*").alias(count_alias))
    order = [F.desc(count_alias)] + [F.asc(key) for key in keys]
    return counted.orderBy(*order).limit(k)


def filtered_top_k(
    df: DataFrame,
    predicate: Column,
    order: list[Column],
    k: int,
    projection: list[str] | None = None,
) -> DataFrame:
    """T3: the reference's signature serving query
    (``WHERE square > 60 ORDER BY square DESC LIMIT 25``,
    dags/main.py:489-495) as filter→top-k; the filter is pushed to the
    parquet scan by Catalyst.
    """
    out = df.filter(predicate)
    if projection:
        out = out.select(*projection)
    return out.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, part_keys: list[str], order: list[Column], k: int
) -> DataFrame:
    """Top-k within each group (window + rank filter).

    Not in the reference but the canonical OLAP sibling of T1; shuffles
    once on the partition keys, then a per-partition bounded sort.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*part_keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def top_k_per_group_partial(
    df: DataFrame,
    part_keys: list[str],
    score_col: str,
    tiebreak_col: str,
    k: int,
) -> DataFrame:
    """Top-k rows per group by (score desc, tiebreak asc) — two-phase.

    :func:`top_k_per_group` shuffles EVERY row to its group's reducer;
    at 100 TB with few groups that's the whole dataset through one
    hash exchange and a big per-group sort. This variant bounds the
    shuffle the way ``TakeOrderedAndProject`` does for global top-k:

    - phase 1 reduces each *input partition* to ≤ k rows per group
      (``collect_list`` → comparator ``array_sort`` → ``slice`` inside
      a hash aggregate, so map-side partial aggregation applies);
    - phase 2 merges the ≤ k·num_partitions survivors per group the
      same way.

    Output rows/columns match :func:`top_k_per_group` on the same
    (deduplicated-key) ordering exactly — asserted in tests.
    """
    payload = [c for c in df.columns if c not in part_keys]

    def cmp(a: Column, b: Column) -> Column:
        return (
            F.when(a[score_col] > b[score_col], F.lit(-1))
            .when(a[score_col] < b[score_col], F.lit(1))
            .when(a[tiebreak_col] < b[tiebreak_col], F.lit(-1))
            .when(a[tiebreak_col] > b[tiebreak_col], F.lit(1))
            .otherwise(F.lit(0))
        )

    def reduce_phase(frame: DataFrame, extra_key: list[str]) -> DataFrame:
        arr = F.slice(
            F.array_sort(F.collect_list(F.struct(*payload)), cmp), 1, k
        )
        return (
            frame.groupBy(*part_keys, *extra_key)
            .agg(arr.alias("_top"))
            .select(*part_keys, F.explode("_top").alias("_row"))
            .select(*part_keys, "_row.*")
        )

    partial = reduce_phase(df.withColumn("_pid", F.spark_partition_id()), ["_pid"])
    return reduce_phase(partial, [])
