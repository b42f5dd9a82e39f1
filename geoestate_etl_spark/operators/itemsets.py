"""Frequent-itemset mining (market-basket analysis) — co-occurrence
analytics over (basket, item) relations.

:func:`frequent_pairs` — exact 2-itemset support counting as a pure
DataFrame self-join: baskets are deduped to their item SET, the
within-basket pair explosion is bounded by (basket size choose 2) —
baskets in transactional data are small (orders hold ≤7 parts in the
testdata; retail baskets tens) so the blow-up is a constant per
basket, never corpus-quadratic — and the pair count is one hash
aggregation. Fully SQL-expressible, driver-oracled.

Scale: the self-join keys on the basket id, so the shuffle moves one
row per (basket, item) — input-sized. Support filtering pushes into
the pair aggregate (HAVING), and min_support prunes before any
downstream join. The canonical (a < b) orientation halves the pair
space and makes output deterministic.

Reference parity: the reference has no itemset surface; engine
extension (SURVEY §2 'beyond').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """``(item_a, item_b, support)`` for every unordered item pair
    co-occurring in ≥ ``min_support`` distinct baskets (item_a <
    item_b canonical orientation; duplicate items within a basket
    count once).

    ``max_basket_size`` is the hot-basket guard (the hot-bucket cap of
    the dedup tier applied here): the pair join is quadratic PER
    BASKET, so one pathological mega-basket (a bot account, a crawler
    session) can dominate the whole job — baskets above the cap are
    DROPPED ENTIRELY (standard market-basket practice: truncation
    would bias which pairs survive; a basket that big carries no
    co-occurrence signal anyway). None = uncapped; set it in any
    pipeline fed by unmoderated data."""
    base = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    if max_basket_size is not None:
        small = (
            base.groupBy("b")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_basket_size)
            .select("b")
        )
        base = base.join(small, "b", "left_semi")
    left = base.select(F.col("b"), F.col("i").alias("item_a"))
    right = base.select(F.col("b").alias("b2"), F.col("i").alias("item_b"))
    return (
        left.join(
            right,
            (F.col("b") == F.col("b2")) & (F.col("item_a") < F.col("item_b")),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
