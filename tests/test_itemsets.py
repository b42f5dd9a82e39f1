"""Frequent-itemset mining (operators/itemsets.py)."""

from __future__ import annotations

from geoestate_etl_spark.operators.itemsets import frequent_pairs


def _baskets(spark, rows):
    return spark.createDataFrame(rows, "b long, i long")


def test_pairs_hand_computed(spark):
    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (4, 30), (4, 40),
    ]
    got = {
        (r.item_a, r.item_b): r.support
        for r in frequent_pairs(_baskets(spark, rows), "b", "i", 2).collect()
    }
    assert got == {(10, 20): 3}
    # support=1 pairs appear when the threshold allows
    all_pairs = {
        (r.item_a, r.item_b): r.support
        for r in frequent_pairs(_baskets(spark, rows), "b", "i", 1).collect()
    }
    assert all_pairs[(10, 30)] == 1 and all_pairs[(30, 40)] == 1


def test_duplicate_items_count_once(spark):
    rows = [(1, 10), (1, 10), (1, 20)]
    got = {
        (r.item_a, r.item_b): r.support
        for r in frequent_pairs(_baskets(spark, rows), "b", "i", 1).collect()
    }
    assert got == {(10, 20): 1}


def test_max_basket_size_drops_mega_baskets(spark):
    from geoestate_etl_spark.operators.itemsets import frequent_pairs

    rows = [(1, 10), (1, 20)] + [(9, i) for i in range(50)] + [(2, 10), (2, 20)]
    df = _baskets(spark, rows)
    capped = {
        (r.item_a, r.item_b): r.support
        for r in frequent_pairs(df, "b", "i", 1, max_basket_size=10).collect()
    }
    # mega-basket 9 contributes nothing; normal baskets unaffected
    assert capped == {(10, 20): 2}
    # uncapped: the mega-basket's 50·49/2 pairs (10-20 merges into
    # its (10, 20) row, so no +1)
    uncapped = frequent_pairs(df, "b", "i", 1).count()
    assert uncapped == (50 * 49) // 2
