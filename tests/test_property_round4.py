"""Property-style tests for the round-4 itemset operators,
following the corpus-batched pattern of test_property_round2 (one
Spark pass per property; hypothesis generates the adversarial input).
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from hypothesis import given, settings, strategies as st

BASKETS = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 12)),
    min_size=1,
    max_size=120,
)


_captured: dict = {}


def _gen(name, strategy):
    @settings(max_examples=5, deadline=None)
    @given(strategy)
    def run(xs):
        _captured.setdefault(name, []).append(xs)

    run()
    return _captured[name]


def test_frequent_pairs_matches_bruteforce_on_random_baskets(spark):
    """For arbitrary (basket, item) rows: the distributed self-join
    support equals per-basket set enumeration, at every threshold."""
    from geoestate_etl_spark.operators.itemsets import frequent_pairs

    for rows in _gen("baskets", BASKETS):
        df = spark.createDataFrame(rows, "b long, i long")
        got = {
            (r.item_a, r.item_b): r.support
            for r in frequent_pairs(df, "b", "i", 1).collect()
        }
        baskets: dict[int, set[int]] = {}
        for b, i in rows:
            baskets.setdefault(b, set()).add(i)
        want: Counter = Counter()
        for items in baskets.values():
            for a, c in combinations(sorted(items), 2):
                want[(a, c)] += 1
        assert got == dict(want), (rows, got, want)
