"""Guard-rail regressions from the round-1 code review: operators must
fail loudly on misuse instead of silently corrupting results."""

from __future__ import annotations

import pytest

from geoestate_etl_spark.operators.asof import asof_join
from geoestate_etl_spark.operators.spatial import radius_join


def test_asof_rejects_payload_collision(spark):
    left = spark.createDataFrame([(1, 10, 100.0)], ["k", "ts", "price"])
    right = spark.createDataFrame([(1, 5, 5.0)], ["k", "ts", "price"])
    with pytest.raises(ValueError, match="overwritten"):
        asof_join(left, right, "k", "ts", ["price"])


def test_radius_join_rejects_shared_names(spark):
    a = spark.createDataFrame([(1, 0.0, 0.0)], ["id", "lat", "lon"])
    b = spark.createDataFrame([(2, 0.0, 0.0)], ["id2", "lat", "lon"])
    with pytest.raises(ValueError, match="must differ"):
        radius_join(a, b, 10.0, 1.0)


def test_temporal_join_rejects_shared_columns(spark):
    from geoestate_etl_spark.operators.temporal import temporal_join

    facts = spark.createDataFrame([(1, 5, 0)], ["k", "ts", "valid_from"])
    dim = spark.createDataFrame([(1, 0, 10, "x")], ["k", "valid_from", "valid_to", "attr"])
    with pytest.raises(ValueError, match="share non-key columns"):
        temporal_join(facts, dim, "k", "ts")


def test_pagerank_empty_edges(spark):
    from geoestate_etl_spark.operators.pagerank import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0


def test_no_row_at_a_time_udf_in_package():
    """Engine discipline (VERDICT r5 #6): row-at-a-time ``F.udf`` is
    the slow path and is banned from the package — Arrow-batched
    ``pandas_udf`` / ``mapInPandas`` are the only Python seams."""
    import pathlib
    import re

    import geoestate_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    pat = re.compile(r"(?<!pandas_)\budf\s*\(")
    for py in root.rglob("*.py"):
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            stripped = line.split("#")[0]
            if pat.search(stripped) and "pandas_udf" not in stripped:
                offenders.append(f"{py.relative_to(root)}:{lineno}: {line.strip()}")
    assert offenders == [], offenders
