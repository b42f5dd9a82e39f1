"""Aggregation operators (reference A1-A6, SURVEY §2.4).

All are thin, *named* DataFrame→DataFrame functions so they can be
declared as engine capabilities, composed in pipelines, and verified
one-by-one against the DuckDB oracle. Catalyst runs each as partial
(map-side) + final hash aggregation; no collect-to-driver anywhere —
even the reference's driver-side ``round()`` of the mean (quirk Q3,
``dags/main.py:306``) is kept in-plan via ``F.round``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def global_mean(df: DataFrame, col: str, alias: str, scale: int = 2) -> DataFrame:
    """A1: one-row global average, rounded in-plan (dags/main.py:298-306)."""
    return df.agg(F.round(F.avg(col), scale).alias(alias))


def global_median(df: DataFrame, col: str, alias: str) -> DataFrame:
    """A2 (exact variant): ``F.median`` — oracle-hashable.

    The reference uses the Greenwald-Khanna sketch
    (``percentile_approx``, dags/main.py:301-302), whose output need
    not bit-match other engines; the exact median does.
    """
    return df.agg(F.median(col).alias(alias))


def group_min_max(
    df: DataFrame, keys: list[str], value: str, max_alias: str, min_alias: str
) -> DataFrame:
    """A4: per-group max+min of one measure (dags/main.py:349-352)."""
    return df.groupBy(*keys).agg(
        F.max(value).alias(max_alias), F.min(value).alias(min_alias)
    )


def histogram_by_bucket(
    df: DataFrame, bucket: Column, bucket_alias: str, count_alias: str = "cnt"
) -> DataFrame:
    """A5: counts per derived bucket (decade histogram, dags/main.py:366-370)."""
    return (
        df.select(bucket.alias(bucket_alias))
        .groupBy(bucket_alias)
        .agg(F.count("*").alias(count_alias))
    )
