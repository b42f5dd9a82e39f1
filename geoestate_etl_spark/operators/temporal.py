"""Point-in-time (temporal) join: facts against a versioned dimension.

The read side of a slowly-changing (SCD2) dimension: given a
dimension with [valid_from, valid_to) versions, attach to each fact row the
version that was current at the fact's timestamp — the correctness
primitive for ML feature assembly (no leakage from the future) and
for reproducing reports as-of a date.

Formulation: equi-join on the key, then the interval filter. Catalyst
executes key-join + filter as one hash/sort-merge join with the
interval predicate as a join residual — shuffle on the key only. For
typical SCD2 cardinalities (a handful of versions per key) that is
the right plan; for dimensions with MANY versions per key use
:func:`temporal_join_bucketed`, which tightens the equi-join key to
(key, time-bucket) so per-group work is bounded by versions-per-
bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def temporal_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Attach the dimension version current at ``facts[fact_ts]``.

    Open-ended current versions have ``valid_to`` NULL. With
    ``how='left'``, facts before the key's first version (or with no
    key match) keep NULL dimension columns.
    """
    shared = (set(facts.columns) & set(dim.columns)) - {key}
    if shared:
        raise ValueError(
            f"facts and dim share non-key columns {sorted(shared)}; the "
            "interval predicate and output would be ambiguous — rename "
            "them on one side first"
        )
    interval = (dim[valid_from] <= facts[fact_ts]) & (
        dim[valid_to].isNull() | (facts[fact_ts] < dim[valid_to])
    )
    return facts.join(dim, on=[facts[key] == dim[key], interval], how=how).drop(
        dim[key]
    )


def temporal_join_bucketed(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
    bucket_days: int = 30,
) -> DataFrame:
    """:func:`temporal_join` for dimensions with MANY versions per key.

    The plain formulation joins every fact row against ALL of its
    key's versions before the interval residual filters — fine for
    SCD2-typical version counts, quadratic-per-key when a hot key has
    thousands of versions. Here the join key is tightened to
    (key, time-bucket): each dim version explodes into one row per
    ``bucket_days``-day bucket it overlaps, each fact maps to exactly
    one bucket, and the equi-join matches only versions overlapping
    the fact's bucket — per-group work is bounded by versions-per-
    bucket, not versions-per-key. Output is IDENTICAL to
    :func:`temporal_join` (each overlapping version appears once per
    bucket, and a fact's bucket equality picks exactly one copy).

    Open-ended versions (``valid_to`` NULL) are capped at the max fact
    timestamp via an in-plan 1-row aggregate (no driver round-trip) —
    they can't match facts beyond it anyway. Choose ``bucket_days``
    near the typical version lifetime: too small re-explodes
    long-lived versions, too large degenerates to the plain join.
    """
    shared = (set(facts.columns) & set(dim.columns)) - {key}
    if shared:
        raise ValueError(
            f"facts and dim share non-key columns {sorted(shared)}; the "
            "interval predicate and output would be ambiguous — rename "
            "them on one side first"
        )
    epoch = F.lit("1970-01-01").cast(T.DateType())

    def bucket_of(c: Column) -> Column:
        return F.floor(F.datediff(c, epoch) / bucket_days)

    horizon = facts.agg(F.max(fact_ts).alias("_horizon"))
    dim_h = dim.crossJoin(F.broadcast(horizon))
    b_from = bucket_of(F.col(valid_from))
    # [from, to): a version ending exactly on a bucket boundary does
    # not overlap that bucket, but the inclusive end here only adds a
    # candidate row the interval residual rejects — correct either way
    b_to = bucket_of(F.least(F.coalesce(F.col(valid_to), F.col("_horizon")), F.col("_horizon")))
    exploded = dim_h.withColumn(
        # greatest(): a version starting after the horizon keeps a
        # 1-bucket explosion (sequence would count DOWN if to < from)
        "_bucket",
        F.explode(F.sequence(b_from, F.greatest(b_to, b_from))),
    ).drop("_horizon")

    facts_b = facts.withColumn("_bucket", bucket_of(F.col(fact_ts)))
    interval = (exploded[valid_from] <= facts_b[fact_ts]) & (
        exploded[valid_to].isNull() | (facts_b[fact_ts] < exploded[valid_to])
    )
    return (
        facts_b.join(
            exploded,
            on=[
                facts_b[key] == exploded[key],
                facts_b["_bucket"] == exploded["_bucket"],
                interval,
            ],
            how=how,
        )
        .drop(exploded[key])
        .drop(exploded["_bucket"])
        .drop(facts_b["_bucket"])
    )
