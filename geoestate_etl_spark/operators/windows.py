"""Window-function operators (reference W1, SURVEY §2.5).

The reference's one window op is a *global* renumbering:
``row_number().over(Window.orderBy("house_id"))`` with no partitionBy
(``dags/main.py:230-231``) — Catalyst collapses that to ONE partition,
a single-task total sort. We ship it two ways:

- ``renumber_global``   — faithful semantics (fine ≤ ~10M rows).
- ``renumber_scalable`` — identical output, computed distributed:
  sort-shuffle by the key (range partitioner), count rows per
  partition, broadcast the per-partition offsets, add to an intra-
  partition row_number. Two narrow passes, no single-task stage —
  this is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def renumber_global(df: DataFrame, order_key: str, id_alias: str) -> DataFrame:
    """W1 faithful: dense 1..N ids by global sort order (main.py:230-231).

    WARNING: unpartitioned window = one-task sort. Use
    ``renumber_scalable`` beyond single-node sizes.
    """
    w = Window.orderBy(order_key)
    return df.withColumn(id_alias, F.row_number().over(w))


def _boundary_literal(value, dtype) -> Column:
    """Render one collected boundary value as a literal Column
    (struct keys become ``F.struct`` of per-field literals with the
    original field names, so comparisons resolve field-by-field).
    NULL fields get a TYPED null literal — a bare ``F.lit(None)`` is
    NullType and would not resolve against the column's struct type."""
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[
                _boundary_literal(v, f.dataType).alias(f.name)
                for v, f in zip(value, dtype.fields)
            ]
        )
    if value is None:
        return F.lit(None).cast(dtype)
    return F.lit(value)


def _contains_null(v) -> bool:
    if v is None:
        return True
    if isinstance(v, tuple):  # Row is a tuple subclass
        return any(_contains_null(x) for x in v)
    return False


def frozen_range_bucket(
    df: DataFrame, order_key: str, parts: int, sample_per_part: int = 200
) -> tuple[Column, int]:
    """Deterministic range-bucket id for two-phase rank/cumsum ops.

    ``repartitionByRange`` is the obvious building block but it is
    EXECUTION-nondeterministic: its boundary sampling reruns per
    exchange materialization, and a plan whose offsets aggregation and
    final pass materialize the exchange separately (cache boundaries
    and AQE both break ReuseExchange) can see two DIFFERENT
    partitionings of the same rows — observed as non-dense duplicate
    ids in the houses pipeline at local[8]. Here the boundaries are
    computed ONCE, collected, and frozen into the plan as literals, so
    the bucket is a pure function of the key: every consumer, retry,
    and re-execution agrees by construction. (Which boundaries the
    sample picks only affects load balance, never the final ranks —
    buckets are ordered key intervals either way.)

    Returns ``(bucket_column, n_buckets)``. NULL keys get bucket 0
    (matching ASC NULLS FIRST window order).
    """
    if parts <= 1:
        return F.lit(0), 1
    dtype = df.schema[order_key].dataType
    keys = df.select(F.col(order_key).alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    if isinstance(dtype, T.NumericType):
        # one-pass boundary estimation; approxQuantile returns doubles,
        # compared against the key by Spark's numeric promotion (never
        # cast back to the key type — a double near ±2^63 would ANSI-
        # overflow a long cast; boundary precision only shifts balance)
        probs = [i / parts for i in range(1, parts)]
        raw_bounds = keys.stat.approxQuantile(
            "_k", probs, 1.0 / (parts * 10)
        )
        if not raw_bounds:  # empty input
            return F.lit(0), 1
    else:
        # orderable non-numeric (string/date/struct): deterministic
        # sample → sorted boundary picks (two scans — numeric keys,
        # the common case, take the one-scan quantile path above)
        n = keys.count()
        if n == 0:
            return F.lit(0), 1
        frac = min(1.0, (parts * sample_per_part) / n)
        # Row is a tuple subclass, so struct keys sort like their
        # fields; keys containing NULL fields are excluded from the
        # BOUNDARY sample only (None is unordered in Python) — they
        # still bucket fine via the null-safe comparison below
        sampled = sorted(
            v
            for r in keys.sample(False, frac, seed=42).collect()
            if not _contains_null(v := r[0])
        )
        if not sampled:
            sampled = sorted(
                v
                for r in keys.limit(parts * sample_per_part).collect()
                if not _contains_null(v := r[0])
            )
        if not sampled:
            return F.lit(0), 1
        step = len(sampled) / parts
        raw_bounds = [sampled[int(i * step)] for i in range(1, parts)]
    bounds, seen = [], set()
    for b in raw_bounds:
        key_b = tuple(b) if isinstance(dtype, T.StructType) else b
        if key_b not in seen:
            seen.add(key_b)
            bounds.append(b)
    key = F.col(order_key)
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(
            key >= _boundary_literal(b, dtype), 1
        ).otherwise(0)
    return (
        F.when(key.isNull(), F.lit(0)).otherwise(bucket),
        len(bounds) + 1,
    )


def renumber_scalable(df: DataFrame, order_key: str, id_alias: str) -> DataFrame:
    """W1 at scale: same dense 1..N output, no global single-task sort.

    Rows bucket by FROZEN range boundaries (:func:`frozen_range_bucket`
    — literals in the plan, so every pass over the data agrees on the
    bucketing; see that docstring for why ``repartitionByRange``'s
    per-execution sampling is not safe here). A bucket-partitioned
    window computes intra-bucket ranks; per-bucket counts (a tiny
    aggregate, broadcast join) convert local rank → global id. Every
    stage is parallel; the only driver data is the boundary sample and
    n_buckets offset rows.
    """
    parts = df.sparkSession.sparkContext.defaultParallelism
    bucket, _n_buckets = frozen_range_bucket(df, order_key, parts)
    bucketed = df.withColumn("_bkt", bucket)
    local_w = Window.partitionBy("_bkt").orderBy(order_key)
    local = bucketed.withColumn("_local_rn", F.row_number().over(local_w))

    offsets = (
        bucketed.groupBy("_bkt")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.partitionBy(F.lit(0))
                    .orderBy("_bkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_bkt", "_offset")
    )
    # offsets has n_buckets rows — broadcast, no shuffle of `local`.
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .withColumn(id_alias, (F.col("_local_rn") + F.col("_offset")).cast(T.LongType()))
        .drop("_bkt", "_local_rn", "_offset")
    )
