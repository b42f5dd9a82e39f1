"""Count-min sketch over DataFrames: sub-linear frequency estimation.

A CMS is d hash rows × w buckets of counters; estimate(key) = min over
rows of its bucket counter. Overestimates only (collisions add).
Here the sketch is built with ONE groupBy over (depth, bucket) —
a map-side-combinable aggregation whose output is d·w rows regardless
of input size — and queried with a broadcast join of the probe keys.
Hashing is xxhash64 with per-depth salts (deterministic everywhere).

Use over exact groupBy counts when the key cardinality is huge and
only point estimates for a few keys are needed — the sketch shuffles
d·w counters, not one row per distinct key.

Bucketing is PORTABLE by design (r3 verdict #2): the per-depth hash is
the first 8 hex chars of ``md5(key || ':' || depth)`` parsed as an
integer, mod width — an identical computation in any engine with md5
(DuckDB: ``('0x' || substr(md5(...), 1, 8))::BIGINT``), so the whole
counter matrix and every point estimate are exactly reproducible by
the SQL oracle. xxhash64 was marginally cheaper but engine-private.
NULL keys hash to NULL and drop out of the sketch (count them
separately if needed — a NULL-key counter is one ``count_if``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _bucket(key_col, depth: int, width: int):
    h = F.md5(F.concat(key_col.cast("string"), F.lit(f":{depth}")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast(T.LongType()), F.lit(width)
    )


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: (depth, bucket, cnt) — d·w rows total.

    ONE pass over the input: each row explodes into its d
    (depth, bucket) coordinates (a union of d projections would
    re-scan the source d times).
    """
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    _bucket(F.col(key_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ]
        )
    )
    return (
        df.select(coords.alias("c"))
        .select("c.depth", "c.bucket")
        .groupBy("depth", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-estimate each key in ``keys``: min over depths of the
    key's bucket counter. ``keys`` is small (broadcast).

    LEFT join from the probes: a probe landing in an empty bucket
    means a counter of 0, and the minimum must see it — an inner join
    would drop unseen keys entirely (or worse, overestimate them from
    only their colliding depths).

    The SKETCH side carries the broadcast hint: it is bounded at d·w
    rows by construction, and Spark cannot build-side-broadcast the
    preserved (left) side of a left-outer join — hinting the probes
    would be silently ignored and fall back to a shuffle.
    """
    coords = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("depth"),
                    _bucket(F.col(key_col), d, width).alias("bucket"),
                )
                for d in range(depth)
            ]
        )
    )
    probes = keys.select(F.col(key_col), coords.alias("c")).select(
        key_col, "c.depth", "c.bucket"
    )
    joined = probes.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("est")
    )
