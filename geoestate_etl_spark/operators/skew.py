"""Skew-resistant aggregation: the salting pattern, made explicit.

AQE's skew-join splitting handles joins; for *aggregations* over a
hot key, the classic fix is two-phase salted aggregation: phase 1
groups on (key, salt) — spreading one hot key over N reducers — and
phase 2 combines the N partials per key. For algebraic aggregates
(count/sum/min/max) the combine is exact, so results are identical to
the direct groupBy; only the shuffle distribution changes.

(Spark's own partial aggregation already handles *map-side* combine;
salting matters when a single reduce key still overflows one task —
e.g. one region holding 30% of 100 TB.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_group_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 16, alias: str = "cnt"
) -> DataFrame:
    salted = df.withColumn("_salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_pc"))
    return partial.groupBy(*keys).agg(F.sum("_pc").alias(alias))


def salted_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with explicit key salting: the classic fix when one
    join key holds so many fact rows that a single reducer task
    overflows even after AQE's skew splitting (AQE splits *partitions*,
    not a single oversized key's sorted run on the build side).

    The fact side gets a deterministic salt — a hash of the whole row,
    so re-runs and retries land identically — and the dim side is
    replicated ``salt_buckets``× via an exploded salt array. The join
    key becomes (keys…, salt): one hot key now spreads over N tasks.
    Output equals the plain join exactly (row multiplicity included,
    since each fact row matches exactly one dim replica).

    Replication multiplies the dim shuffle volume by N — use for
    genuinely small-but-unbroadcastable dims or after filtering; for
    dims that fit in memory, ``F.broadcast`` is strictly better.
    ``how`` supports inner/left (the preserved-fact variants; right
    and full would need salt-matching on unmatched dim replicas).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_skew_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    salted_fact = fact.withColumn("_salt", salt)
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_fact.join(salted_dim, [*on, "_salt"], how).drop("_salt")


def hot_keys(
    df: DataFrame,
    keys: list[str],
    threshold_frac: float = 0.01,
    sample_frac: float | None = None,
) -> DataFrame:
    """Keys carrying more than ``threshold_frac`` of the rows — the
    candidates worth salting. One groupBy + a broadcast 1-row total;
    with ``sample_frac`` the counts come from a Bernoulli sample (a key
    over ~1% of 100 TB is overwhelmingly visible in a 0.1% sample, and
    the sample groupBy is the only full-data pass avoided).

    The result is a key list, not row data — bounded by
    1/threshold_frac rows, so always broadcastable.
    """
    src = df.sample(fraction=sample_frac, seed=42) if sample_frac else df
    counts = src.groupBy(*keys).agg(F.count("*").alias("_n"))
    total = src.agg(F.sum(F.lit(1)).alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("_n") >= F.col("_total") * threshold_frac)
        .select(*keys)
    )


def adaptive_skew_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
    hot: DataFrame | None = None,
    threshold_frac: float = 0.01,
    sample_frac: float | None = None,
) -> DataFrame:
    """Skew join that salts ONLY the hot keys.

    :func:`salted_skew_join` replicates the whole dim ``salt_buckets``×
    — the right call when most keys are skewed, a 16× dim-shuffle tax
    when one key in a million is. This variant splits both sides by a
    broadcast hot-key list (detected via :func:`hot_keys` or supplied
    by the caller from standing table stats): hot strata take the
    salted join, cold strata take the plain equi-join (which AQE may
    still broadcast or skew-split). The strata are key-disjoint and
    covering, so the union equals the plain join exactly — row
    multiplicity included — for the supported preserved-fact variants
    (inner/left, inherited from :func:`salted_skew_join`).

    ``hot`` empty (no skew) degenerates to: empty salted join ∪ plain
    join — i.e. the adaptive wrapper costs two broadcast anti/semi
    probes when there is nothing to fix.
    """
    if hot is None:
        # materialize detection ONCE: the lazy plan would re-run the
        # full-table aggregation as the build side of all four probe
        # joins below (review finding). The list is bounded by
        # 1/threshold_frac rows, so collecting it is a driver no-op.
        detected = hot_keys(fact, on, threshold_frac, sample_frac)
        hot = fact.sparkSession.createDataFrame(
            detected.collect(), detected.schema
        )
    hot = F.broadcast(hot.select(*on).distinct())
    fact_hot = fact.join(hot, on, "semi")
    fact_cold = fact.join(hot, on, "left_anti")
    dim_hot = dim.join(hot, on, "semi")
    dim_cold = dim.join(hot, on, "left_anti")
    hot_joined = salted_skew_join(fact_hot, dim_hot, on, how, salt_buckets)
    cold_joined = fact_cold.join(dim_cold, on, how)
    return hot_joined.unionByName(cold_joined)
