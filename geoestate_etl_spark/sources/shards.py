"""Training-shard writer: the final hop of the corpus pipeline —
packed documents land in numbered shards of bounded size, with a
manifest the training job (and audits) can trust without listing or
re-reading data files.

Why not plain ``df.write``: training loaders want (a) bounded,
roughly equal shard sizes for stable data-parallel throughput, (b) a
stable doc→shard mapping so re-runs resume/compare, and (c) a
manifest with per-shard row counts and content checksums. Spark's
``maxRecordsPerFile`` bounds file size but leaves file naming
nondeterministic (task/attempt ids) and writes no manifest.

Shape at scale: one ``repartition(shard)`` shuffle (rows move once,
straight to their shard writer), shard data written partitioned by
``shard=<k>``; the manifest is a second, tiny aggregate over the
same shuffled frame (count + order-independent checksum per shard —
``bit_xor(xxhash64(row))``: associative and commutative so partial
aggregation applies, and no overflow under ANSI mode).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def epoch_shuffle_col(id_col: str = "doc_id", epoch: int = 0) -> F.Column:
    """Deterministic epoch-seeded training order: a pure key column —
    ``xxhash64(id, epoch)`` — to pass as ``write_shards(order_col=)``
    (materialize it first) or any sort.

    Data loaders need a different document order per epoch, but the
    order must be REPRODUCIBLE (resume mid-epoch, compare runs, audit
    which docs a step saw) — ``rand()`` re-rolls per execution and
    ``shuffle``-at-read doesn't exist. A keyed hash is a pure function
    of (id, epoch): same epoch → same permutation on every rerun and
    partitioning, different epoch → a decorrelated one. At 100 TB the
    sort is the range-partitioned shard rank this module already does;
    no extra shuffle beyond the one the shard writer pays anyway.
    Collisions (~n²/2⁶⁴) are broken by the writer's rank tie-order —
    append ``id_col`` as a tiebreaker where strict uniqueness matters.
    """
    return F.xxhash64(F.col(id_col), F.lit(int(epoch)))


def assign_shards(
    df: DataFrame, rows_per_shard: int, order_col: str = "doc_id"
) -> DataFrame:
    """Deterministic shard id: rank of ``order_col`` ÷ rows_per_shard
    (contiguous id ranges per shard — keeps any upstream ordering,
    e.g. pack_sequences' chunk locality, physically together).
    Uses the scalable two-phase cumsum, not a global window."""
    from geoestate_etl_spark.operators.prefix import scalable_cumsum

    ranked = scalable_cumsum(
        df.withColumn("_one", F.lit(1)), order_col, "_one", "_rank"
    )
    return ranked.withColumn(
        "shard", ((F.col("_rank") - 1) / rows_per_shard).cast("long")
    ).drop("_one", "_rank")


def write_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    order_col: str = "doc_id",
) -> dict:
    """Write ``<path>/data/shard=<k>/`` + ``<path>/manifest.json``;
    returns the manifest dict.

    The manifest checksum per shard is order-independent
    (bit_xor of per-row xxhash64 over all columns), so any reader can
    re-verify a shard without caring about row order within it. (XOR
    cancels even-multiplicity duplicate rows against each other; the
    paired row count catches cardinality changes.)

    The sharded frame is persisted so the data write and the manifest
    aggregate share ONE shard assignment: ``assign_shards``'s rank is
    tie-order-dependent for a non-unique ``order_col``, and two
    independent computations could place a boundary row in different
    shards — intact data failing its own checksum. (For re-run-stable
    shard ids across separate invocations, use a unique ``order_col``.)
    """
    sharded = assign_shards(df, rows_per_shard, order_col).persist()
    try:
        sharded.repartition("shard").write.partitionBy("shard").mode(
            "overwrite"
        ).parquet(os.path.join(path, "data"))

        stats = (
            sharded.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.bit_xor(F.xxhash64(*df.columns)).alias("checksum"),
            )
            .orderBy("shard")
            .collect()
        )
    finally:
        sharded.unpersist()
    manifest = {
        "rows_per_shard": rows_per_shard,
        "order_col": order_col,
        "columns": df.columns,
        "n_shards": len(stats),
        "total_rows": int(sum(r.rows for r in stats)),
        "shards": [
            {"shard": int(r.shard), "rows": int(r.rows), "checksum": int(r.checksum)}
            for r in stats
        ],
    }
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify_shards(spark: SparkSession, path: str) -> DataFrame:
    """Re-derive (rows, checksum) per shard from the data files and
    diff against the manifest: returns (shard, rows_match,
    checksum_match) — all-true means the shard set is intact."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    cols = manifest["columns"]
    actual = (
        spark.read.parquet(os.path.join(path, "data"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(F.xxhash64(*cols)).alias("checksum"),
        )
    )
    expected = spark.createDataFrame(
        [(s["shard"], s["rows"], s["checksum"]) for s in manifest["shards"]],
        "shard long, exp_rows long, exp_checksum long",
    )
    # coalesce to False: a shard present only in the manifest (missing
    # on disk) or only on disk (not in the manifest) yields NULLs from
    # the outer join — it must report as corruption, not NULL.
    return (
        actual.join(expected, "shard", "full_outer")
        .select(
            "shard",
            F.coalesce(
                F.col("rows") == F.col("exp_rows"), F.lit(False)
            ).alias("rows_match"),
            F.coalesce(
                F.col("checksum") == F.col("exp_checksum"), F.lit(False)
            ).alias("checksum_match"),
        )
        .orderBy("shard")
    )
