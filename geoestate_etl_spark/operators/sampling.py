"""Deterministic token-budget sampling for training mixtures.

Training-data pipelines need a sample that is reproducible across runs
and cluster sizes and a pure function of a stable key, so a document
keeps its place in the mix when the corpus is re-ingested,
re-partitioned, or incrementally grown. Spark's ``sample`` and
``randomSplit`` are partition-order dependent; these operators order
documents by a content hash of the key instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_to_token_budget(
    df: DataFrame,
    domain_col: str,
    weight_col: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    order_col: Column | str | None = None,
    start_col: str = "domain_start",
) -> DataFrame:
    """Budgeted mixture construction: keep documents per domain, in a
    deterministic shuffled order, until each domain's token budget is
    reached — how a training mix ("200B tokens web, 50B code, ...")
    is actually materialized from a larger corpus.

    A document is kept iff its domain-local tape START offset (running
    token total before it) is below the domain's budget, so each
    domain overshoots by at most one document — the standard
    concat-and-chunk boundary rule (cf. ``pack_sequences``). Domains
    absent from ``budgets`` are dropped (budget 0).

    Scale shape: the per-domain running totals come from
    :func:`~geoestate_etl_spark.operators.prefix.scalable_cumsum` with
    ``partition_cols=[domain]`` — per-(domain, frozen-bucket) windows,
    so one giant domain parallelizes across buckets instead of
    serializing into a single window task. The default order key is
    ``md5(id)`` (content-keyed deterministic shuffle, engine-portable);
    pass ``order_col`` to mix in a different order (e.g. a quality
    score for quality-first selection).

    Output: the kept rows plus ``start_col`` (the domain-local token
    start offset — 0-based, useful for audit and resume).

    This is exactly :func:`consume_token_budget` from a fresh state —
    one boundary rule, implemented once.
    """
    kept, _total = consume_token_budget(
        df,
        None,
        domain_col,
        weight_col,
        budgets,
        id_col=id_col,
        start_col=start_col,
        order_col=order_col,
    )
    return kept


def consume_token_budget(
    batch: DataFrame,
    consumed: DataFrame | None,
    domain_col: str,
    weight_col: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    start_col: str = "domain_start",
    order_col: Column | str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental twin of :func:`sample_to_token_budget`: consume the
    remaining per-domain budgets with one ARRIVING batch, carrying a
    standing ``consumed`` state table across batches.

    ``consumed`` is a ``(domain, tokens)`` relation (None = fresh
    start). Within the batch, docs are taken in md5(id) order; a doc
    is kept iff its domain-local start offset (prior batches' consumed
    total + in-batch running total before it) is below the domain's
    budget — so the SEQUENCE of batches equals one
    :func:`sample_to_token_budget` run over the concatenation in
    arrival-major order (fold invariance, pinned in tests).

    Returns ``(kept, new_consumed)``. ``new_consumed`` counts the FULL
    weight of every kept doc (the overshoot doc included) and nothing
    from dropped docs, and keeps rows for domains already exhausted.
    Re-processing the same batch double-consumes — feed each batch
    once (the streaming ingest's epoch-idempotence pattern handles
    retries upstream).
    """
    from pyspark.sql import types as T

    from geoestate_etl_spark.operators.prefix import scalable_cumsum

    sess = batch.sparkSession
    if consumed is None:
        # typed from the batch's own domain dtype: a hardcoded string
        # schema would silently widen non-string domains in the state
        consumed = sess.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        domain_col, batch.schema[domain_col].dataType
                    ),
                    T.StructField("tokens", T.LongType()),
                ]
            ),
        )
    if order_col is None:
        order = F.md5(F.col(id_col).cast("string"))
    elif isinstance(order_col, str):
        order = F.col(order_col)
    else:
        order = order_col
    cum = scalable_cumsum(
        batch.withColumn("_ord", order),
        "_ord",
        weight_col,
        "_cum",
        partition_cols=[domain_col],
    )
    # consumed is domain-cardinality — broadcast onto the batch
    prior = F.coalesce(F.col("_prior"), F.lit(0))
    budget = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    start = (prior + F.col("_cum") - F.col(weight_col)).cast("long")
    flagged = (
        cum.join(
            F.broadcast(consumed.withColumnRenamed("tokens", "_prior")),
            domain_col,
            "left",
        )
        .withColumn(start_col, start)
        .withColumn(
            "_keep", start < F.coalesce(budget[F.col(domain_col)], F.lit(0))
        )
    )
    kept = flagged.filter(F.col("_keep")).drop("_ord", "_cum", "_prior", "_keep")
    batch_consumed = (
        flagged.filter(F.col("_keep"))
        .groupBy(domain_col)
        .agg(F.sum(weight_col).cast("long").alias("tokens"))
    )
    new_consumed = (
        consumed.unionByName(batch_consumed)
        .groupBy(domain_col)
        .agg(F.sum("tokens").cast("long").alias("tokens"))
    )
    return kept, new_consumed
