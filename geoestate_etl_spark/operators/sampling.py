"""Deterministic sampling and dataset splitting.

Training-data pipelines need splits that are (a) reproducible across
runs and cluster sizes, (b) a pure function of a stable key — so a
document lands in the same split even when the corpus is re-ingested,
re-partitioned, or incrementally grown — and (c) leakage-safe (an id
can never appear in two splits). Spark's ``randomSplit`` gives none of
these (it is partition-order dependent); these operators hash the key
instead.

All hashing is ``xxhash64`` with a caller salt: JVM-side, vectorized,
and identical on every executor — the same discipline as the dedup /
LSH operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Granularity of the hash partition space; fractions resolve to
#: whole buckets out of this many. 1e6 buckets keeps fraction
#: resolution at 1e-6 while the bucket id stays a cheap long.
_BUCKETS = 1_000_000


def _bucket(key: Column | str, salt: str) -> Column:
    key_col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(key_col.cast("string"), F.lit(salt)), F.lit(_BUCKETS))


def hash_split(
    df: DataFrame,
    key: str,
    fractions: dict[str, float],
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a split label from ``fractions`` (e.g.
    ``{"train": 0.98, "val": 0.01, "test": 0.01}``) by hashing ``key``.

    Deterministic, partition-independent, and disjoint by construction:
    the bucket space [0, 1e6) is carved into contiguous ranges in the
    given dict order. Fractions must sum to 1 (±1e-9) — every row gets
    exactly one label. Changing ``salt`` re-deals the assignment;
    keeping it pins membership forever (incremental ingests land new
    ids without moving old ones).
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    b = _bucket(key, salt)
    expr = None
    hi = 0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        hi += int(round(frac * _BUCKETS))
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = "sample-v1"
) -> DataFrame:
    """Keep a ``fraction`` of rows, chosen by key hash — reproducible
    across runs/partitionings, and consistent across tables sharing the
    key (sampling facts and their dims with the same salt keeps them
    join-consistent, unlike ``DataFrame.sample``)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_bucket(key, salt) < int(round(fraction * _BUCKETS)))


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strat-v1",
) -> DataFrame:
    """Per-stratum deterministic sampling: each ``stratum`` value keeps
    its own fraction of rows (hash-chosen by ``key``). The Spark-native
    ``sampleBy`` without its partition-order nondeterminism.

    Strata not listed in ``fractions`` keep ``default_fraction``.
    A ``None`` key in ``fractions`` matches NULL-stratum rows (a plain
    ``==`` predicate would silently route them to the default).
    Up/down-weighting sources or languages in a training mix is exactly
    this operator.
    """
    b = _bucket(key, salt)
    threshold = None
    for value, frac in fractions.items():
        t = int(round(frac * _BUCKETS))
        cond = (
            F.col(stratum).isNull() if value is None else F.col(stratum) == value
        )
        threshold = F.when(cond, t) if threshold is None else threshold.when(cond, t)
    default_t = int(round(default_fraction * _BUCKETS))
    threshold = (
        F.lit(default_t) if threshold is None else threshold.otherwise(default_t)
    )
    return df.filter(b < threshold)


def temperature_mix(
    df: DataFrame,
    key: str,
    stratum: str,
    alpha: float,
    salt: str = "temp-v1",
) -> tuple[DataFrame, dict[str, float]]:
    """Temperature-based source rebalancing (the multilingual-corpus
    mixing rule): target stratum shares ``p_s ∝ n_s^alpha``, realized
    by pure DOWN-sampling — the largest feasible corpus with exactly
    those proportions keeps every row of the most-downweighted stratum
    and hash-samples the rest.

    ``alpha=1`` keeps natural proportions (no rows dropped);
    ``alpha=0`` equalizes strata (each keeps its min-stratum count);
    between, the usual compromise (0.2-0.7 in multilingual training).

    One tiny groupBy-collect learns the per-stratum counts (#strata
    rows to the driver); the sampling itself is the deterministic
    hash-threshold filter of :func:`stratified_sample` — reproducible,
    partition-independent, join-consistent. Returns
    (sampled frame, per-stratum keep fractions).
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    counts = {
        r[stratum]: r.n
        for r in df.groupBy(stratum).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        return df, {}
    weights = {s: n**alpha for s, n in counts.items()}
    wsum = sum(weights.values())
    targets = {s: w / wsum for s, w in weights.items()}  # p_s
    # total size T bounded by every stratum: p_s * T <= n_s
    T = min(counts[s] / targets[s] for s in counts if targets[s] > 0)
    fractions = {
        s: min(1.0, (targets[s] * T) / counts[s]) for s in counts
    }
    return stratified_sample(df, key, stratum, fractions, salt=salt), fractions


def grouped_split(
    df: DataFrame,
    group: Column | str,
    fractions: dict[str, float],
    fallback_key: str | None = None,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe split: hash a GROUP key, not the row id, so every
    member of a group lands in the same split.

    Near-duplicates overwhelmingly share a group (pages of one site,
    re-crawls of one URL, boilerplate variants of one template), so
    splitting by row id leaks eval content into train through those
    twins; the standard guard is to split by registrable domain —
    ``functions.urls.registered_domain(url_parts(url).getField("host"))``
    composes directly as ``group``. Same determinism contract as
    :func:`hash_split` (pure function of the group value + salt;
    incremental ingests never move an existing group).

    NULL groups (no URL, unparseable host) all hash alike — as one
    key they would land as a block in a single split, skewing its
    size. Pass ``fallback_key`` (a STABLE per-row id column) to split
    NULL-group rows individually like :func:`hash_split` would; the
    fallback is tagged so a group whose string form equals an id can
    never collide with it. Without a fallback, NULL groups raise —
    silently mis-splitting is worse than failing (same philosophy as
    the NULL-stratum fix in :func:`temperature_mix`).
    """
    gkey = _group_key(group, fallback_key, "grouped_split")
    df = df.withColumn("_gkey", gkey)
    return hash_split(df, "_gkey", fractions, salt, split_col).drop("_gkey")


def _group_key(
    group: Column | str, fallback_key: str | None, fn_name: str
) -> Column:
    """The shared NULL-group contract of :func:`grouped_split` and
    :func:`k_fold` (r4 review: one home, not two copies): raise on
    NULL groups without a fallback; with one, NULL-group rows key on a
    TAGGED stable row id (the tag makes a group whose string form
    equals an id collision-proof)."""
    g = F.col(group) if isinstance(group, str) else group
    if fallback_key is None:
        return F.when(
            g.isNull(),
            F.raise_error(
                F.lit(
                    f"{fn_name}: NULL group value and no fallback_key "
                    "given — pass a stable row-id column"
                )
            ),
        ).otherwise(g.cast("string"))
    return F.coalesce(
        g.cast("string"),
        F.concat(F.lit("\x00row:"), F.col(fallback_key).cast("string")),
    )


def k_fold(
    df: DataFrame,
    group: Column | str,
    k: int,
    fallback_key: str | None = None,
    salt: str = "fold-v1",
    fold_col: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment with GROUP cohesion (r4): every
    member of a group lands in the same fold — the cross-validation
    twin of :func:`grouped_split`, with the same leakage rationale
    (near-duplicates share a group; row-wise folds leak each fold's
    eval content into the others' training sets through those twins).

    Fold = ``pmod(xxhash64(salt, group), k)`` — a pure function of the
    group value, so re-runs, ingest growth, and partitioning never
    move an existing group between folds, and fold sizes converge to
    n/k by hash uniformity (exactness is impossible under the
    stability contract; exact-size folds would have to move groups as
    data grows). NULL-group handling mirrors :func:`grouped_split`:
    raise without ``fallback_key``, per-row tagged fallback with it.
    """
    if k < 2:
        raise ValueError("k_fold needs k >= 2")
    gkey = _group_key(group, fallback_key, "k_fold")
    return df.withColumn(
        fold_col,
        F.pmod(F.xxhash64(F.lit(salt), gkey), F.lit(k)).cast("int"),
    )


def sample_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int,
    salt: str = "sample-k-v1",
) -> DataFrame:
    """EXACTLY min(k, group size) rows per group, deterministically.

    ``stratified_sample`` draws a FRACTION per stratum — binomial row
    counts, wrong for "take 500 eval docs per language". This draws by
    rank of ``xxhash64(id, salt)`` within the group: content-keyed
    like every sampler here, so re-runs, growth (new rows displace old
    picks only by hash rank, never by arrival order), and cluster
    layout cannot move the sample. Bump ``salt`` for an independent
    redraw.

    Scale shape: the two-phase partial top-k reducer — each input
    partition reduces to ≤ k rows per group before the shuffle; the
    full group never gathers anywhere.
    """
    from geoestate_etl_spark.operators.topk import top_k_per_group_partial

    ranked = df.withColumn(
        "_rk", F.xxhash64(F.col(id_col).cast("string"), F.lit(salt))
    )
    # top-k by (-rank) == smallest hashes; id tiebreak for hash ties
    out = top_k_per_group_partial(
        ranked.withColumn("_neg", -F.col("_rk")), group_cols, "_neg", id_col, k
    )
    return out.drop("_rk", "_neg")


def epoch_shuffle(
    df: DataFrame,
    key: str,
    epoch: int,
    salt: str = "shuffle-v1",
    num_partitions: int | None = None,
    position_col: str | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle for one epoch.

    A training run wants a different pseudo-random document order every
    epoch, reproducible across restarts and cluster sizes. Sorting by
    ``xxhash64(key, salt, epoch)`` IS such a permutation: the order is
    a pure function of content key + epoch (restart-safe), and
    ``repartitionByRange`` on the hash realizes it as ordered output
    partitions — a parallel range shuffle, never a single-task global
    sort. Partition p's rows all precede partition p+1's, and rows are
    sorted within each partition, so a dataloader reading output files
    in index order sees the full permutation.

    ``position_col`` additionally materializes the explicit global
    position (1..N) via the scalable renumbering pattern (per-partition
    counts + broadcast offsets) for samplers that need to seek; leave
    it ``None`` to skip that extra pass. Hash ties (≈2⁻⁶⁴) break by
    ``key``, keeping even the tied order deterministic.
    """
    h = F.xxhash64(F.col(key).cast("string"), F.lit(salt), F.lit(int(epoch)))
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.withColumn("_shuf", h)
        .repartitionByRange(n, F.col("_shuf"), F.col(key))
        .sortWithinPartitions("_shuf", key)
    )
    if position_col is not None:
        from geoestate_etl_spark.operators.prefix import scalable_cumsum

        out = scalable_cumsum(
            out.withColumn("_one", F.lit(1)), "_shuf", "_one", position_col
        ).drop("_one")
    return out.drop("_shuf")


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
