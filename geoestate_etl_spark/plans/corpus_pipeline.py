"""End-to-end LLM training-corpus pipeline over a documents table.

The reference composes its ETL as a strictly linear task chain
(``dags/main.py:506-581``: ingest → validate → transform → analytics
→ serve). This plan is the same composition shape applied to the
training-data surface this engine adds on top: (optional) Unicode
normalization → quality gating → exact dedup → near-dup removal →
(optional) benchmark decontamination → PII scrub → token accounting →
sequence packing → (optional) checksummed shard write. One lineage,
one SparkSession, no driver loops.

Scale design (the parts that matter at 100 TB):

- **One projection, one aggregate for the gate funnel.** Stage gates
  are boolean columns computed in a single pass; their counts come
  from one ``sum(int)`` aggregation — not a ``count()`` action per
  stage (which would rescan the corpus N times).
- **Keeper-based dedup, never row-number-over-everything.** Exact
  dedup groups on the md5 fingerprint and keeps the min id; the
  survivor join shuffles on the fingerprint (uniformly distributed
  by construction — no skew). Near-dup removal reuses the banded
  MinHash-LSH pair generator (hot-bucket-capped, no cartesian) and
  the pointer-jumping connected-components resolver; losers leave
  via a left-anti join on id.
- **The expensive machinery runs on survivors only.** LSH shingling
  and signatures are computed after the cheap gates have dropped
  junk, not before.
- **Everything JVM-side.** Gates, fingerprints, scrubbing, and token
  counts are Column expressions (regexp/higher-order funcs); the
  only shuffles are the dedup groupBys/joins and the range partition
  inside the packing cumsum.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.text import (
    fingerprint_md5,
    lang_id,
    quality_score,
    repetition_ratios,
    scrub_pii,
    token_count,
)
from geoestate_etl_spark.operators.components import connected_components
from geoestate_etl_spark.operators.dedup import minhash_near_dups, minhash_signatures
from geoestate_etl_spark.operators.prefix import pack_sequences
from geoestate_etl_spark.stage import labelled, observed, on_error


@dataclass(frozen=True)
class CorpusResult:
    """Packed corpus + the stage funnel (rows surviving each stage).

    ``cached`` is the persisted survivor frame ``packed`` derives
    from; call :meth:`unpersist` when done with the result.
    """

    packed: DataFrame
    cached: DataFrame
    # funnel note: when a ``benchmark`` is supplied, decontamination
    # runs between near-dup removal and the scrub, so ``n_near_unique``
    # counts the post-decontamination survivors;
    # ``n_decontam_dropped`` says how many that step removed.
    n_input: int
    n_gated: int
    n_unseen: int
    n_exact_unique: int
    n_near_unique: int
    total_tokens: int
    n_chunks: int
    n_decontam_dropped: int = 0
    n_semantic_dropped: int = 0
    n_tokens_masked: int = 0
    n_spans_dropped: int = 0  # duplicated lines/paragraphs removed
    n_mix_selected: int | None = None  # rows surviving the budget mix
    shard_manifest: dict | None = None

    def unpersist(self) -> None:
        self.cached.unpersist()


def quality_gate(
    text_col: Column | str,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    max_dup_line_frac: float = 0.5,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
) -> Column:
    """The document admission predicate: token-length band, quality
    floor, repetition ceiling, language allowlist. Pure expression —
    pushes into the scan stage."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = token_count(c)
    return (
        (toks >= min_tokens)
        & (toks <= max_tokens)
        & (quality_score(c) >= min_quality)
        & (repetition_ratios(c)["dup_line_frac"] <= max_dup_line_frac)
        & lang_id(c).isin(*langs)
    )


def run_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_budget: int = 2048,
    jaccard_threshold: float = 0.7,
    gate: Column | None = None,
    seen: DataFrame | None = None,
    keeper: str = "min_id",
    normalize: bool = False,
    strip_html: bool = False,
    benchmark: DataFrame | None = None,
    decontam_ngram: int = 8,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.92,
    semantic_cells: int = 16,
    span_dedup_delimiter: str | None = None,
    span_dedup_min_chars: int = 1,
    mask_spans_ngram: int | None = None,
    mix_budgets: dict[str, int] | None = None,
    mix_domain_col: str = "lang",
    shards_path: str | None = None,
    rows_per_shard: int = 100_000,
    **near_dup_kwargs,
) -> CorpusResult:
    """Run the full corpus pipeline and report the funnel.

    ``seen`` makes the run incremental: a standing table of content
    fingerprints (column ``fp``) from previously ingested batches;
    gated rows whose fingerprint already exists leave via a left-anti
    join before the in-batch dedup stages, so processing stays
    O(batch), not O(history). History-aware *near*-dup removal would
    need the standing table to carry MinHash signatures too; near
    dups are found by this corpus-wide job's slower-cadence full
    re-cluster instead. Maintain the table by unioning in each run's
    distinct ``packed.fp``: the *raw-text* fingerprints computed during
    dedup, so a re-crawl of the same raw document matches even though
    the stored text is scrubbed.

    Three to five actions total: the span-drop count (only when
    ``span_dedup_delimiter`` is given — the span-dedup output is
    persisted so the downstream stages reuse it), the unseen count
    (only when ``seen`` is given — otherwise it equals the gate
    count), the two dedup-stage counts, and the final token/chunk
    aggregate (the survivor set is persisted before packing so the
    count doesn't recompute the LSH stage). The gate funnel
    (n_input / n_gated) costs NO action of its own: it rides the
    first downstream materialization via the Observation API — at
    corpus scale that deletes an entire input scan plus one full
    evaluation of the gate's interpreted repetition HOFs.
    """
    # spread BEFORE the interpreted stages: the gate's repetition HOFs,
    # markup regexes, and unicode repair don't codegen, and a small or
    # single-file source arrives as ONE partition (docs/TUNING.md
    # §traps). GUARDED (the multimodal rule): an already-spread
    # production input is left alone — collapsing a well-partitioned
    # corpus to local parallelism and reshuffling raw text would be a
    # regression at scale. The minhash stage re-spreads survivors.
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    if strip_html:
        # markup hygiene FIRST (stage zero of a web corpus): gates,
        # fingerprints, and shingles must see prose, not tag soup.
        # Routed per row — prose pays one cheap predicate, not five
        # markup regexes.
        from geoestate_etl_spark.functions.markup import (
            looks_like_markup,
            strip_markup,
        )

        df = df.withColumn(
            text_col,
            F.when(
                looks_like_markup(text_col), strip_markup(text_col)
            ).otherwise(F.col(text_col)),
        )
    if normalize:
        # encoding hygiene BEFORE gating/fingerprinting, so byte-level
        # variants of one text gate identically and dedup together
        from geoestate_etl_spark.functions.unicode_norm import normalize_unicode

        df = df.withColumn(text_col, normalize_unicode(text_col))
    gate = quality_gate(text_col) if gate is None else gate
    # the budget-mix stage needs its domain column to survive the
    # projection; everything else rides (id, text) only
    extra = [mix_domain_col] if mix_budgets is not None else []
    # gate funnel via Observation: counted WHILE the first downstream
    # action streams these rows, not by a dedicated agg pass (every
    # run_corpus path ends in at least the exact-stage count, so the
    # metrics are always available by the time the result is built)
    flagged, read_funnel = observed(
        df.select(F.col(id_col), F.col(text_col), *extra, gate.alias("_pass")),
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("_pass").cast("long")).alias("n_gated"),
    )
    gated = flagged.filter("_pass").drop("_pass")

    # every cache below is released when this block exits, on success
    # or failure, except ``clean``: the result hands it back
    with contextlib.ExitStack() as caches:
        # sub-document (line/paragraph) dedup FIRST among the content
        # stages, CCNet-style: boilerplate spans repeat across pages
        # even when documents don't, and every later stage
        # (fingerprints, shingles, token accounting) must see the
        # de-boilerplated text. Docs whose every span was a later
        # duplicate are dropped here — they carry zero novel content.
        n_spans_dropped = 0
        if span_dedup_delimiter is not None:
            from geoestate_etl_spark.operators.dedup import dedup_spans

            # persisted: the span count below is an eager action, and the
            # fingerprint/minhash stages re-consume the same rebuilt text —
            # without the cache the posexplode+rebuild would run twice
            despanned = dedup_spans(
                gated, text_col, id_col, span_dedup_delimiter, span_dedup_min_chars
            ).persist()
            caches.callback(despanned.unpersist)
            with labelled(spark, "corpus: span dedup"):
                n_spans_dropped = int(
                    despanned.agg(F.sum("n_spans_dropped")).first()[0] or 0
                )
            # drop docs with no non-whitespace content left: F.trim strips ONLY
            # spaces, so a doc rebuilt to pure structure (e.g. "\n") would
            # otherwise survive and be packed as zero-content tape
            gated = despanned.filter(
                F.length(F.regexp_replace(text_col, r"\s", "")) > 0
            ).drop("n_spans_dropped")

        with_fp = gated.withColumn("_fp", fingerprint_md5(text_col))
        if seen is not None:
            with_fp = with_fp.join(
                seen.select(F.col("fp").alias("_fp")), "_fp", "left_anti"
            )
            with labelled(spark, "corpus: unseen anti-join"):
                n_unseen = with_fp.count()
        else:
            n_unseen = None  # == n_gated; resolved from the observation below

        # exact dedup: min-id keeper per content fingerprint, as a window min
        # over the fingerprint partition — ONE shuffle of the batch
        # (fingerprint groups are duplicate families, tiny by nature, so the
        # per-group buffering is trivial) where the groupBy-keepers + equi-join
        # formulation shuffled the batch twice (measured 2× at sf0.1, r5)
        from pyspark.sql import Window

        exact, read_exact = observed(
            with_fp.withColumn(
                "_keep", F.min(id_col).over(Window.partitionBy("_fp"))
            )
            .filter(F.col(id_col) == F.col("_keep"))
            .withColumnRenamed("_fp", "fp")  # raw-text content address, kept
            .drop("_keep"),
            # funnel count rides the first materialization (same
            # Observation discipline as the gate counts above)
            F.count(F.lit(1)).alias("n_exact"),
        )
        # persisted: feeds the LSH pair generator, the survivor
        # anti-join, and the funnel count — three consumers, one
        # materialization
        exact = exact.persist()
        caches.callback(exact.unpersist)

        # near-dup removal: LSH pairs → components → drop non-keepers.
        # connected_components labels every paired node with the min id
        # reachable from it, so "loser" == any node whose label isn't
        # itself. Banding tuned for RECALL at the removal threshold: 24
        # hashes in 8 bands of 3 puts the S-curve midpoint at
        # (1/8)^(1/3) = 0.5, giving P(candidate) = 1-(1-j^3)^8 ≈ 0.97 at
        # j = 0.7 — the operator default (16 in 4) centers at 0.59 and
        # would miss a third of true pairs at this threshold. Candidate
        # false positives are removed by the exact-Jaccard rescore, so
        # looser banding costs rescore volume, not precision.
        near_dup_kwargs.setdefault("num_hashes", 24)
        near_dup_kwargs.setdefault("bands", 8)
        # CC consumes the pairs, so the signature cache minhash_near_dups
        # keeps can go with the others; Spark keys caches by plan, so
        # rebuilding that plan finds it
        keys = ("k_shingle", "num_hashes", "arrow")
        sig = {k: near_dup_kwargs[k] for k in keys if k in near_dup_kwargs}
        caches.callback(minhash_signatures(exact, text_col, id_col, **sig).unpersist)
        # ``stage`` names the last labelled stage that ran; masking and
        # the exact-count read have no label of their own and run under it
        stage = "corpus: minhash+cc+survivors"
        n_semantic_dropped = 0
        with labelled(spark, stage):
            pairs = minhash_near_dups(
                exact,
                text_col,
                id_col,
                jaccard_threshold=jaccard_threshold,
                **near_dup_kwargs,
            )
            cc = connected_components(pairs)
            if keeper == "min_id":
                losers = cc.filter(F.col("id") != F.col("component"))
            elif keeper == "quality":
                # keep the highest-quality member of each cluster (ties and
                # unscored → min id), the way production near-dup removal does
                scores = exact.select(
                    F.col(id_col).alias("id"), quality_score(text_col).alias("score")
                )
                ranked = cc.join(scores, "id", "left").withColumn(
                    "_rank",
                    F.struct(F.coalesce("score", F.lit(float("-inf"))), -F.col("id")),
                )
                keeps = ranked.groupBy("component").agg(
                    F.max_by("id", "_rank").alias("_keep")
                )
                losers = cc.join(keeps, "component").filter(
                    F.col("id") != F.col("_keep")
                )
            else:
                raise ValueError(
                    f"keeper must be 'min_id' or 'quality', got {keeper!r}"
                )
            survivors = exact.join(
                losers.select(F.col("id").alias(id_col)), id_col, "left_anti"
            )

            # semantic (embedding-space) dedup on the textually-deduped
            # survivors: SemDeDup removes paraphrases/translations that share
            # no shingles, so it runs AFTER the text tiers (cheap drops first)
            # and only over vectors the survivors still need. ``embeddings``
            # must carry (id_col, 'embedding'); docs without a vector pass
            # through untouched (coverage gaps must not silently drop data).
            if embeddings is not None:
                from geoestate_etl_spark.operators.semantic_dedup import (
                    cluster_embeddings,
                    semantic_dedup,
                )

                emb_surv = embeddings.join(survivors.select(id_col), id_col)
                # persisted for the same reason as media_pipeline's
                # clustered: the decisions plan references this subtree
                # ~8x (capped self-join sides, dropped distinct,
                # decisions rejoin) and every uncached occurrence re-runs
                # the ArrowEvalPython cell assignment (r9)
                clustered = (
                    cluster_embeddings(
                        emb_surv, n_cells=semantic_cells, id_col=id_col
                    )
                    .join(emb_surv, id_col)
                    .persist()
                )
                caches.callback(clustered.unpersist)
                _, decisions = semantic_dedup(
                    clustered, semantic_threshold, id_col=id_col
                )
                sem_dropped = (
                    decisions.filter(~F.col("kept")).select(id_col).persist()
                )
                caches.callback(sem_dropped.unpersist)
                stage = "corpus: semantic"
                with labelled(spark, stage):
                    n_semantic_dropped = sem_dropped.count()
                clustered.unpersist()
                survivors = survivors.join(sem_dropped, id_col, "left_anti")

        # exact-substring masking (Lee et al. 2022) on the deduped survivors:
        # spans repeated across surviving documents (licence boilerplate,
        # templates) are cut out of the text. Runs AFTER document-level dedup
        # (fewer docs to window-scan; a span shared only by dropped twins needs
        # no masking) and BEFORE decontamination/scrub/token accounting, which
        # must see the final text. n_tokens_masked rides the funnel.
        n_tokens_masked = 0
        if mask_spans_ngram is not None:
            from geoestate_etl_spark.operators.substr_dedup import (
                mask_repeated_spans,
            )

            survivors = mask_repeated_spans(
                survivors, id_col, text_col, n=mask_spans_ngram
            )
            with labelled(spark, stage):
                n_tokens_masked = (
                    survivors.agg(F.sum("n_masked")).first()[0] or 0
                )
            survivors = survivors.drop("n_masked")

        # benchmark decontamination on the deduped survivors, BEFORE the
        # scrub (scrubbing rewrites text; overlap is defined on content
        # as deduped). The flagged set is tiny -> one cheap extra action.
        n_decontam_dropped = 0
        if benchmark is not None:
            from geoestate_etl_spark.operators.decontam import contamination_report

            flagged_ids = (
                contamination_report(
                    survivors, benchmark, text_col, id_col, n=decontam_ngram
                )
                .select(F.col(id_col))
                .persist()
            )
            caches.callback(flagged_ids.unpersist)
            stage = "corpus: decontam"
            with labelled(spark, stage):
                n_decontam_dropped = flagged_ids.count()
            survivors = survivors.join(flagged_ids, id_col, "left_anti")

        # scrub + token accounting on the final survivor set only
        clean = survivors.withColumn(text_col, scrub_pii(text_col)).withColumn(
            "n_tokens", token_count(text_col)
        )
        clean = clean.persist()
        on_error(caches, clean.unpersist)
        # n_exact rides the cache materialization the CC stage already
        # forced (exact is persisted and fully computed by the time the
        # survivor anti-join ran) — no dedicated count job
        with labelled(spark, stage):
            n_exact = int(read_exact()["n_exact"])
        with labelled(spark, "corpus: scrub+count survivors"):
            n_near = clean.count()
        # clean is materialized now, so every upstream cache can go: the
        # drop-list persists only existed to keep their counts and the survivor
        # anti-joins on one computation each. Closing the stack also drops
        # clean's release-on-error, so it is armed again for the tail.
        caches.close()
        on_error(caches, clean.unpersist)

        # budget mixing LAST among the selection stages: budgets should
        # be met with clean, deduped, decontaminated documents, and the
        # token accounting the budgets consume must be the final
        # (scrubbed, masked) n_tokens the pack stage will lay on the tape
        n_mix_selected = None
        to_pack = clean
        if mix_budgets is not None:
            from geoestate_etl_spark.operators.sampling import (
                sample_to_token_budget,
            )

            to_pack = sample_to_token_budget(
                clean, mix_domain_col, "n_tokens", mix_budgets, id_col=id_col
            ).drop("domain_start")

        # cumsum bucketing sized from the MEASURED survivor count: at
        # bench/test scale one bucket packs in a single cheap window
        # (and skips the boundary-sampling job); growth re-engages the
        # distributed two-phase path at ~50k rows per bucket
        pack_parts = max(1, min(parallelism, n_near // 50_000 + 1))
        packed = pack_sequences(
            to_pack, id_col, "n_tokens", token_budget, num_partitions=pack_parts
        )
        with labelled(spark, "corpus: pack totals"):
            totals = packed.agg(
                F.sum("n_tokens").alias("toks"),
                (F.countDistinct("chunk_id")).alias("chunks"),
                F.count(F.lit(1)).alias("n_rows"),
            ).first()
        if mix_budgets is not None:
            n_mix_selected = int(totals["n_rows"])

        shard_manifest = None
        if shards_path is not None:
            from geoestate_etl_spark.sources.shards import write_shards

            shard_manifest = write_shards(
                packed, shards_path, rows_per_shard, order_col=id_col
            )

    # safe to read now: n_exact/n_near above were real actions over the
    # observed node, so the metrics row has been delivered
    funnel = read_funnel()
    return CorpusResult(
        packed=packed,
        cached=clean,
        n_input=funnel["n_input"],
        n_gated=funnel["n_gated"] or 0,
        n_unseen=(funnel["n_gated"] or 0) if n_unseen is None else n_unseen,
        n_exact_unique=n_exact,
        n_near_unique=n_near,
        total_tokens=totals["toks"] or 0,
        n_chunks=totals["chunks"],
        n_decontam_dropped=n_decontam_dropped,
        n_semantic_dropped=n_semantic_dropped,
        n_tokens_masked=n_tokens_masked,
        n_spans_dropped=n_spans_dropped,
        n_mix_selected=n_mix_selected,
        shard_manifest=shard_manifest,
    )
