"""Image–text paired corpus pipeline (r9 — VERDICT r8 #4): the VLM
training-data shape.

``plans/corpus_pipeline`` dedups text; ``plans/media_pipeline`` dedups
media. Real multimodal training data is (image, caption) PAIRS, and a
pair must leave when EITHER side duplicates a kept pair's — a
caption-duplicate with a fresh image is still a near-dup training
example, and vice versa. This plan composes the two engines' dedup
tiers over one keyed pair relation:

1. **Joint admission gate**: the image must decode (the Arrow media
   kernels — same decode pass that produces the stats AND the
   perceptual hash, one scan of the payload bytes) and the caption
   must pass the text quality gate (token band / quality floor /
   repetition ceiling / language allowlist, caption-sized defaults).
2. **Edge construction on skinny relations** — every duplication tier
   emits (id_a, id_b) edges over pair ids, never payloads:
   - image exact: same ``xxhash64(content)`` (byte-identical copy);
   - image re-encode: same decoded-stats fingerprint (same pixels,
     different bytes);
   - image perceptual: dHash Hamming-LSH pairs (resized / re-leveled
     copies — ``operators/phash``);
   - caption exact: same ``fingerprint_md5`` (byte-identical text);
   - caption near-dup: MinHash-LSH + exact-Jaccard rescore
     (``operators/dedup.minhash_near_dups``).
   Group tiers emit STAR edges (member → group-min) — one groupBy
   shuffle per tier, edge count = group size − 1, never quadratic.
3. **Union-closure election**: the edge union feeds
   ``operators/components.connected_components``; the min-pair-id
   member of each component survives. This is deliberately the
   CLOSURE semantics — a pair leaves if ANY chain of either-side
   duplications connects it to a smaller id (caption-dup of an
   image-dup of a kept pair is still dropped). Deterministic and
   order-free: no sequential scan over the corpus, the same election
   every other dedup tier in the engine uses.
4. **Paired shards**: survivors land as WebDataset tar shards whose
   members share the sample key — ``<key>.bin`` (image bytes),
   ``<key>.txt`` (caption), ``<key>.json`` (metadata) — and the
   checksummed manifest is re-verified immediately (the audit a
   training job runs before trusting the drop).

Funnel counts are exact integers predicted BEFORE the run by
``tests/paired_corpus_fixture.py`` (independent pure-Python dHash,
MinHash and union-find over the constructed corpus), pinned in
``tests/test_paired_pipeline.py``.

Scale shape: dedup decisions and CC iterate over (pair_id, hash)
relations a few dozen bytes wide; payload bytes are scanned once (the
decode) and re-enter once (the shard writer's single by-shard
exchange). The reference (GeoEstate-ETL) has no multimodal surface;
this is the engine's training-data extension tier.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geoestate_etl_spark.stage import labelled, observed, on_error

#: image decoded-stats columns, in fingerprint order (the media
#: pipeline's re-encode tier uses the same six; captions have no
#: audio members so the WAV stats are NULL throughout and only keep
#: image/audio fingerprints from colliding)
_STAT_COLS = ("n_px", "px_sum", "px_max", "n_samples", "pcm_sq_sum", "pcm_peak")


@dataclass(frozen=True)
class PairedCorpusResult:
    n_pairs: int
    n_gated: int  # pairs where the image decodes AND the caption passes
    n_unseen: int  # == n_gated when no standing state was given
    n_image_edges: int  # exact + re-encode + perceptual (diagnostic)
    n_text_edges: int  # caption exact + near-dup (diagnostic)
    n_joint_dropped: int  # union-closure election drops
    n_final: int
    shard_manifest: dict
    audit_ok: bool
    survivors: DataFrame

    def unpersist(self) -> None:
        self.survivors.unpersist()


#: The equality tiers as (window tag, key column). The two image tiers
#: keep DISTINCT tags: their 64-bit keys share one string space, so a
#: content hash equal to some stats fingerprint must not elect a root
#: across tiers. The first letter of a tag is the funnel side.
_EQ_TIERS = [("i1", "_chash"), ("i2", "_fp"), ("t", "_tfp")]


def _star_edges_tagged(
    df: DataFrame, tiers: list[tuple[str, str]], id_col: str
) -> DataFrame:
    """All equality tiers' (member → group-min) star edges in ONE
    window shuffle (r10 — guide §2.4): the (tag, key) pairs of every
    tier stack into one relation and a single ``min(id) over
    (partition by tag, key)`` window elects every tier's roots —
    tiers' key spaces are disjoint by the tag. Returns
    ``(tag, id_a, id_b)``; |edges| = Σ (group − 1) per tier, and the
    shuffled bytes are the Σ (key, id) rows of the per-tier windows in
    ONE exchange instead of one per tier. The groupBy-roots + equi-join
    formulation this replaces (r9) shuffled the relation twice and
    spawned a broadcast-future job per tier.

    Precondition: every key column must be non-null (all callers feed
    xxhash64 / md5-of-gated-non-null keys). The window would group all
    NULLs into one partition, where the old equi-join dropped them
    (r9 ADVICE)."""
    from pyspark.sql import Window

    stacked = None
    for tag, key_col in tiers:
        part = df.select(
            F.lit(tag).alias("_tag"),
            F.col(key_col).cast("string").alias("_key"),
            F.col(id_col),
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    w = Window.partitionBy("_tag", "_key")
    return (
        stacked.withColumn("_root", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("_root"))
        .select(
            F.col("_tag").alias("tag"),
            F.col("_root").alias("id_a"),
            F.col(id_col).alias("id_b"),
        )
    )


def run_paired_corpus(
    spark: SparkSession,
    pairs: DataFrame,
    shards_path: str,
    n_shards: int = 2,
    id_col: str = "pair_id",
    content_col: str = "content",
    caption_col: str = "caption",
    caption_gate: Column | None = None,
    jaccard_threshold: float = 0.7,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    text_bucket_cap: int = 256,
    perceptual_hamming: int | None = 6,
    perceptual_cap: int = 1024,
    seen_image_hashes: DataFrame | None = None,
    seen_caption_fps: DataFrame | None = None,
) -> PairedCorpusResult:
    """Run the paired pipeline; see the module docstring for stages.

    ``pairs`` carries one row per (image, caption) sample:
    ``id_col`` (long, unique), ``content_col`` (binary image payload),
    ``caption_col`` (string). ``caption_gate`` defaults to the corpus
    quality gate with caption-sized limits (min 3 tokens). The MinHash
    parameters are pinned here (not operator defaults) so the
    fixture's independent prediction cannot drift from the plan.

    ``seen_image_hashes`` (column ``chash``) and ``seen_caption_fps``
    (column ``fp``) make the run incremental across corpus drops: a
    gated pair leaves via a left-anti join when EITHER its image's
    content hash or its caption's fingerprint already exists in the
    standing corpus — the either-side semantics of the in-batch
    election, at the exact tiers. Processing stays O(batch); like the
    media pipeline's ``seen_hashes``, historical re-encodes /
    perceptual / near-dup twins are the in-batch tiers' job on a full
    re-cluster (history-aware NEAR-dup would need standing
    signatures). Maintain the tables by unioning in each run's
    distinct ``survivors._chash`` (as ``chash``) and
    ``fingerprint_md5(caption_col)`` of the survivors (as ``fp``).
    """
    from geoestate_etl_spark.functions.text import fingerprint_md5
    from geoestate_etl_spark.operators.components import (
        connected_components,
    )
    from geoestate_etl_spark.operators.dedup import (
        minhash_near_dups,
        minhash_signatures,
    )
    from geoestate_etl_spark.operators.multimodal import (
        decode_media_content,
    )
    from geoestate_etl_spark.operators.phash import phash_near_dups
    from geoestate_etl_spark.plans.corpus_pipeline import quality_gate
    from geoestate_etl_spark.sources.tar_shards import (
        verify_tar_shards,
        write_tar_shards,
    )

    if caption_gate is None:
        caption_gate = quality_gate(caption_col, min_tokens=3)

    with labelled(spark, "paired: input count"):
        n_pairs = pairs.count()

    # ONE decode pass over the payload bytes produces everything the
    # gate and every edge tier needs: stats + perceptual hash from the
    # pixels, with the JVM-computed content hash and the caption
    # riding the Arrow batch as passthrough columns — so the input
    # relation is scanned once here (not once per derived column) and
    # no join is needed to assemble the skinny relation: (pair_id,
    # content hash, six stat ints, phash, caption).
    skinny = decode_media_content(
        pairs.select(
            F.col(id_col).alias("media_id"),
            F.col(content_col),
            F.xxhash64(content_col).alias("_chash"),
            caption_col,
        ),
        passthrough=("_chash", caption_col),
    ).withColumnRenamed("media_id", id_col)

    # every cache below is released when this block exits, on success
    # or failure, except the returned survivor frame's, which only a
    # failure releases
    with contextlib.ExitStack() as caches:
        gated = skinny.filter(
            F.col("n_px").isNotNull() & caption_gate
        ).persist()
        caches.callback(gated.unpersist)
        with labelled(spark, "paired: gate (decode+quality)"):
            n_gated = gated.count()

        # incremental tier: pairs whose image payload OR caption already exists
        # in the standing corpus leave before any in-batch dedup work — two
        # O(batch) anti-joins against the standing keys
        if seen_image_hashes is not None or seen_caption_fps is not None:
            unseen = gated
            if seen_image_hashes is not None:
                unseen = unseen.join(
                    seen_image_hashes.select(
                        F.col("chash").alias("_chash")
                    ),
                    "_chash",
                    "left_anti",
                )
            if seen_caption_fps is not None:
                unseen = unseen.withColumn(
                    "_tfp0", fingerprint_md5(caption_col)
                ).join(
                    seen_caption_fps.select(F.col("fp").alias("_tfp0")),
                    "_tfp0",
                    "left_anti",
                ).drop("_tfp0")
            unseen = unseen.persist()
            caches.callback(unseen.unpersist)
            with labelled(spark, "paired: unseen anti-joins"):
                n_unseen = unseen.count()
            gated.unpersist()
            gated = unseen
        else:
            n_unseen = n_gated

        # --- edge tiers (all on the skinny relation) --- the three EQUALITY
        # tiers (image exact, image re-encode, caption exact) share ONE window
        # shuffle (r10 — guide §2.4): their (tag, key, id) rows stack into a
        # single min-over-partition window instead of one exchange per tier
        fp = F.xxhash64(
            *[F.coalesce(F.col(c), F.lit(-1)) for c in _STAT_COLS]
        )
        eq_edges = _star_edges_tagged(
            gated.withColumn("_fp", fp).withColumn(
                "_tfp", fingerprint_md5(caption_col)
            ),
            _EQ_TIERS,
            id_col,
        ).select(F.substring("tag", 1, 1).alias("_src"), "id_a", "id_b")
        captions = gated.select(id_col, caption_col)
        txt_near = (
            minhash_near_dups(
                captions,
                text_col=caption_col,
                id_col=id_col,
                k_shingle=k_shingle,
                num_hashes=num_hashes,
                bands=bands,
                jaccard_threshold=jaccard_threshold,
                max_bucket_size=text_bucket_cap,
            )
            .select("id_a", "id_b")
            .withColumn("_src", F.lit("t"))
        )
        # the edge cache below holds all that is needed of the signature
        # cache minhash_near_dups keeps; Spark keys caches by plan, so
        # rebuilding that plan finds it
        sigs = minhash_signatures(captions, caption_col, id_col, k_shingle, num_hashes)
        caches.callback(sigs.unpersist)
        edges_all = eq_edges.unionByName(txt_near)
        if perceptual_hamming is not None:
            img_perc = (
                phash_near_dups(
                    gated.select(id_col, "phash"),
                    id_col=id_col,
                    max_hamming=perceptual_hamming,
                    bucket_cap=perceptual_cap,
                )
                .select("id_a", "id_b")
                .withColumn("_src", F.lit("i"))
            )
            edges_all = edges_all.unionByName(img_perc)

        # diagnostic counts on the (tiny) edge relations: ONE tagged union
        # cache + ONE aggregation job computes both sides' counts (r9 — two
        # separate caches/count jobs before), and the CC stage consumes the
        # same cached union. The per-side dedup is ONE distinct over (_src,
        # id_a, id_b) — tags keep the sides disjoint, so this equals the r9
        # shape's two per-side distincts in a single exchange (r10).
        tagged_edges = edges_all.distinct().persist()
        caches.callback(tagged_edges.unpersist)
        with labelled(spark, "paired: image+text edges"):
            edge_counts = {
                r["_src"]: r["n"]
                for r in tagged_edges.groupBy("_src")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_image_edges = int(edge_counts.get("i", 0))
            n_text_edges = int(edge_counts.get("t", 0))

            # --- union-closure election ---
            # no distinct here (r10): connected_components symmetrizes
            # and dedups its edge input itself, so a pre-dedup exchange
            # of the cross-tier union bought nothing
            all_edges = tagged_edges.select("id_a", "id_b")
            drops = None
            if n_image_edges + n_text_edges > 0:
                drops = (
                    connected_components(all_edges)
                    .filter(F.col("id") != F.col("component"))
                    .select(F.col("id").alias(id_col))
                    .persist()
                )
                caches.callback(drops.unpersist)
        if drops is not None:
            with labelled(spark, "paired: cc election"):
                n_joint_dropped = drops.count()
            survivors_sk = gated.join(drops, id_col, "left_anti")
        else:
            n_joint_dropped = 0
            survivors_sk = gated
        # drops is now materialized, so the edge cache has served the CC
        tagged_edges.unpersist()

        # --- paired shards: bytes re-enter via ONE keeper equi-join ---
        survivors = (
            survivors_sk.join(pairs.select(id_col, content_col), id_col)
            .persist()
        )
        on_error(caches, survivors.unpersist)
        # the final funnel count rides the shard write's
        # materialization of the survivor cache via the Observation API
        # — no dedicated count job (r10; the corpus n_exact discipline).
        # The write is the action that populates the cache either way.
        to_shard, read_final = observed(
            survivors, F.count(F.lit(1)).alias("n_final")
        )
        to_shard = to_shard.select(
            F.format_string("%016x", F.col(id_col)).alias("key"),
            F.col(content_col),
            F.col(caption_col),
            F.to_json(
                F.struct(F.col(id_col), "format", *_STAT_COLS)
            ).alias("_meta"),
        )
        with labelled(spark, "paired: shard write"):
            manifest = write_tar_shards(
                to_shard,
                shards_path,
                n_shards,
                member_cols={
                    "bin": content_col,
                    "txt": caption_col,
                    "json": "_meta",
                },
            )
        with labelled(spark, "paired: audit"):
            audit = verify_tar_shards(spark, shards_path)
            audit_ok = audit.filter(~F.col("ok")).limit(1).count() == 0
        with labelled(spark, "paired: final count"):
            n_final = int(read_final()["n_final"])
        # survivors is materialized (shard write) — the upstream caches
        # are released as the block exits
    return PairedCorpusResult(
        n_pairs=n_pairs,
        n_gated=n_gated,
        n_unseen=n_unseen,
        n_image_edges=n_image_edges,
        n_text_edges=n_text_edges,
        n_joint_dropped=n_joint_dropped,
        n_final=n_final,
        shard_manifest=manifest,
        audit_ok=audit_ok,
        survivors=survivors,
    )
