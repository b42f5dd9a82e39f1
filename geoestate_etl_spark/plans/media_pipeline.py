"""End-to-end multimodal training-data pipeline (r8 — VERDICT r7 #4):
the media twin of ``plans/corpus_pipeline``.

Composition, landing zone to training shards, one engine:

1. **Streaming ingest** (``streaming/media_ingest.media_stats_stream``,
   ``Trigger.AvailableNow``): the landing directory's NEW files are
   decoded exactly once through the Arrow-batched media kernels and
   land as a per-file content-stats parquet behind the file sink's
   atomic manifest. Re-running with the same checkpoint decodes only
   files that arrived since — the incremental catch-up deployment.
2. **Decodability gate**: the batch listing (``binaryFile`` +
   ``sources/binary_source.media_table``) joins the decoded stats on
   ``media_id``; files every kernel refused (no pixel AND no sample
   stats) are dropped — crawl junk never reaches the dedup tiers.
3. **Exact dedup**: min-``media_id`` keeper per ``xxhash64(content)``
   — byte-identical copies land under different paths all the time
   (mirrors, re-crawls). One window over the content hash.
4. **Decoded-content dedup** (the media near-dup tier): keeper per
   fingerprint of the DECODED statistics (pixel count/sum/max, sample
   count/energy/peak). Catches re-encodes — same image, different
   bytes (chunking, compression level) — the way text span/near-dup
   tiers catch boilerplate. Exact integers end to end, so the
   fingerprint is deterministic and engine-portable.
4b. **Perceptual near-dup tier** (r9): a 64-bit integer dHash over
   the decoded pixels — computed INSIDE the ingest decode pass, so it
   costs zero extra reads of payload bytes — catches resized and
   re-leveled copies that tiers 3-4 cannot (different pixel
   counts/sums, same gradient structure). Banded Hamming LSH
   (complete for distance ≤ 6 by pigeonhole over 8 bands) + exact
   ``bit_count(xor)`` rescore + connected components; min-``media_id``
   keeper per perceptual cluster. See ``operators/phash.py``.
5. **Semantic dedup**: ``embed_media_stub`` (deterministic
   content-derived pseudo-embeddings — the model forward pass is the
   documented stub, the Spark plumbing is production-shaped) →
   ``cluster_embeddings`` → ``semantic_dedup``. With the stub,
   byte-distinct survivors give independent unit vectors, so this
   stage is a verified NEGATIVE control (predicted drop count: 0);
   with a real encoder the same plan drops perceptual twins.
6. **Shard write + audit**: survivors land as WebDataset tar shards
   (``sources/tar_shards.write_tar_shards`` — payload bytes plus a
   JSON meta member per sample) and the checksummed manifest is
   immediately re-verified (``verify_tar_shards``), the audit a
   training job runs before trusting a corpus drop.

The funnel counts are exact integers a fixture can PREDICT before the
run (``tests/media_corpus_fixture.py`` does, and
``tests/test_media_pipeline_e2e.py`` pins prediction == observation).

The reference (GeoEstate-ETL) has no media surface; this composes the
engine's training-data extension tier. Scale shape: every dedup
decision runs on a SKINNY (id, content-hash, stats) relation — the
payload bytes are scanned to hash and embed them but never enter a
dedup shuffle; they re-enter through one keeper equi-join and cross
exactly one wide exchange (the shard writer's by-shard hash). No
cartesian anywhere; the cell self-join is capped.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoestate_etl_spark.stage import labelled, observed, on_error


@dataclass(frozen=True)
class MediaCorpusResult:
    n_files: int
    n_stale: int  # listed files whose stored decode hash ≠ current bytes
    n_decodable: int
    n_unseen: int  # == n_decodable when no standing table was given
    n_exact_unique: int
    n_content_unique: int
    n_perceptual_dropped: int  # resized/re-leveled copies (dHash tier)
    n_semantic_dropped: int
    n_final: int
    shard_manifest: dict
    audit_ok: bool
    survivors: DataFrame

    def unpersist(self) -> None:
        self.survivors.unpersist()


def run_media_corpus(
    spark: SparkSession,
    landing_dir: str,
    work_dir: str,
    n_shards: int = 2,
    perceptual_hamming: int | None = 6,
    perceptual_cap: int = 1024,
    semantic_threshold: float = 0.92,
    semantic_cells: int = 8,
    embed_dim: int = 64,
    glob: str | None = None,
    stream_timeout_s: int = 300,
    seen_hashes: DataFrame | None = None,
) -> MediaCorpusResult:
    """Run the full media pipeline; see module docstring for stages.

    ``seen_hashes`` makes the run incremental across corpus drops: a
    standing table of content hashes (column ``chash``) from
    previously ingested batches — decodable files whose payload hash
    already exists leave via a left-anti join before the in-batch
    dedup tiers, so processing stays O(batch), not O(history).
    Maintain the table by unioning in each run's distinct
    ``survivors._chash`` (as ``chash``): a re-crawl of a byte-identical
    payload matches regardless of path or landing time; dropped
    re-encodes carry different bytes and are re-dropped by the content
    tier instead.
    """
    from geoestate_etl_spark.operators.multimodal import embed_media_stub
    from geoestate_etl_spark.operators.semantic_dedup import (
        cluster_embeddings,
        semantic_dedup,
    )
    from geoestate_etl_spark.sources.binary_source import media_table
    from geoestate_etl_spark.sources.tar_shards import (
        verify_tar_shards,
        write_tar_shards,
    )
    from geoestate_etl_spark.streaming.media_ingest import (
        MEDIA_STATS_SINK_SCHEMA,
        media_stats_stream,
    )

    stats_path = os.path.join(work_dir, "stats")
    checkpoint = os.path.join(work_dir, "_checkpoint")
    shards_path = os.path.join(work_dir, "shards")
    stat_cols = ["n_px", "px_sum", "px_max", "n_samples", "pcm_sq_sum", "pcm_peak"]

    # 1. streaming ingest: exactly-once decode of files not yet seen
    #    by this checkpoint (AvailableNow = catch-up then stop)
    with labelled(spark, "media: 1 ingest stream"):
        q = media_stats_stream(
            spark, landing_dir, stats_path, checkpoint, glob=glob,
            available_now=True,
        )
        if not q.awaitTermination(stream_timeout_s):
            q.stop()
            raise TimeoutError(
                f"media ingest stream did not drain in {stream_timeout_s}s"
            )
        # explicit schema: a catch-up pass that found NOTHING new (empty
        # landing dir, or every file already consumed by this checkpoint into
        # this stats table) leaves a data-file-less sink dir that schema
        # inference cannot read — the nothing-new case must yield a zero
        # funnel, not an AnalysisException (r8 review finding)
        stats = spark.read.schema(MEDIA_STATS_SINK_SCHEMA).parquet(stats_path)

        # 2. decodability gate over the batch listing + decoded stats.
        #    DEDUP DECISIONS RUN ON A SKINNY RELATION: (media_id,
        #    content hash, decoded stats) — the payload bytes are
        #    scanned once to hash them but NEVER enter a dedup shuffle.
        #    At 100 TB, moving media bytes through groupBy exchanges is
        #    the scale-killer; bytes re-enter only at the end, via one
        #    keeper equi-join feeding the shard writer's single
        #    by-shard exchange.
        reader = spark.read.format("binaryFile")
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        media = media_table(
            reader.option("recursiveFileLookup", "true").load(landing_dir)
        )
    # the listing count rides the decodable gate's materialization of
    # this same scan via the Observation API (r10) — observed ABOVE
    # the stats join, so every listed row is counted exactly like the
    # old dedicated media.count() job this replaces
    listed, read_files = observed(
        media.select(
            "media_id",
            "source_path",
            "n_bytes",
            F.xxhash64("content").alias("_chash"),
        ),
        F.count(F.lit(1)).alias("n_files"),
    )
    # stale-stats guard: the file-stream checkpoint never re-reads a
    # path it consumed, so a landing file MODIFIED IN PLACE pairs its
    # fresh listing bytes with the old decode. The ingest sink stores
    # the hash of the bytes it actually decoded (r8 ADVICE); rows
    # whose stored hash no longer matches the listing's are flagged
    # out here rather than silently gated/deduped on stale stats.
    # (NULL stored hash = legacy sink rows, trusted as-was.)
    skinny, read_stale = observed(
        listed.join(stats, "media_id"),
        F.sum(
            (
                F.col("chash").isNotNull()
                & (F.col("chash") != F.col("_chash"))
            ).cast("long")
        ).alias("n_stale"),
    )
    skinny = skinny.filter(
        F.col("chash").isNull() | (F.col("chash") == F.col("_chash"))
    )

    # every cache below is released when this block exits, on success
    # or failure, except the returned survivor frame's, which only a
    # failure releases
    with contextlib.ExitStack() as caches:
        decodable = skinny.drop("chash").filter(
            F.greatest(*[F.col(c).isNotNull() for c in stat_cols])
        ).persist()
        caches.callback(decodable.unpersist)
        with labelled(spark, "media: 2 decodable gate"):
            n_decodable = decodable.count()
            # a recount (empty metrics row) runs under its own label
            with labelled(spark, "media: 2 listing count"):
                n_files = int(read_files()["n_files"])
            n_stale = int(read_stale()["n_stale"] or 0)

        # incremental tier: payloads already in the standing corpus
        # leave before any in-batch dedup work (content-addressed — a
        # re-crawl under a new path matches its hash)
        if seen_hashes is not None:
            decodable_new = decodable.join(
                seen_hashes.select(F.col("chash").alias("_chash")),
                "_chash",
                "left_anti",
            ).persist()
            caches.callback(decodable_new.unpersist)
            with labelled(spark, "media: 2b unseen anti-join"):
                n_unseen = decodable_new.count()
            decodable.unpersist()
            decodable = decodable_new
        else:
            n_unseen = n_decodable

        # 3. exact dedup: min-id keeper per content hash (skinny
        #    groupBy; the stats are byte-determined, so min() per group
        #    is exact). The tier's funnel count rides content_unique's
        #    materialization via the Observation API — no dedicated
        #    count job (the same discipline as corpus_pipeline's
        #    n_exact)
        # phash rides the keeper election as metadata: it is byte-determined
        # (decoded pixels), so every exact-group member shares it, and the
        # content-tier keeper's hash represents its group
        meta_cols = ["source_path", "n_bytes", "format", "phash", *stat_cols]
        exact, read_exact = observed(
            decodable.groupBy("_chash").agg(
                F.min("media_id").alias("media_id"),
                *[F.min_by(c, "media_id").alias(c) for c in meta_cols],
            ),
            F.count(F.lit(1)).alias("n_exact"),
        )

        # 4. decoded-content dedup (re-encode tier): keeper per
        #    fingerprint of the exact decoded statistics. NULLs are
        #    coalesced to a sentinel — xxhash64 SKIPS null inputs, so an
        #    image row (a,b,c,∅,∅,∅) and an audio row (∅,∅,∅,a,b,c)
        #    would otherwise hash identically
        fp = F.xxhash64(*[F.coalesce(F.col(c), F.lit(-1)) for c in stat_cols])
        content_unique = (
            exact.withColumn("_fp", fp)
            .groupBy("_fp")
            .agg(
                F.min("media_id").alias("media_id"),
                # keeper's content hash rides along as ``_chash``: it
                # feeds the standing seen_hashes table for incremental drops
                F.min_by("_chash", "media_id").alias("_chash"),
                *[F.min_by(c, "media_id").alias(c) for c in meta_cols],
            )
            .drop("_fp")
            .persist()
        )
        caches.callback(content_unique.unpersist)
        # ``stage`` names the last labelled stage that ran; the semantic
        # stage's clustering jobs run under it
        stage = "media: 3-4 exact+content dedup"
        with labelled(spark, stage):
            n_content_unique = content_unique.count()
            n_exact_unique = int(read_exact()["n_exact"])
        decodable.unpersist()

        # 4b. perceptual near-dup tier (r9 — VERDICT r8 #1): resized or
        #     re-leveled copies carry different pixel counts/sums (so
        #     they survive tiers 3-4) but the SAME gradient structure —
        #     the 64-bit dHash computed in the ingest decode pass (zero
        #     extra byte reads) finds them via a banded Hamming join on
        #     this same skinny relation; transitive groups collapse
        #     through connected components and the min-media_id keeper
        #     survives, the same election every other tier uses. Audio
        #     rows (NULL phash) pass through untouched.
        keep = content_unique
        n_perceptual_dropped = 0
        if perceptual_hamming is not None and n_content_unique > 1:
            from geoestate_etl_spark.operators.components import (
                connected_components,
            )
            from geoestate_etl_spark.operators.phash import phash_near_dups

            ppairs = phash_near_dups(
                content_unique.select("media_id", "phash"),
                id_col="media_id",
                max_hamming=perceptual_hamming,
                bucket_cap=perceptual_cap,
            )
            # CC directly: its first action materializes the pair plan
            # and its small-graph tier solves tiny edge sets on the
            # driver, so the old any-pairs probe job (limit(1).count)
            # bought nothing the election doesn't already do (r9)
            stage = "media: 4b phash pairs + cc"
            with labelled(spark, stage):
                pdrops = (
                    connected_components(ppairs)
                    .filter(F.col("id") != F.col("component"))
                    .select(F.col("id").alias("media_id"))
                    .persist()
                )
                caches.callback(pdrops.unpersist)
                n_perceptual_dropped = pdrops.count()
                if n_perceptual_dropped:
                    keep = content_unique.join(
                        pdrops, "media_id", "left_anti"
                    ).persist()
                    caches.callback(keep.unpersist)
            pdrops.unpersist()

        # bytes rejoin for the embed + shard stages: one keeper
        # equi-join (AQE broadcasts the skinny side at small scale). In
        # the zero-survivor branch below it is the returned frame, so
        # only a failure releases it there.
        with_bytes = keep.join(
            media.select("media_id", "content"), "media_id"
        ).persist()
        on_error(caches, with_bytes.unpersist)

        # 5. semantic dedup over survivor embeddings. The embed kernel's
        #    output is persisted: the k-means build ITERATES over it (5
        #    rounds) and the cell self-join reads it twice — without the
        #    cache every round re-runs the Arrow embed pass over the
        #    payload bytes. Skipped on an empty survivor set (the
        #    nothing-new catch-up case): k-means needs ≥1 vector.
        if n_content_unique > 0:
            with labelled(spark, stage):
                emb = embed_media_stub(
                    with_bytes, dim=embed_dim, id_col="media_id"
                ).persist()
                caches.callback(emb.unpersist)
                # clustered is persisted because the decisions plan references
                # it ~8 times (the capped self-join's two sides, the dropped
                # distinct, the decisions rejoin): uncached, every occurrence
                # re-ran the ArrowEvalPython cell-assignment over emb and the
                # broadcast subtrees raced 3 concurrent re-executions of the
                # embed lineage (measured 8-10s per subtree job at sf-bench,
                # ~30s of the media line). One cache entry of (id, cell,
                # embedding) — bounded per key — serves all of them (r9; guide
                # §4 eliminate duplicated Python eval, TUNING persist rules).
                clustered = (
                    cluster_embeddings(
                        emb, n_cells=semantic_cells, id_col="media_id"
                    )
                    .join(emb, "media_id")
                    .persist()
                )
                caches.callback(clustered.unpersist)
                _, decisions = semantic_dedup(
                    clustered, semantic_threshold, id_col="media_id"
                )
                sem_dropped = (
                    decisions.filter(~F.col("kept")).select("media_id").persist()
                )
                caches.callback(sem_dropped.unpersist)
            with labelled(spark, "media: 5 semantic"):
                n_semantic_dropped = sem_dropped.count()
            clustered.unpersist()
            emb.unpersist()
            survivors = with_bytes.join(
                sem_dropped, "media_id", "left_anti"
            ).persist()
            on_error(caches, survivors.unpersist)
            caches.callback(with_bytes.unpersist)
        else:
            n_semantic_dropped = 0
            survivors = with_bytes

        # 6. training shards + audit readback. The final funnel count
        #    rides the shard write's materialization of the survivor
        #    cache via the Observation API (r10) — no dedicated count
        #    job.
        to_shard, read_final = observed(
            survivors, F.count(F.lit(1)).alias("n_final")
        )
        to_shard = to_shard.select(
            F.format_string("%016x", F.col("media_id")).alias("key"),
            "content",
            F.to_json(
                F.struct("source_path", "format", "n_bytes", *stat_cols)
            ).alias("meta"),
        )
        with labelled(spark, "media: 6 shard write"):
            manifest = write_tar_shards(
                to_shard, shards_path, n_shards,
                member_cols={"bin": "content", "json": "meta"},
            )
        with labelled(spark, "media: 6 audit"):
            audit = verify_tar_shards(spark, shards_path)
            audit_ok = audit.filter(~F.col("ok")).limit(1).count() == 0
        with labelled(spark, "media: final count"):
            n_final = int(read_final()["n_final"])
    return MediaCorpusResult(
        n_files=n_files,
        n_stale=n_stale,
        n_decodable=n_decodable,
        n_unseen=n_unseen,
        n_exact_unique=n_exact_unique,
        n_content_unique=n_content_unique,
        n_perceptual_dropped=n_perceptual_dropped,
        n_semantic_dropped=n_semantic_dropped,
        n_final=n_final,
        shard_manifest=manifest,
        audit_ok=audit_ok,
        survivors=survivors,
    )
