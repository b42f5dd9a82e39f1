"""End-to-end corpus pipeline: planted junk, exact dups, near-dup
clusters, and PII must each be handled by the right stage, and the
funnel numbers must account for every document."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.plans.corpus_pipeline import quality_gate, run_corpus
from tests.pipeline_trace import tracing

#: 41 English words with stopwords — passes every gate comfortably.
GOOD = (
    "the quick brown fox jumps over the lazy dog and then runs across "
    "the wide green field while the farmer watches from the old wooden "
    "gate as the evening sun slowly sets behind the distant hills of "
    "the quiet valley"
)

#: Distinct prose (near-zero shingle overlap with GOOD).
OTHER = (
    "a small ship sailed out of the harbor and into the open sea where "
    "tall waves rolled under a grey sky and the young captain checked "
    "the charts twice before setting a new course toward the islands "
    "far beyond the horizon"
)

#: Another distinct document, carrying PII to scrub.
PII_DOC = (
    "please review the draft of the annual report and send a note with "
    "your comments before the end of the week because the board is "
    "meeting soon and the schedule is tight "
    "contact me at alice@example.com or https://example.com/a"
)


def _corpus(spark):
    near_a = GOOD + " tonight"
    near_b = GOOD + " today"
    rows = [
        # near-dup cluster {1, 4, 5, 6} — GOOD plus one-word suffixes
        # all land well above jaccard 0.7; keeper is min id 1
        (1, GOOD),
        # exact dups of 1 (whitespace/normalization variants)
        (2, "  " + GOOD + "  "),
        (3, GOOD.replace("  ", " ").replace(" ", "  ")),
        (4, near_a),
        (5, near_b),
        (6, near_a + "."),
        # junk: too short
        (7, "hi there"),
        # junk: disallowed language (CJK -> zh)
        (8, "漢字 " * 30),
        # junk: repeated lines beyond the dup_line_frac ceiling
        (9, "the same line again and again and again\n" * 20),
        # genuine survivors
        (10, OTHER),
        (11, PII_DOC),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def traced_result(spark):
    with tracing(spark) as trace:
        res = run_corpus(_corpus(spark), token_budget=64)
    return res, trace


@pytest.fixture(scope="module")
def result(traced_result):
    return traced_result[0]


def test_funnel_accounts_for_every_stage(result):
    assert result.n_input == 11
    # gates drop 7 (short), 8 (lang), 9 (repetition)
    assert result.n_gated == 8
    # exact dedup collapses {1,2,3} -> 1
    assert result.n_exact_unique == 6
    # near-dup removal collapses {1,4,5,6} -> 1
    assert result.n_near_unique == 3


def test_keepers_are_min_ids(result):
    ids = {r.doc_id for r in result.packed.select("doc_id").collect()}
    assert ids == {1, 10, 11}


def test_pii_scrubbed_in_output(result):
    leaked = result.packed.filter(
        F.col("text").contains("alice@example.com")
        | F.col("text").contains("https://example.com/a")
    )
    assert leaked.count() == 0
    scrubbed = result.packed.filter(F.col("doc_id") == 11).first()["text"]
    assert "<EMAIL>" in scrubbed and "<URL>" in scrubbed


def test_packing_is_a_valid_tape(result):
    rows = sorted(
        result.packed.select("doc_id", "n_tokens", "chunk_id", "chunk_offset").collect(),
        key=lambda r: (r.chunk_id, r.chunk_offset),
    )
    pos = 0
    for r in rows:
        assert r.chunk_id * 64 + r.chunk_offset == pos, r
        pos += r.n_tokens
    assert result.total_tokens == sum(r.n_tokens for r in rows)
    assert result.n_chunks == len({r.chunk_id for r in rows})


def test_incremental_batch_dedups_against_history(spark, result):
    """Batch 2 re-crawls two batch-1 documents (one of them the PII doc,
    whose *stored* text is scrubbed — the raw-text fingerprint must
    still match) plus one genuinely new document: only the new one
    survives, and processing never rescans batch 1."""
    new_doc = (
        "deep in the forest a narrow path wound between tall pines and "
        "mossy stones where the light fell in long green stripes and the "
        "only sound was the wind moving slowly through the high branches "
        "of the silent trees"
    )
    batch2 = spark.createDataFrame(
        [(100, GOOD), (101, PII_DOC), (102, new_doc)], ["doc_id", "text"]
    )
    res2 = run_corpus(batch2, token_budget=64, seen=result.packed.select("fp").distinct())
    assert res2.n_input == 3 and res2.n_gated == 3
    assert res2.n_unseen == 1
    assert {r.doc_id for r in res2.packed.select("doc_id").collect()} == {102}
    res2.unpersist()


def test_quality_keeper_prefers_best_copy(spark):
    """keeper='quality' keeps the highest-quality cluster member (the
    longer document here), not the smallest id."""
    a = GOOD + " tonight"
    b = GOOD + " tonight while the cold wind blows in from the north"
    df = spark.createDataFrame([(20, a), (21, b)], ["doc_id", "text"])
    res = run_corpus(df, token_budget=64, keeper="quality")
    assert {r.doc_id for r in res.packed.select("doc_id").collect()} == {21}
    res.unpersist()
    # same corpus under the default keeps min id
    res2 = run_corpus(df, token_budget=64)
    assert {r.doc_id for r in res2.packed.select("doc_id").collect()} == {20}
    res2.unpersist()
    with pytest.raises(ValueError):
        run_corpus(df, keeper="longest")


def test_gate_is_a_pure_pushable_expression(spark):
    """The gate compiles into the scan-side filter (no shuffle, no UDF)."""
    df = _corpus(spark).filter(quality_gate("text"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_full_hygiene_run_normalize_decontam_shards(spark, tmp_path):
    """The composed end-to-end: Unicode normalization unifies a
    mojibake variant into the exact-dedup stage, benchmark
    decontamination drops the leaked doc, and the packed output lands
    in verified shards."""
    from geoestate_etl_spark.sources.shards import verify_shards

    rows = [
        (1, GOOD),
        # mojibake + zero-width variant of GOOD: only exact-dups with
        # normalize=True (caf\xc3\xa9-style UTF-8-as-cp1252 is absent
        # here, but zero-width + NBSP break the md5 without repair)
        (2, GOOD.replace(" ", "\xa0", 3) + "​"),
        (10, OTHER),
        (11, PII_DOC),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame([(100, OTHER)], ["doc_id", "text"])

    shards = str(tmp_path / "shards")
    res = run_corpus(
        docs,
        normalize=True,
        benchmark=bench,
        shards_path=shards,
        rows_per_shard=2,
        jaccard_threshold=0.7,
    )
    try:
        kept = {r.doc_id for r in res.packed.select("doc_id").collect()}
        # 2 exact-dedups into 1 (normalization), OTHER decontaminated
        assert kept == {1, 11}
        assert res.n_exact_unique == 3          # {1, 10, 11}
        assert res.n_decontam_dropped == 1      # OTHER
        assert res.n_near_unique == 2
        assert res.shard_manifest["total_rows"] == 2
        rep = verify_shards(spark, shards).collect()
        assert rep and all(r.rows_match and r.checksum_match for r in rep)

        # without normalization the variant survives as its own doc
        res2 = run_corpus(docs, benchmark=bench, jaccard_threshold=0.7)
        try:
            # near-dup LSH may or may not merge the variant (word
            # shingles are NBSP-mangled) — but exact dedup must NOT
            assert res2.n_exact_unique == 4
        finally:
            res2.unpersist()
    finally:
        res.unpersist()


def test_semantic_dedup_stage_drops_planted_paraphrase(spark):
    """Docs 1 and 10 share no shingles (text tiers keep both) but get
    near-identical planted embeddings — the semantic stage must drop
    the larger id and count it; doc 11's distinct vector and the
    vectorless coverage gap pass through untouched."""
    docs = _corpus(spark)
    base = [1.0, 0.2, -0.3, 0.7]
    emb = spark.createDataFrame(
        [
            (1, base),
            (10, [v + 0.001 for v in base]),  # paraphrase of 1
            # doc 11 intentionally has NO embedding (coverage gap)
        ],
        "doc_id long, embedding array<float>",
    )
    # semantic_cells=1: with 2 surviving vectors, k-means at k=2 would
    # seed the planted pair as two separate centroids (k ~ n degenerate
    # case); production sizing is cells ∝ N/occupancy
    res = run_corpus(
        docs, embeddings=emb, semantic_threshold=0.95, semantic_cells=1
    )
    ids = {r.doc_id for r in res.cached.select("doc_id").collect()}
    assert res.n_semantic_dropped == 1
    assert 10 not in ids
    assert {1, 11} <= ids
    res.unpersist()


def test_semantic_stage_off_by_default(spark):
    """No embeddings argument -> stage disabled, counter zero (exact
    backwards compatibility with the r2/r3 pipeline)."""
    res = run_corpus(_corpus(spark))
    assert res.n_semantic_dropped == 0
    res.unpersist()


def test_mask_spans_stage_cuts_cross_doc_boilerplate(spark):
    """With mask_spans_ngram set, boilerplate shared across surviving
    docs is cut before token accounting; the funnel reports it."""
    boiler = (
        "all rights reserved redistribution of this text is strictly "
        "prohibited without permission"
    )  # 12 tokens
    rows = [
        (1, GOOD + " " + boiler),
        (2, OTHER + " " + boiler),
        (3, PII_DOC),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    res = run_corpus(docs, id_col="doc_id", text_col="text", mask_spans_ngram=12)
    assert res.n_tokens_masked == 24  # 12 tokens cut from each of docs 1,2
    texts = {r.doc_id: r.text for r in res.cached.collect()}
    assert "prohibited" not in texts[1] and "prohibited" not in texts[2]
    assert res.n_near_unique == 3  # masking cut text, not documents
    # token accounting saw the POST-mask text
    assert res.total_tokens == sum(r.n_tokens for r in res.cached.collect())
    res.unpersist()

    # without the stage, nothing is cut
    res2 = run_corpus(docs, id_col="doc_id", text_col="text")
    assert res2.n_tokens_masked == 0
    assert "prohibited" in {r.doc_id: r.text for r in res2.cached.collect()}[1]
    res2.unpersist()


def test_strip_html_stage_routes_markup_only(spark):
    """strip_html=True: markup docs reduce to prose before gating and
    dedup (an HTML twin of a plain doc dedups with it); plain prose
    is byte-untouched."""
    # every word tag-wrapped: raw form cannot dedup against the plain
    # doc (every shingle is tag-glued); stripped form is
    # byte-identical prose to GOOD
    html_twin = (
        "<html><head><style>b { x }</style></head><body><p>"
        + GOOD.replace(" ", "</p> <p>")
        + "</p></body></html>"
    )
    docs = spark.createDataFrame(
        [(1, GOOD), (2, html_twin), (3, OTHER)], ["doc_id", "text"]
    )
    res = run_corpus(docs, id_col="doc_id", text_col="text", strip_html=True)
    assert res.n_gated == 3          # stripped twin passes the gate...
    kept = {r.doc_id for r in res.cached.collect()}
    assert kept == {1, 3}            # ...then EXACT-dedups against doc 1
    res.unpersist()

    res2 = run_corpus(docs, id_col="doc_id", text_col="text")
    # without stripping, the twin slips past dedup as a "distinct" doc
    # and its markup pollutes the corpus — the failure mode the stage
    # exists to prevent
    texts2 = {r.doc_id: r.text for r in res2.cached.collect()}
    assert set(texts2) == {1, 2, 3} and "<p>" in texts2[2]
    res2.unpersist()


@pytest.mark.slow  # r10 verify-window tier (every-stage e2e; each stage pinned singly by fast tests)
def test_every_stage_on_at_once(spark, tmp_path):
    """The everything-on run: strip_html + normalize + standing
    fingerprints + semantic dedup + span masking + decontamination +
    shard write in ONE pipeline — stages must compose, and the funnel
    must account for every drop."""
    from pyspark.sql import functions as FX

    boiler = (
        "all rights reserved redistribution of this text is strictly "
        "prohibited without permission"
    )
    fresh = (
        "deep in the ancient forest a narrow path wound between mossy "
        "stones and towering pines where travelers rarely walked and "
        "the silence was broken only by distant birds echoing through "
        "misty air"
    )
    rows = [
        (1, GOOD + " " + boiler),
        (2, "<html><body><p>" + OTHER.replace(" ", "</p> <p>") + "</p></body></html>"),
        (3, OTHER),                      # doc 2 dedups against this after strip
        (4, fresh + " " + boiler),       # shares only the boiler with 1 -> masked
        (5, PII_DOC),
        (6, "seen before content that the standing table already has plus filler "
            "words to clear the minimum token gate for this document today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    seen = spark.createDataFrame(
        [(r := rows[5][1],)], ["t"]
    ).select(FX.md5(FX.trim(FX.regexp_replace(FX.lower("t"), r"\s+", " "))).alias("fp"))
    emb = spark.createDataFrame(
        [(i, [float(i)] * 8) for i, _ in rows], ["doc_id", "embedding"]
    )
    bench = spark.createDataFrame([(99, PII_DOC)], ["doc_id", "text"])

    res = run_corpus(
        docs,
        id_col="doc_id",
        text_col="text",
        strip_html=True,
        normalize=True,
        seen=seen,
        embeddings=emb,
        semantic_threshold=0.999,     # near-random vectors: no semantic drops
        benchmark=bench,
        decontam_ngram=8,
        mask_spans_ngram=12,
        shards_path=str(tmp_path / "shards"),
        rows_per_shard=2,
    )
    kept = {r.doc_id for r in res.cached.collect()}
    assert 6 not in kept                  # standing fingerprint dropped it
    assert not ({2, 3} <= kept)           # html twin deduped against plain
    assert 5 not in kept                  # decontaminated against the benchmark
    assert res.n_tokens_masked >= 24      # boiler cut from docs 1 and 4
    assert res.n_decontam_dropped == 1
    assert res.shard_manifest is not None
    texts = {r.doc_id: r.text for r in res.cached.collect()}
    assert all("prohibited" not in t for t in texts.values())
    res.unpersist()


def test_mix_budget_stage(spark):
    """Budget mixing as the final selection stage: per-domain token
    budgets met from the CLEAN survivors' final n_tokens; domains
    without a budget drop; total tokens bounded by budget + one
    overshoot doc per domain."""
    from geoestate_etl_spark.plans.corpus_pipeline import run_corpus

    rows = [
        (i, ["en", "de"][i % 2],
         f"doc {i} unique words alpha beta gamma delta epsilon zeta eta "
         f"theta iota kappa {i * 7} {i * 13}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    res = run_corpus(
        df, gate=F.lit(True), mix_budgets={"en": 150}, mix_domain_col="lang"
    )
    out = res.packed.select("doc_id", "lang", "n_tokens").collect()
    assert res.n_mix_selected == len(out) and len(out) > 0
    assert {r.lang for r in out} == {"en"}
    toks = sum(r.n_tokens for r in out)
    max_doc = max(r.n_tokens for r in out)
    assert toks - max_doc < 150 <= toks + max_doc
    res.unpersist()


def _batch2(spark):
    new_doc = (
        "deep in the forest a narrow path wound between tall pines and "
        "mossy stones where the light fell in long green stripes and the "
        "only sound was the wind moving slowly through the high branches "
        "of the silent trees"
    )
    return spark.createDataFrame(
        [(100, GOOD), (101, PII_DOC), (102, new_doc)], ["doc_id", "text"]
    )


def test_seen_chain_empty_metrics_row_falls_back(spark, result, monkeypatch):
    """The incremental chain is where Spark delivers an empty metrics
    row: batch 2's exact-dedup observation sits under a cache whose
    plan embeds batch 1's observed nodes. The reader then recomputes
    the same aggregate, so the funnel stays exact."""
    from pyspark.sql import Observation

    import geoestate_etl_spark.stage as stage

    made = []

    class Recorded(Observation):
        def __init__(self, *args):
            super().__init__(*args)
            made.append(self)

    monkeypatch.setattr(stage, "Observation", Recorded)
    res2 = run_corpus(_batch2(spark), token_budget=64, seen=result.packed.select("fp").distinct())
    try:
        assert any(o._jo.getRow().length() == 0 for o in made)
        assert (res2.n_input, res2.n_gated, res2.n_unseen) == (3, 3, 1)
        assert (res2.n_exact_unique, res2.n_near_unique) == (1, 1)
    finally:
        res2.unpersist()


def test_run_leaves_no_label_and_stays_in_job_budget(traced_result):
    """The fixture run clears its labels, keeps the session conf,
    keeps only the result's cache, and launches no more jobs (nor
    unlabelled jobs) than the ceilings measured before the stage
    helpers replaced the hand-set labels."""
    _, trace = traced_result
    trace.assert_no_state_left()
    assert len(trace.new_rdds) == 1  # CorpusResult.cached
    assert trace.jobs <= 33
    assert trace.unlabelled_jobs == 0


def test_pack_fault_leaves_nothing_behind(spark, monkeypatch):
    """A fault after the survivor cache is counted (here: in sequence
    packing) propagates and leaves no label, conf change or cache. The
    ids are shifted: Spark keys caches by plan, so a run over the
    fixture's own rows would share (and release) the module result's
    cache."""
    import geoestate_etl_spark.plans.corpus_pipeline as CP

    def boom(*args, **kwargs):
        raise RuntimeError("injected pack fault")

    docs = _corpus(spark).withColumn("doc_id", F.col("doc_id") + 100)
    monkeypatch.setattr(CP, "pack_sequences", boom)
    with tracing(spark) as trace, pytest.raises(RuntimeError, match="injected"):
        run_corpus(docs, token_budget=64)
    trace.assert_no_state_left()
    assert not trace.new_rdds
