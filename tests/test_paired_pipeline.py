"""Image–text paired corpus pipeline (r9 — VERDICT r8 #4): the joint
funnel is PREDICTED by the fixture before Spark runs, and the
prediction machinery itself is drift-gated against the engine kernels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.paired_corpus_fixture import (
    PAIR_SCHEMA,
    fixture_minhash,
    generate_paired_rows,
    make_caption,
    mutate_caption,
)
from tests.pipeline_trace import tracing


def _run(spark, tmp_path, rows, **kw):
    from geoestate_etl_spark.plans.paired_pipeline import run_paired_corpus

    pairs = spark.createDataFrame(rows, PAIR_SCHEMA)
    return run_paired_corpus(
        spark, pairs, str(tmp_path / "shards"), n_shards=2, **kw
    )


def test_fixture_minhash_matches_engine_kernel(spark):
    """Drift gate: the fixture's plain-Python MinHash oracle must
    reproduce the Arrow kernel's shingles AND signatures bit-for-bit —
    otherwise the funnel prediction silently diverges from the plan."""
    from geoestate_etl_spark.operators.dedup import shingle_sig_batch

    texts = [
        make_caption(0),
        make_caption(7),
        mutate_caption(make_caption(7), 1),
        "po ra",  # sub-shingle-length text (padded-window case)
        "the ba",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = df.select(
        shingle_sig_batch("text", k=3, num_hashes=16).alias("ss")
    ).collect()
    for t, row in zip(texts, got):
        sh, sig = fixture_minhash(t, k=3, num_hashes=16)
        assert sorted(sh) == sorted(row.ss.sh), t
        assert sig == list(row.ss.sig), t


@pytest.fixture(scope="module")
def traced_funnel_run(spark, tmp_path_factory):
    rows, pred = generate_paired_rows()
    tmp = tmp_path_factory.mktemp("paired")
    with tracing(spark) as trace:
        res = _run(spark, tmp, rows)
    yield res, pred, tmp, trace
    res.unpersist()


def test_paired_funnel_prediction_exact(spark, traced_funnel_run):
    """The full e2e: every funnel count equals the fixture prediction,
    every planted tier participates, and the shards carry the paired
    members (.bin + .txt + .json) under one key per sample."""
    from geoestate_etl_spark.sources.tar_shards import read_tar_samples

    res, pred, tmp_path, _ = traced_funnel_run
    # every tier is a live positive control on this corpus
    assert pred.n_txt_near_detected > 0
    assert pred.n_joint_dropped > 0
    assert (
        res.n_pairs,
        res.n_gated,
        res.n_image_edges,
        res.n_text_edges,
        res.n_joint_dropped,
        res.n_final,
    ) == (
        pred.n_pairs,
        pred.n_gated,
        pred.n_image_edges,
        pred.n_text_edges,
        pred.n_joint_dropped,
        pred.n_final,
    )
    assert res.audit_ok
    assert res.shard_manifest["total_samples"] == pred.n_final

    samples = read_tar_samples(spark, str(tmp_path / "shards"))
    got = samples.select(
        "key", F.map_keys("members").alias("exts")
    ).collect()
    assert len(got) == pred.n_final
    for r in got:
        assert sorted(r.exts) == ["bin", "json", "txt"], r.key
    # survivors' captions round-trip through the txt member
    kept_caps = {
        bytes(r.members["txt"]).decode("utf-8")
        for r in samples.select("members").collect()
    }
    surv_caps = {
        r.caption for r in res.survivors.select("caption").collect()
    }
    assert kept_caps == surv_caps


def test_run_leaves_no_label_and_stays_in_job_budget(traced_funnel_run):
    """The fixture run clears its labels, keeps the session conf,
    keeps only the survivor cache it returns, and launches no more jobs
    (nor unlabelled jobs) than the ceilings measured before the stage
    helpers replaced the hand-set labels."""
    trace = traced_funnel_run[3]
    trace.assert_no_state_left()
    assert len(trace.new_rdds) == 1  # PairedCorpusResult.survivors
    assert trace.jobs <= 48
    assert trace.unlabelled_jobs == 0


def test_shard_write_fault_leaves_nothing_behind(spark, tmp_path, monkeypatch):
    """A failing shard write propagates and leaves no label, conf
    change or cache behind. One row is left out: Spark keys caches by
    plan, so a run over the module fixture's rows would share (and
    release) its result's cache."""
    import geoestate_etl_spark.sources.tar_shards as TS

    def boom(*args, **kwargs):
        raise RuntimeError("injected shard fault")

    rows, _ = generate_paired_rows()
    monkeypatch.setattr(TS, "write_tar_shards", boom)
    with tracing(spark) as trace, pytest.raises(RuntimeError, match="injected"):
        _run(spark, tmp_path, rows[1:])
    trace.assert_no_state_left()
    assert not trace.new_rdds


def test_closure_semantics_chain(spark, tmp_path):
    """The semantics the joint dedup exists for: C shares an image
    with B (dropped as a caption-dup of kept A) but nothing with A —
    union-closure still drops C, keeping exactly one pair per
    component."""
    from tests.media_corpus_fixture import _encode_gray_png, noise_rows

    ga, gb = noise_rows(900), noise_rows(901)
    ca, cc = make_caption(100), make_caption(101)
    rows = [
        (0, _encode_gray_png(ga), ca),  # A: kept
        (1, _encode_gray_png(gb), ca),  # B: caption-dup of A
        (2, _encode_gray_png(gb), cc),  # C: image-dup of B only
    ]
    res = _run(spark, tmp_path, rows)
    try:
        assert res.n_gated == 3
        assert res.n_joint_dropped == 2
        assert res.n_final == 1
        kept = [r.pair_id for r in res.survivors.select("pair_id").collect()]
        assert kept == [0]
    finally:
        res.unpersist()


def test_gate_drops_junk_images_and_short_captions(spark, tmp_path):
    from tests.media_corpus_fixture import _encode_gray_png, noise_rows

    rows = [
        (0, _encode_gray_png(noise_rows(910)), make_caption(110)),
        (1, b"junk payload bytes", make_caption(111)),  # undecodable
        (2, _encode_gray_png(noise_rows(911)), "po ra"),  # 2 tokens
    ]
    res = _run(spark, tmp_path, rows)
    try:
        assert res.n_pairs == 3
        assert res.n_gated == 1
        assert res.n_final == 1
    finally:
        res.unpersist()


def test_incremental_seen_state_drops_either_side(spark, tmp_path):
    """Standing-state tier: a new batch's pair leaves when EITHER its
    image hash or its caption fingerprint already exists in the
    standing corpus (O(batch) anti-joins), before any in-batch dedup
    work; fresh pairs flow through untouched."""
    from geoestate_etl_spark.functions.text import fingerprint_md5
    from tests.media_corpus_fixture import (
        _encode_gray_png,
        fixture_dhash,
        noise_rows,
    )

    rows, _ = generate_paired_rows()
    res1 = _run(spark, tmp_path / "b1", rows)
    seen_img = spark.createDataFrame(
        [
            (r.chash,)
            for r in res1.survivors.select(F.col("_chash").alias("chash"))
            .distinct()
            .collect()
        ],
        "chash long",
    )
    seen_cap = spark.createDataFrame(
        [
            (r.fp,)
            for r in res1.survivors.select(fingerprint_md5("caption").alias("fp"))
            .distinct()
            .collect()
        ],
        "fp string",
    )
    surv = sorted(
        r.pair_id for r in res1.survivors.select("pair_id").collect()
    )
    res1.unpersist()

    grids = [noise_rows(2000 + i) for i in range(3)]
    # precondition: the fresh images are not accidental perceptual
    # near-dups (so the expected zero in-batch drops is attributable)
    hs = [fixture_dhash(g) for g in grids]
    assert all(
        bin(hs[a] ^ hs[b]).count("1") > 6
        for a in range(3)
        for b in range(a + 1, 3)
    )
    rows2 = [
        (0, _encode_gray_png(grids[0]), make_caption(150)),
        (1, _encode_gray_png(grids[1]), make_caption(151)),
        # re-crawl of a kept image under a fresh caption → image side
        (2, rows[surv[0]][1], make_caption(152)),
        # fresh image with an already-kept caption → caption side
        (3, _encode_gray_png(grids[2]), rows[surv[1]][2]),
    ]
    res2 = _run(
        spark,
        tmp_path / "b2",
        rows2,
        seen_image_hashes=seen_img,
        seen_caption_fps=seen_cap,
    )
    try:
        assert (
            res2.n_pairs,
            res2.n_gated,
            res2.n_unseen,
            res2.n_joint_dropped,
            res2.n_final,
        ) == (4, 4, 2, 0, 2)
        kept = sorted(
            r.pair_id for r in res2.survivors.select("pair_id").collect()
        )
        assert kept == [0, 1]
    finally:
        res2.unpersist()


def test_no_edges_short_circuit(spark, tmp_path):
    """All-unique corpus: zero edges, no CC iteration spun up, every
    gated pair survives."""
    from tests.media_corpus_fixture import _encode_gray_png, noise_rows

    rows = [
        (i, _encode_gray_png(noise_rows(920 + i)), make_caption(120 + i))
        for i in range(4)
    ]
    rows_f, pred = generate_paired_rows(
        n_base=4, n_img_exact=0, n_img_reenc=0, n_img_resized=0,
        n_img_releveled=0, n_txt_exact=0, n_txt_near=0, n_chain=0,
        n_gate_img=0, n_gate_txt=0,
    )
    # prediction agrees: independent images can still be accidental
    # perceptual near-pairs, so use the fixture's own corpus
    res = _run(spark, tmp_path, rows_f)
    try:
        assert res.n_gated == pred.n_gated
        assert res.n_image_edges == pred.n_image_edges
        assert res.n_joint_dropped == pred.n_joint_dropped
        assert res.n_final == pred.n_final
    finally:
        res.unpersist()


def test_star_edges_window_semantics(spark):
    """_star_edges_tagged (r9: window-min formulation, one shuffle)
    emits exactly (group-min -> member) per equal-key group, no
    self-edges, singletons silent."""
    from geoestate_etl_spark.plans.paired_pipeline import _star_edges_tagged

    df = spark.createDataFrame(
        [(1, "a"), (5, "a"), (3, "a"), (2, "b"), (9, "c"), (4, "c")],
        "pid long, k string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in _star_edges_tagged(df, [("", "k")], "pid").collect()
    }
    assert got == {(1, 5), (1, 3), (4, 9)}


def test_equality_tiers_never_join_across_tiers(spark):
    """A content hash equal to another pair's stats fingerprint (a
    64-bit cross-tier collision, forced here) must not link the two
    pairs: each image tier elects roots in its own window partition."""
    from geoestate_etl_spark.plans.paired_pipeline import (
        _EQ_TIERS,
        _star_edges_tagged,
    )

    df = spark.createDataFrame(
        [(1, 5, 7, "x"), (2, 9, 5, "y"), (3, 9, 8, "z")],
        "pid long, _chash long, _fp long, _tfp string",
    )
    got = {
        (r.tag, r.id_a, r.id_b)
        for r in _star_edges_tagged(df, _EQ_TIERS, "pid").collect()
    }
    # only the genuine same-tier match (pairs 2 and 3 share _chash)
    assert got == {("i1", 2, 3)}
