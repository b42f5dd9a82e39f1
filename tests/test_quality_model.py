"""Model-based quality gate: train with pyspark.ml on a bounded
labeled set, serve with pure Column expressions — train/serve parity,
separability on planted junk, artifact round-trip, and the hash-parity
trap that forced SQL-native featurization."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from geoestate_etl_spark.operators.quality_model import (
    QualityModel,
    hashed_token_features,
    score_quality,
    train_quality_model,
)

DIMS = 512


def _labeled(spark, n=160, seed=7):
    """Separable synthetic set: clean English-ish vs junk strings."""
    rng = random.Random(seed)
    clean_words = (
        "the quick brown fox jumps over lazy dog and runs through green "
        "fields while birds sing in morning light with gentle rain"
    ).split()
    junk_words = "zqxj wvkq qqqq xjxj vvvv kkkk zzzz qxqx jvjv %%% !!! @@@".split()
    rows = []
    for i in range(n):
        good = i % 2 == 0
        words = clean_words if good else junk_words
        text = " ".join(rng.choice(words) for _ in range(rng.randint(8, 30)))
        rows.append((i, text, 1 if good else 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_sql_hash_is_not_hashingtf(spark):
    """Documents WHY featurization is SQL-native on both paths: the
    two murmur3 variants disagree, so HashingTF-trained weights would
    mis-index at serving. If this ever starts passing, the train path
    could switch to stock HashingTF."""
    from pyspark.ml.feature import HashingTF

    df = spark.createDataFrame(
        [(t, [t]) for t in ["the", "quick", "héllo", "世界"]],
        "term string, toks array<string>",
    )
    ml_idx = {
        r.term: list(r.vec.indices)
        for r in HashingTF(
            inputCol="toks", outputCol="vec", numFeatures=DIMS
        ).transform(df).collect()
    }
    sql_idx = {
        r.term: [r.i]
        for r in df.select(
            "term", F.pmod(F.hash("term"), F.lit(DIMS)).alias("i")
        ).collect()
    }
    assert ml_idx != sql_idx


def test_features_long_sparse_layout(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, None)], "doc_id long, text string"
    )
    rows = hashed_token_features(df, dims=DIMS).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.idx, r.tf))
    assert set(by_doc) == {1}  # empty/NULL docs contribute no rows
    assert sorted(tf for _, tf in by_doc[1]) == [1.0, 2.0]
    assert all(0 <= i < DIMS for i, _ in by_doc[1])


def test_train_separates_and_serving_matches_training_scores(spark):
    labeled = _labeled(spark)
    model = train_quality_model(labeled, dims=DIMS)

    scored = {
        r.doc_id: r.quality_prob
        for r in score_quality(labeled, model, "text", "doc_id").collect()
    }
    labels = {r.doc_id: r.label for r in labeled.collect()}
    # full separation on the (separable) training set
    good = [scored[i] for i in scored if labels[i] == 1]
    junk = [scored[i] for i in scored if labels[i] == 0]
    assert min(good) > 0.5 > max(junk), (min(good), max(junk))

    # train/serve parity: the Column-expression margin reproduces the
    # ml model's probability for every doc (same hash → same features)
    from pyspark.ml.classification import LogisticRegression  # noqa: F401

    w = {r.idx: r.w for r in model.weights.collect()}
    feats = hashed_token_features(labeled, dims=DIMS).collect()
    dots = {}
    for r in feats:
        dots[r.doc_id] = dots.get(r.doc_id, 0.0) + r.tf * w.get(r.idx, 0.0)
    for i, p in scored.items():
        exp = 1.0 / (1.0 + math.exp(-(dots.get(i, 0.0) + model.intercept)))
        assert abs(p - exp) < 1e-9, (i, p, exp)


def test_unseen_and_empty_docs_fall_back_to_intercept(spark):
    labeled = _labeled(spark, n=60)
    model = train_quality_model(labeled, dims=DIMS)
    probe = spark.createDataFrame(
        [(100, ""), (101, None)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.quality_prob
        for r in score_quality(probe, model, "text", "doc_id").collect()
    }
    base = 1.0 / (1.0 + math.exp(-model.intercept))
    assert set(got) == {100, 101}
    assert all(abs(v - base) < 1e-12 for v in got.values())


def test_artifact_roundtrip(spark, tmp_path):
    labeled = _labeled(spark, n=80)
    model = train_quality_model(labeled, dims=DIMS)
    path = str(tmp_path / "quality_model")
    model.save(path)
    back = QualityModel.load(spark, path)
    assert (back.dims, back.token_pattern) == (model.dims, model.token_pattern)
    assert abs(back.intercept - model.intercept) < 1e-15
    a = {r.doc_id: r.quality_prob for r in score_quality(labeled, model).collect()}
    b = {r.doc_id: r.quality_prob for r in score_quality(labeled, back).collect()}
    assert a == b


def test_weights_are_sparse_for_broadcast(spark):
    """Elastic-net pruning keeps the serving relation far below dims —
    the property that makes the broadcast join the right 100 TB plan."""
    labeled = _labeled(spark)
    model = train_quality_model(labeled, dims=4096)
    n_w = model.weights.count()
    assert 0 < n_w < 4096 / 4, n_w


def test_inline_column_matches_join_scoring(spark):
    """as_column (literal-map, zero-shuffle fold) == score_quality
    (broadcast-join path) on every doc, including NULL/empty text —
    two serving shapes, one semantics."""
    labeled = _labeled(spark)
    model = train_quality_model(labeled, dims=DIMS)
    probe = labeled.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(900, ""), (901, None)], "doc_id long, text string"
        )
    )
    join_scores = {
        r.doc_id: r.quality_prob
        for r in score_quality(probe, model).collect()
    }
    inline_scores = {
        r.doc_id: r.p
        for r in probe.select(
            "doc_id", model.as_column("text").alias("p")
        ).collect()
    }
    assert set(join_scores) == set(inline_scores)
    for k in join_scores:
        assert abs(join_scores[k] - inline_scores[k]) < 1e-9, k


def test_inline_column_plan_has_no_shuffle_or_python(spark):
    """The inline score is map-side only: no Exchange, no Python."""
    labeled = _labeled(spark, n=60)
    model = train_quality_model(labeled, dims=DIMS)
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("quick brown fox").alias("text")
    )
    plan = (
        docs.select("doc_id", model.as_column("text").alias("p"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_model_gate_composes_into_run_corpus(spark):
    """The inline score is a Column, so it composes into run_corpus's
    gate predicate — the model-filtered pipeline keeps its funnel
    accounting exact."""
    from geoestate_etl_spark.plans.corpus_pipeline import quality_gate, run_corpus

    labeled = _labeled(spark, n=120)
    model = train_quality_model(labeled, dims=DIMS)
    docs = labeled.select("doc_id", "text")
    gate = quality_gate("text") & (model.as_column("text") >= 0.5)
    res = run_corpus(docs, gate=gate)
    try:
        kept = {r.doc_id for r in res.cached.select("doc_id").collect()}
        labels = {r.doc_id: r.label for r in labeled.collect()}
        # junk never survives the model term; the heuristic gate may
        # additionally drop some clean docs, never add junk back
        assert kept, "model gate emptied the corpus"
        assert all(labels[i] == 1 for i in kept)
        assert res.n_gated >= len(kept)
    finally:
        res.unpersist()


def test_token_margin_micro_matches_pure_python(spark):
    """The frozen-literal integer margin == an independent stdlib
    recomputation (normalize → regex tokens → weight sum), including
    unknown-token, empty and NULL text."""
    import re

    from geoestate_etl_spark.functions.quality_weights import (
        INTERCEPT_MICRO,
        TOKEN_WEIGHTS_MICRO,
    )
    from geoestate_etl_spark.functions.text import TOKEN_PATTERN
    from geoestate_etl_spark.operators.quality_model import token_margin_micro

    rows = [
        (1, "The QUICK   a a JOIN join zz"),
        (2, ""),
        (3, None),
        (4, "unseen tokens only xyzzy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def py_margin(t):
        if not t:
            return INTERCEPT_MICRO
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        toks = re.findall(TOKEN_PATTERN, norm)
        return INTERCEPT_MICRO + sum(TOKEN_WEIGHTS_MICRO.get(x, 0) for x in toks)

    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id",
            token_margin_micro(
                TOKEN_WEIGHTS_MICRO, INTERCEPT_MICRO, "text"
            ).alias("m"),
        ).collect()
    }
    assert got == {i: py_margin(t) for i, t in rows}


def test_scoring_plan_is_broadcast_no_python(spark):
    """The serving plan must contain a broadcast join and NO Python
    eval (BatchEvalPython/ArrowEvalPython) — the hot path stays JVM."""
    labeled = _labeled(spark, n=60)
    model = train_quality_model(labeled, dims=DIMS)
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("the quick fox").alias("text")
    )
    plan = score_quality(docs, model)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "EvalPython" not in plan, plan


# --- hypothesis property tier ------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_TOK = st.sampled_from(
    ["the", "a", "join", "scan", "fast", "slow", "XYZZY", "Zz9", "!", "7",
     "TABLE", "The"]
)
_TXT = st.lists(_TOK, min_size=0, max_size=25).map("  ".join)


@settings(max_examples=5, deadline=None)
@given(st.lists(_TXT, min_size=1, max_size=6))
def test_margin_micro_matches_python_reference(spark, texts):
    """Random casings/spacings/unknown tokens: the Column margin ==
    the stdlib recomputation (normalize → regex tokens → int sum)."""
    import re

    from geoestate_etl_spark.functions.quality_weights import (
        INTERCEPT_MICRO,
        TOKEN_WEIGHTS_MICRO,
    )
    from geoestate_etl_spark.functions.text import TOKEN_PATTERN
    from geoestate_etl_spark.operators.quality_model import token_margin_micro

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id",
            token_margin_micro(
                TOKEN_WEIGHTS_MICRO, INTERCEPT_MICRO, "text"
            ).alias("m"),
        ).collect()
    }
    for i, t in rows:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        toks = re.findall(TOKEN_PATTERN, norm)
        want = INTERCEPT_MICRO + sum(
            TOKEN_WEIGHTS_MICRO.get(x, 0) for x in toks
        )
        assert got[i] == want, (i, t)
