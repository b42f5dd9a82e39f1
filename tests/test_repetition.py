"""Gopher-style repetition signals: hand-built fixtures pin the count
semantics (dup mass = occurrences beyond first), the struct-max tie
rule and short-doc absence."""

from __future__ import annotations

from geoestate_etl_spark.operators.repetition import ngram_repetition


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_counts_and_tie_rule(spark):
    docs = _docs(
        spark,
        [
            # 2-grams: "a b","b a","a b","b c" -> "a b" x2 top, dup=1
            (1, "a b a b c"),
            # all four 2-grams distinct and count 1: tie broken toward
            # the lexicographically largest gram ("d e")
            (2, "a b c d e"),
            (3, "x"),          # shorter than n: absent
            (4, ""),           # empty: absent
        ],
    )
    got = {r.doc_id: r for r in ngram_repetition(docs, 2).collect()}
    assert set(got) == {1, 2}
    assert (got[1].n_grams, got[1].top_gram, got[1].top_n, got[1].dup_occ) == (
        4, "a b", 2, 1,
    )
    assert (got[2].n_grams, got[2].top_gram, got[2].top_n, got[2].dup_occ) == (
        4, "d e", 1, 0,
    )


def test_ngram_normalization_folds_case_and_whitespace(spark):
    # "A  b" and "a b" are the same normalized 2-gram
    docs = _docs(spark, [(1, "A  b a b")])
    got = ngram_repetition(docs, 2).collect()[0]
    assert (got.top_gram, got.top_n) == ("a b", 2)


def test_trigram_window(spark):
    docs = _docs(spark, [(1, "a b c a b c a")])
    got = ngram_repetition(docs, 3).collect()[0]
    # 3-grams: abc bca cab abc cba? -> positions: abc, bca, cab, abc, bca
    assert got.n_grams == 5
    assert (got.top_gram, got.top_n) in {("a b c", 2), ("b c a", 2)}
    # top tie between "a b c"(2) and "b c a"(2): struct-max picks the
    # lexicographically larger gram
    assert (got.top_gram, got.top_n) == ("b c a", 2)
    assert got.dup_occ == 2


def test_registry_columns_cover_short_docs(spark):
    """The text_metrics left-join must emit zero counts (not drop the
    row) for docs the per-n relation omits."""
    import os

    from geoestate_etl_spark.plans.queries_suites import q_text_metrics
    from tests.conftest import SF_ORACLE

    out = q_text_metrics(spark, SF_ORACLE)
    assert out.filter("n_grams2 IS NULL OR dup3 IS NULL").count() == 0
    n_docs = spark.read.parquet(
        os.path.join(SF_ORACLE, "documents.parquet")
    ).count()
    assert out.count() == n_docs


def test_onegram_agrees_with_inrow_ratios(spark):
    """Two independent implementations of word repetition — the in-row
    HOF `repetition_ratios` (pipeline gate) and the aggregated
    `ngram_repetition(n=1)` (registry/metrics path) — must agree on
    every document: dup_occ/n_grams == dup_word_frac."""
    import os

    from pyspark.sql import functions as F

    from geoestate_etl_spark.functions.text import repetition_ratios
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(os.path.join(SF_ORACLE, "documents.parquet"))
    inrow = docs.select(
        "doc_id", repetition_ratios("text")["dup_word_frac"].alias("f")
    )
    agg = ngram_repetition(docs, 1).select(
        "doc_id",
        F.round(F.col("dup_occ") / F.greatest("n_grams", F.lit(1)), 4).alias("g"),
    )
    joined = inrow.join(agg, "doc_id", "left").select(
        "doc_id", "f", F.coalesce("g", F.lit(0.0)).alias("g")
    )
    assert joined.filter(F.col("f") != F.col("g")).count() == 0


# --- hypothesis property tier ------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_WORDS = st.sampled_from(["a", "bb", "ccc", "dog", "fox", "the"])
_DOC = st.lists(_WORDS, min_size=0, max_size=30).map(" ".join)


def _py_ngram_stats(text: str, n: int):
    """Pure-Python reference (independent of any Spark API)."""
    toks = [t for t in text.lower().split() if t]
    if len(toks) < n:
        return None
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    from collections import Counter

    c = Counter(grams)
    top_n = max(c.values())
    # struct-max tie rule: lexicographically largest among max-count
    top_g = max(g for g, k in c.items() if k == top_n)
    return (len(grams), top_g, top_n, sum(k - 1 for k in c.values()))


@settings(max_examples=5, deadline=None)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_ngram_matches_python_reference(spark, texts):
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for n in (1, 2, 3):
        got = {
            r.doc_id: (r.n_grams, r.top_gram, r.top_n, r.dup_occ)
            for r in ngram_repetition(docs, n).collect()
        }
        want = {
            i: s
            for i, t in enumerate(texts)
            if (s := _py_ngram_stats(t, n)) is not None
        }
        assert got == want, (n, texts)
