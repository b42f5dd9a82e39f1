"""BM25 retrieval: hand-computed fixture scores, ranking determinism,
and plan shape (no cartesian, literal isin pushed down)."""

from __future__ import annotations

import math

from geoestate_etl_spark.operators.retrieval import bm25_topk, doc_terms


def _fixture(spark):
    rows = [
        (0, "spark spark join fast"),
        (1, "join vector"),
        (2, "the quick brown fox"),
        (3, "spark"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_ref(docs: dict[int, str], query: list[str], k1=1.2, b=0.75):
    """Naive reference implementation (whitespace tokens, Lucene idf)."""
    toks = {d: (t.split(" ") if t else [""]) for d, t in docs.items()}
    # empty text normalizes to '' and splits to [''] — one token, like the op
    toks = {d: (ts if ts != [] else [""]) for d, ts in toks.items()}
    n = len(docs)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    scores = {}
    for d, ts in toks.items():
        s = 0.0
        for q in set(query):
            tf = ts.count(q)
            if tf == 0:
                continue
            df = sum(1 for ts2 in toks.values() if q in ts2)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if s > 0:
            scores[d] = round(s, 4)
    return scores


def test_bm25_matches_reference(spark):
    docs = _fixture(spark)
    query = ["spark", "join", "vector"]
    got = {r.doc_id: r.score for r in bm25_topk(docs, query, k=10).collect()}
    want = _bm25_ref(
        {0: "spark spark join fast", 1: "join vector", 2: "the quick brown fox",
         3: "spark", 4: ""},
        query,
    )
    assert got == want
    # top-1 matches the reference argmax (rounded score, doc_id tiebreak)
    best = min(want.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    top = bm25_topk(docs, query, k=1).first()
    assert top.doc_id == best and top.rn == 1


def test_bm25_deterministic_ranking_and_k(spark):
    docs = _fixture(spark)
    out = bm25_topk(docs, ["spark", "join"], k=2).collect()
    assert [r.rn for r in out] == [1, 2]
    # rounded-score ordering with doc_id tiebreaker: rerun is identical
    again = bm25_topk(docs, ["spark", "join"], k=2).collect()
    assert [(r.doc_id, r.score) for r in out] == [(r.doc_id, r.score) for r in again]


def test_bm25_no_query_terms_empty(spark):
    assert bm25_topk(_fixture(spark), ["absent"], k=5).count() == 0


def test_doc_terms_empty_text_single_token(spark):
    """Empty text yields one '' token (split semantics) — consistent
    with the SQL oracle's regexp_split_to_array, so dl parity holds."""
    one = spark.createDataFrame([(7, "")], "doc_id long, text string")
    rows = doc_terms(one).collect()
    assert [(r.doc_id, r.term) for r in rows] == [(7, "")]


def test_bm25_plan_no_cartesian(spark):
    docs = _fixture(spark)
    plan = bm25_topk(docs, ["spark", "join"], k=3)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
