"""Unigram-LM tokenizer tier (operators/unigram.py).

Mirrors tests/test_bpe.py's strategy: driver-side training invariants,
Viterbi optimality against brute-force enumeration, distributed encode
== driver encode, and JVM decode round-trip.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.operators import unigram as U
from geoestate_etl_spark.operators.bpe import word_histogram
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
    )


@pytest.fixture(scope="module")
def model(spark, docs):
    return U.train_unigram(
        word_histogram(docs, lowercase=False), vocab_size=200, n_iters=2
    )


def test_train_deterministic(spark, docs):
    hist = word_histogram(docs, lowercase=False)
    a = U.train_unigram(hist, vocab_size=200, n_iters=2)
    b = U.train_unigram(hist, vocab_size=200, n_iters=2)
    assert a.vocab == b.vocab
    assert a.lp_micro == b.lp_micro


def test_alphabet_coverage(model, spark, docs):
    """Every single character of the training corpus' words is a
    piece — the lossless fallback that guarantees round-trip."""
    rows = docs.collect()
    import re

    from geoestate_etl_spark.functions.text import TOKEN_PATTERN

    rx = re.compile(TOKEN_PATTERN, re.ASCII)
    chars = {c for r in rows if r.text for w in rx.findall(r.text) for c in w}
    missing = {c for c in chars if c not in model.vocab}
    assert not missing, missing


def test_viterbi_is_optimal():
    """Viterbi segmentation matches brute-force best over all 2^(n-1)
    split patterns on a crafted vocabulary (exact integer scores)."""
    vocab = {"▁": 1, "a": 2, "b": 3, "ab": 4, "▁a": 5, "bab": 6}
    lp = {"▁": -5_000_000, "a": -3_000_000, "b": -3_500_000,
          "ab": -4_000_000, "▁a": -2_000_000, "bab": -4_500_000}
    m = U.UnigramModel(vocab=vocab, lp_micro=lp, max_piece_len=4)

    def brute(word):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            pos = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
            pieces = [word[pos[i]:pos[i + 1]] for i in range(len(pos) - 1)]
            if any(p not in lp for p in pieces):
                continue
            score = (sum(lp[p] for p in pieces), -len(pieces))
            if best is None or score > best[0]:
                best = (score, pieces)
        return best[1] if best else None

    for word in ["▁abab", "▁bab", "▁aabb", "▁abba"]:
        got = m.viterbi(word)
        want = brute(word)
        if want is None:
            continue
        assert sum(lp[p] for p in got) == sum(lp[p] for p in want), (
            word, got, want,
        )


def test_roundtrip_and_distributed_encode(spark, docs, model):
    """decode(encode(text)) reconstructs the pre-tokenized text, and
    the Arrow-batched distributed encode matches the driver kernel."""
    enc = U.encode_unigram(docs, model, lowercase=False)
    back = enc.select(
        "doc_id",
        U.decode_unigram_col(model, "token_ids").alias("rt"),
        "token_ids",
    ).collect()
    import re

    from geoestate_etl_spark.functions.text import TOKEN_PATTERN

    rx = re.compile(TOKEN_PATTERN, re.ASCII)
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in back:
        want = " ".join(rx.findall(texts[r.doc_id] or ""))
        assert r.rt == want, (r.doc_id, r.rt[:80], want[:80])
        assert list(r.token_ids) == model.encode_text(
            texts[r.doc_id], lowercase=False
        )


def test_unknown_char_degrades_gracefully(model):
    ids = model.encode_text("aÿþz", lowercase=False)
    assert isinstance(ids, list) and len(ids) >= 1
    # unknown single chars map to UNK_ID, not an exception
    assert U.UNK_ID in ids or all(i > 0 for i in ids)


def test_compression_beats_chars(spark, docs, model):
    """The learned pieces must actually compress: token count below
    pure character count on the training docs (sanity that EM learned
    multi-char structure)."""
    enc = U.encode_unigram(docs, model, lowercase=False)
    n_tok = enc.agg(F.sum("n_tokens")).collect()[0][0]
    n_chars = docs.select(
        F.sum(F.length(F.regexp_replace("text", r"\s+", ""))).alias("c")
    ).collect()[0][0]
    assert n_tok < n_chars, (n_tok, n_chars)
