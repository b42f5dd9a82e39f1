"""BPE tokenizer: incremental trainer pinned against a naive
recount-per-iteration reference, DuckDB-oracled word histogram,
and distributed-encode parity."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from geoestate_etl_spark.operators.bpe import (
    EOW,
    UNK_ID,
    BpeModel,
    encode_bpe,
    train_bpe,
    word_histogram,
)
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare_spark_duckdb

TOY = {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def _naive_train(hist: dict[str, int], n_merges: int, min_pair_count: int = 2):
    """Textbook BPE: full pair recount every iteration (Sennrich alg. 1)."""
    words = {tuple(w) + (EOW,): n for w, n in hist.items()}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in words.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += n
        if not pairs:
            break
        best_cnt = max(pairs.values())
        if best_cnt < min_pair_count:
            break
        best = min(p for p, c in pairs.items() if c == best_cnt)
        merges.append(best)
        a, b = best
        new_words = {}
        for syms, n in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + n
        words = new_words
    return merges


def _toy_hist_df(spark):
    return spark.createDataFrame(list(TOY.items()), "word string, n long")


def _docs(spark, n=200):
    return (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("doc_id") < n)
        .select("doc_id", "text")
    )


def test_train_matches_naive_reference(spark):
    alphabet = sorted({c for w in TOY for c in w} | {EOW})
    vocab_size = 1 + len(alphabet) + 10  # UNK + alphabet + 10 merges
    model = train_bpe(_toy_hist_df(spark), vocab_size=vocab_size)
    assert model.merges == _naive_train(TOY, 10)
    # ids dense and deterministic: UNK=0, alphabet 1..A, merges after
    assert model.vocab[alphabet[0]] == 1
    assert len(set(model.vocab.values())) == len(model.vocab)
    assert UNK_ID not in model.vocab.values()


def test_train_deterministic(spark):
    m1 = train_bpe(_toy_hist_df(spark), vocab_size=64)
    m2 = train_bpe(_toy_hist_df(spark), vocab_size=64)
    assert m1.merges == m2.merges and m1.vocab == m2.vocab


def test_encode_decode_roundtrip(spark):
    model = train_bpe(_toy_hist_df(spark), vocab_size=64)
    # every char in-alphabet (case folds): decode == pre-tokenized text
    ids = model.encode_text("Low lower newest widest low")
    assert ids and UNK_ID not in ids
    assert model.decode(ids) == "low lower newest widest low"
    # ',' is outside the toy alphabet: it must encode to UNK
    assert UNK_ID in model.encode_text("low, low")


def test_word_histogram_matches_duckdb(spark, duck):
    hist = word_histogram(_docs(spark, 500), lowercase=True)
    sql = r"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text),
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS word
      FROM documents WHERE doc_id < 500
    )
    SELECT word, count(*) AS n FROM toks GROUP BY word
    """
    ok, msg = compare_spark_duckdb(hist, duck, sql)
    assert ok, msg


def test_distributed_encode_matches_driver(spark):
    docs = _docs(spark, 60)
    hist = word_histogram(docs)
    model = train_bpe(hist, vocab_size=300)
    got = {
        r.doc_id: list(r.token_ids)
        for r in encode_bpe(docs, model).collect()
    }
    for r in docs.collect():
        assert got[r.doc_id] == model.encode_text(r.text), r.doc_id
    # subword compression: never more pieces than chars+1 per word,
    # and for real text strictly fewer ids than characters
    n_chars = docs.agg(F.sum(F.length("text"))).first()[0]
    assert sum(len(v) for v in got.values()) < n_chars


def test_distributed_decode_roundtrip(spark):
    """decode_bpe_col over encode_bpe reconstructs the pre-tokenized
    text for every doc (case-preserving arm, as the registry uses)."""
    import re

    from geoestate_etl_spark.operators.bpe import decode_bpe_col
    from geoestate_etl_spark.functions.text import TOKEN_PATTERN

    docs = _docs(spark, 40)
    model = train_bpe(word_histogram(docs, lowercase=False), vocab_size=160)
    enc = encode_bpe(docs, model, lowercase=False)
    got = {
        r.doc_id: r.rt
        for r in enc.select(
            "doc_id", decode_bpe_col(model, "token_ids").alias("rt")
        ).collect()
    }
    rx = re.compile(TOKEN_PATTERN, re.ASCII)
    for r in docs.collect():
        assert got[r.doc_id] == " ".join(rx.findall(r.text or "")), r.doc_id
    # unknown ids surface, never silently dropped
    one = spark.createDataFrame([(1, [10**6])], "doc_id long, token_ids array<int>")
    assert one.select(decode_bpe_col(model, "token_ids").alias("rt")).first().rt == "�"


def test_unseen_alphabet_is_unk(spark):
    model = train_bpe(_toy_hist_df(spark), vocab_size=64)
    ids = model.encode_text("low λ low")
    assert ids.count(UNK_ID) == 1  # the single non-ASCII char token
