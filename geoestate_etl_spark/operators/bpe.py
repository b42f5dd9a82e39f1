"""Byte-pair-encoding subword tokenizer — corpus-trained merges +
distributed encode, the tokenization tier between ``operators/vocab``'s
word-level ids and tensorization.

Spark shapes (the 100 TB split):

- ``word_histogram`` is the ONLY corpus-scale stage: one explode + one
  hash aggregation (map-side partial combine) → a ``(word, n)`` table
  bounded by vocabulary, not corpus, size. BPE training needs nothing
  else — every pair count is a sum over the word histogram, which is
  why production trainers (SentencePiece, HF tokenizers) train from
  word counts rather than raw text.
- ``train_bpe`` runs the classic merge loop (Sennrich et al. 2015,
  arXiv:1508.07909) on the driver over the TRUNCATED histogram (top
  ``max_words`` rows fetched via TakeOrdered, never a full collect).
  Cost is bounded by the histogram and ``vocab_size``; the incremental
  pair-count index touches only words containing the merged pair.
- ``encode_bpe`` is map-only: an Arrow-batched pandas_udf applying the
  broadcast merge ranks greedily (lowest rank first — the standard
  GPT-2-style ``bpe()`` loop) with a per-batch word cache, so the
  Python cost is bounded by DISTINCT words per batch (Zipf makes that
  small), not tokens. No shuffle; encoding 100 TB is embarrassingly
  parallel.

Pre-tokenization parity: both the JVM histogram and the Python encoder
split with :data:`~geoestate_etl_spark.functions.text.TOKEN_PATTERN`;
the Python side compiles it with ``re.ASCII`` so ``\\s`` means the same
ASCII whitespace set as Java's default ``\\s``.

Reference scope: the reference has no tokenizer surface
(``dags/main.py`` is numeric/geo ETL); this extends the training-data
toolkit alongside ``vocab.build_vocab`` (word ids) and
``text.token_count``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.text import TOKEN_PATTERN

#: end-of-word marker symbol (a separate final symbol, stripped on decode)
EOW = "</w>"

#: id reserved for symbols outside the trained alphabet (matches vocab.OOV_ID)
UNK_ID = 0


def word_histogram(
    df: DataFrame,
    text_col: str = "text",
    pattern: str = TOKEN_PATTERN,
    lowercase: bool = True,
) -> DataFrame:
    """``(word, n)`` — the canonical wordcount the trainer consumes.

    One explode + one hash aggregation; at 100 TB the output is the
    vocabulary-sized relation every downstream stage works from.
    """
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    toks = F.regexp_extract_all(c, F.lit(pattern), F.lit(0))
    return (
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _adjacent_pairs(syms: tuple[str, ...]):
    return zip(syms, syms[1:])


@dataclass
class BpeModel:
    """Trained tokenizer state: ordered merges + the symbol→id table.

    Ids are deterministic: 0 = UNK, 1..A the sorted initial alphabet
    (single characters + ``</w>`` seen in the training histogram),
    then one id per merge in learned order.
    """

    merges: list[tuple[str, str]]
    vocab: dict[str, int]
    ranks: dict[tuple[str, str], int] = field(init=False, repr=False)

    def __post_init__(self):
        self.ranks = {p: i for i, p in enumerate(self.merges)}

    # -- driver-side word/text encode (also the udf kernel) ----------------

    def encode_word(self, word: str, cache: dict | None = None) -> list[str]:
        """Greedy lowest-rank-first merge loop (the standard ``bpe()``)."""
        if cache is not None and word in cache:
            return cache[word]
        syms = tuple(word) + (EOW,)
        while len(syms) > 1:
            best = None
            for p in _adjacent_pairs(syms):
                r = self.ranks.get(p)
                if r is not None and (best is None or r < best[0]):
                    best = (r, p)
            if best is None:
                break
            a, b = best[1]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = tuple(out)
        res = list(syms)
        if cache is not None:
            cache[word] = res
        return res

    def encode_text(
        self,
        text: str | None,
        pattern: str = TOKEN_PATTERN,
        lowercase: bool = True,
        cache: dict | None = None,
    ) -> list[int]:
        if not text:
            return []
        if lowercase:
            text = text.lower()
        rx = re.compile(pattern, re.ASCII)
        ids: list[int] = []
        for w in rx.findall(text):
            for s in self.encode_word(w, cache):
                ids.append(self.vocab.get(s, UNK_ID))
        return ids

    def decode(self, ids: list[int]) -> str:
        """Inverse of :meth:`encode_text` for fully-known ids: symbols
        concatenate, ``</w>`` becomes a word boundary (single space)."""
        inv = {i: s for s, i in self.vocab.items()}
        text = "".join(inv.get(i, "�") for i in ids)
        return text.replace(EOW, " ").strip()


def train_bpe(
    histogram: DataFrame,
    vocab_size: int = 512,
    max_words: int = 100_000,
    min_pair_count: int = 2,
) -> BpeModel:
    """Learn merges from a ``(word, n)`` histogram.

    ``max_words`` truncates the histogram via TakeOrdered (count desc,
    word asc — deterministic) before the driver loop; the usual
    coverage argument applies (Zipf: the head carries almost all pair
    mass). The loop keeps a pair→words index so each merge touches
    only the words containing the merged pair, and stops early when no
    pair reaches ``min_pair_count`` (merging singleton pairs memorizes
    the tail instead of learning structure).

    Tie rule: highest count, then lexicographically smallest pair —
    fully deterministic for a given histogram.
    """
    head = (
        histogram.orderBy(F.desc("n"), F.asc("word")).limit(max_words).collect()
    )
    words: list[list] = []  # [symbols tuple, count]
    for r in head:
        if r.word:
            words.append([tuple(r.word) + (EOW,), int(r.n)])

    alphabet = sorted({s for syms, _ in words for s in syms})
    vocab = {s: i + 1 for i, s in enumerate(alphabet)}

    from collections import Counter, defaultdict

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple, set] = defaultdict(set)
    for wi, (syms, cnt) in enumerate(words):
        for p in _adjacent_pairs(syms):
            pair_counts[p] += cnt
            pair_words[p].add(wi)

    merges: list[tuple[str, str]] = []
    n_merges = max(0, vocab_size - len(vocab) - 1)  # -1 for UNK
    for _ in range(n_merges):
        best, best_cnt = None, 0
        for p, c in pair_counts.items():
            if c > best_cnt or (c == best_cnt and best is not None and p < best):
                best, best_cnt = p, c
        if best is None or best_cnt < min_pair_count:
            break
        merges.append(best)
        a, b = best
        merged = a + b
        vocab[merged] = len(vocab) + 1
        for wi in list(pair_words[best]):
            syms, cnt = words[wi]
            for p in _adjacent_pairs(syms):
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_words[p].discard(wi)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_syms = tuple(out)
            words[wi][0] = new_syms
            for p in _adjacent_pairs(new_syms):
                pair_counts[p] += cnt
                pair_words[p].add(wi)
    return BpeModel(merges=merges, vocab=vocab)


def decode_bpe_col(model: BpeModel, ids_col: Column | str) -> Column:
    """Distributed inverse of :func:`encode_bpe` as a pure Column.

    The id→symbol table ships as a literal map (vocab-sized — hundreds
    of entries, never corpus-bound), so the decode is entirely JVM-side:
    ``transform`` → ``array_join`` → literal ``replace`` of the
    end-of-word marker. Unknown ids surface as ``�`` rather than being
    silently dropped (``array_join`` would skip NULLs otherwise).
    """
    kv: list[Column] = []
    for sym, i in model.vocab.items():
        kv.append(F.lit(i))
        kv.append(F.lit(sym))
    id2sym = F.create_map(*kv)
    syms = F.transform(
        F.col(ids_col) if isinstance(ids_col, str) else ids_col,
        lambda x: F.element_at(id2sym, x),
    )
    return F.trim(F.replace(F.array_join(syms, "", "�"), F.lit(EOW), F.lit(" ")))


def encode_bpe(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = TOKEN_PATTERN,
    lowercase: bool = True,
) -> DataFrame:
    """``(id_col, token_ids, n_tokens)`` — map-only distributed encode.

    The model ships to executors once via a broadcast (merge ranks +
    vocab are the whole state); each Arrow batch keeps a word→pieces
    cache, so per-batch Python cost tracks distinct words.
    """
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((model.merges, model.vocab))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(texts: pd.Series) -> pd.Series:
        merges, vocab = bc.value
        m = BpeModel(merges=merges, vocab=vocab)
        cache: dict = {}
        return texts.map(
            lambda t: m.encode_text(t, pattern=pattern, lowercase=lowercase, cache=cache)
        )

    return df.select(
        F.col(id_col),
        _enc(F.col(text_col)).alias("token_ids"),
    ).withColumn("n_tokens", F.size("token_ids"))
