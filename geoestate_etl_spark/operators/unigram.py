"""Unigram-LM subword tokenizer (SentencePiece-style) — the second
tokenizer family next to ``operators/bpe``: instead of greedy merge
rules, a piece VOCABULARY with log-probabilities, trained by hard EM
(Viterbi re-segmentation + count re-estimation + pruning; Kudo 2018,
arXiv:1804.10959) and served by Viterbi best-segmentation encode.

Spark shapes (the 100 TB split, same as BPE's):

- the ONLY corpus-scale stage is ``bpe.word_histogram`` (one explode +
  one hash agg with map-side combine) — unigram training, like BPE's
  merge loop, needs only the vocabulary-bounded ``(word, n)`` relation;
- ``train_unigram`` runs the seed/EM/prune loop on the driver over the
  TRUNCATED histogram head (TakeOrdered, never a full collect);
- ``encode_unigram`` is map-only: Arrow-batched pandas_udf applying the
  broadcast model with a per-batch word cache (Zipf bounds distinct
  words per batch), no shuffle — encoding 100 TB is embarrassingly
  parallel;
- ``decode_unigram_col`` is a pure JVM Column (literal id→piece map →
  transform → array_join → boundary-marker replace), so round-trip
  checks never leave the JVM.

Determinism discipline (what makes the round-trip hash-oracle-able):
piece scores live as INTEGER micro-nats (``round(ln(p)·1e6)``, the
``ngram_logprob_micro`` formulation from functions/text.py) — Viterbi
compares exact integer sums, so the best segmentation never depends on
float summation order; remaining ties break on fewer pieces, then on
the earlier split point. The EM loop's prune step orders by (count
desc, piece asc). Same histogram in → bit-identical model out.

Word boundaries use the SentencePiece convention: every word is
prefixed with ``▁`` (U+2581) before segmentation; decode concatenates
pieces and turns ``▁`` back into a space.

Reference scope: the reference has no tokenizer surface
(``dags/main.py`` is numeric/geo ETL); this extends the training-data
toolkit alongside ``vocab`` (word ids) and ``bpe`` (merge-based
subwords).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geoestate_etl_spark.functions.text import TOKEN_PATTERN

#: SentencePiece word-boundary marker, prefixed to every word
BOUNDARY = "▁"

#: id reserved for pieces outside the trained vocabulary
UNK_ID = 0

#: Viterbi score for an unknown single character (lets encode degrade
#: gracefully on unseen text instead of failing; decoded as ``�``)
UNK_LP_MICRO = -30_000_000


@dataclass
class UnigramModel:
    """Trained state: piece → (id, integer micro-nat log-prob).

    Ids are deterministic: 0 = UNK, then pieces by (count desc, piece
    asc) from the final EM round.
    """

    vocab: dict[str, int]
    lp_micro: dict[str, int]
    max_piece_len: int = field(default=8)

    def viterbi(self, word: str) -> list[str]:
        """Best segmentation of ``word`` (already boundary-prefixed)
        under the integer log-prob model. DP over end positions; ties
        prefer fewer pieces, then the earlier split point — exact
        integer comparisons throughout."""
        n = len(word)
        NEG = float("-inf")
        # (score, n_pieces negated for "fewer wins", backpointer)
        best: list[tuple] = [(NEG, 0, -1)] * (n + 1)
        best[0] = (0, 0, -1)
        for end in range(1, n + 1):
            for start in range(max(0, end - self.max_piece_len), end):
                if best[start][0] == NEG:
                    continue
                piece = word[start:end]
                lp = self.lp_micro.get(piece)
                if lp is None:
                    if end - start == 1:
                        lp = UNK_LP_MICRO  # unknown char fallback
                    else:
                        continue
                cand = (best[start][0] + lp, best[start][1] - 1, start)
                if cand[:2] > best[end][:2] or (
                    cand[:2] == best[end][:2] and cand[2] < best[end][2]
                ):
                    best[end] = cand
        pieces: list[str] = []
        end = n
        while end > 0:
            start = best[end][2]
            pieces.append(word[start:end])
            end = start
        pieces.reverse()
        return pieces

    def encode_word(self, word: str, cache: dict | None = None) -> list[str]:
        if cache is not None and word in cache:
            return cache[word]
        res = self.viterbi(BOUNDARY + word)
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
            for p in self.encode_word(w, cache):
                ids.append(self.vocab.get(p, UNK_ID))
        return ids

    def decode(self, ids: list[int]) -> str:
        inv = {i: p for p, i in self.vocab.items()}
        text = "".join(inv.get(i, "�") for i in ids)
        return text.replace(BOUNDARY, " ").strip()


def train_unigram(
    histogram: DataFrame,
    vocab_size: int = 512,
    max_piece_len: int = 8,
    max_words: int = 100_000,
    n_iters: int = 3,
    seed_factor: int = 4,
) -> UnigramModel:
    """Hard-EM unigram training from a ``(word, n)`` histogram.

    1. Truncate the histogram via TakeOrdered (count desc, word asc).
    2. Seed: every substring of every (boundary-prefixed) word up to
       ``max_piece_len``, weighted by word count; keep the top
       ``seed_factor × vocab_size`` multi-char pieces plus ALL single
       characters (the lossless fallback alphabet).
    3. EM rounds: Viterbi re-segment every word under current integer
       log-probs → re-count piece usage → re-estimate log-probs →
       prune toward ``vocab_size`` (lowest-count multi-char pieces
       first; characters never pruned).

    Soft-EM (forward-backward expected counts) converges a little
    tighter; hard-EM keeps the arithmetic integer-exact so the model —
    and therefore every downstream encode — is bit-reproducible, which
    is the property the registry round-trip hash rides on.
    """
    from collections import Counter

    head = histogram.orderBy(F.desc("n"), F.asc("word")).limit(max_words).collect()
    words: list[tuple[str, int]] = [
        (BOUNDARY + r.word, int(r.n)) for r in head if r.word
    ]

    chars = sorted({c for w, _ in words for c in w})

    # ---- seed counts: substring occurrences weighted by word count
    counts: Counter = Counter()
    for w, n in words:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                counts[w[i:j]] += n

    def _rebuild(counts: Counter, cap_multi: int) -> tuple[dict, dict]:
        multi = [p for p in counts if len(p) > 1]
        multi.sort(key=lambda p: (-counts[p], p))
        kept = {c for c in chars} | set(multi[:cap_multi])
        total = sum(counts[p] for p in kept if counts[p] > 0)
        lp = {}
        for p in kept:
            c = counts[p] if counts[p] > 0 else 1
            lp[p] = round(math.log(c / total) * 1_000_000)
        return kept, lp

    cap = max(seed_factor * vocab_size, vocab_size) - len(chars)
    kept, lp = _rebuild(counts, max(cap, 0))
    model = UnigramModel(
        vocab={p: i + 1 for i, p in enumerate(sorted(kept))},
        lp_micro=lp,
        max_piece_len=max_piece_len,
    )

    for it in range(n_iters):
        new_counts: Counter = Counter()
        # histogram words are distinct (groupBy output) — no cache
        for w, n in words:
            for p in model.viterbi(w):
                new_counts[p] += n
        # anneal the multi-char budget toward the target
        frac = (it + 1) / n_iters
        target_multi = round(
            (cap * (1 - frac)) + (max(vocab_size - 1 - len(chars), 0) * frac)
        )
        kept, lp = _rebuild(new_counts, max(target_multi, 0))
        model = UnigramModel(
            vocab={p: i + 1 for i, p in enumerate(sorted(kept))},
            lp_micro=lp,
            max_piece_len=max_piece_len,
        )
        counts = new_counts

    # final deterministic id assignment: count desc, piece asc
    ordered = sorted(kept, key=lambda p: (-counts[p], p))
    model.vocab = {p: i + 1 for i, p in enumerate(ordered)}
    return model


def decode_unigram_col(model: UnigramModel, ids_col: Column | str) -> Column:
    """Distributed inverse of :func:`encode_unigram` as a pure Column:
    literal id→piece map → transform → array_join → boundary replace.
    Unknown ids surface as ``�`` (mirrors ``decode_bpe_col``)."""
    kv: list[Column] = []
    for piece, i in model.vocab.items():
        kv.append(F.lit(i))
        kv.append(F.lit(piece))
    id2piece = F.create_map(*kv)
    pieces = F.transform(
        F.col(ids_col) if isinstance(ids_col, str) else ids_col,
        lambda x: F.element_at(id2piece, x),
    )
    return F.trim(
        F.replace(F.array_join(pieces, "", "�"), F.lit(BOUNDARY), F.lit(" "))
    )


def encode_unigram(
    df: DataFrame,
    model: UnigramModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = TOKEN_PATTERN,
    lowercase: bool = True,
) -> DataFrame:
    """``(id_col, token_ids, n_tokens)`` — map-only distributed encode.

    The model ships once per executor via broadcast; each Arrow batch
    keeps a word→pieces Viterbi cache, so Python cost tracks distinct
    words per batch, not tokens."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((model.vocab, model.lp_micro, model.max_piece_len))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _enc(texts: pd.Series) -> pd.Series:
        vocab, lp, mpl = bc.value
        m = UnigramModel(vocab=vocab, lp_micro=lp, max_piece_len=mpl)
        cache: dict = {}
        return texts.map(
            lambda t: m.encode_text(
                t, pattern=pattern, lowercase=lowercase, cache=cache
            )
        )

    return df.select(
        F.col(id_col),
        _enc(F.col(text_col)).alias("token_ids"),
    ).withColumn("n_tokens", F.size("token_ids"))
