"""Split-block Bloom filter as pure Columns — the membership pre-gate
that extends broadcast anti/semi joins past the exact-set size limit.

The n-gram decontamination tier broadcasts the benchmark's exact
distinct-gram set (`operators/decontam.py`): at 8 bytes a gram that
caps out around ~100M grams of executor memory. Real benchmark
batteries (every eval suite a lab screens against, at several n) can
pass that. The standard fix is a Bloom filter: ~10 bits per element
instead of 64, no false negatives, a tunable false-positive rate —
and any FP is removed by the exact join that follows, so the final
answer is IDENTICAL to the exact path (certified by the `bloom`
variant of the `decontaminate` driver query, which must hash-match
the same oracle as the exact variant).

Design — *split-block* (one 64-bit word per element, k bits inside
it; the Parquet/Impala cache-line trick, here sized to Spark's
comfort zone):

- the filter is a bounded RELATION ``(word_idx int, bits long)``,
  built with ONE hash aggregation: ``bit_or`` of each element's
  in-word mask, grouped by its word index. At most ``num_words``
  rows regardless of input size — sized in MBs for billions of
  elements, it always broadcasts;
- the probe is a broadcast equi-join on ``word_idx`` plus a
  ``(bits & mask) = mask`` test — map-side, zero shuffle of the
  probed corpus, whole-stage codegen end to end (hashes via
  ``xxhash64``, shifts via SQL ``shiftleft``/``shiftrightunsigned``);
- no false negatives BY CONSTRUCTION: an inserted element's word row
  contains (bit_or) its full mask, and the probe recomputes the same
  word and mask from the same hash seeds.

A classic k-probe Bloom filter would need k corpus-side probes into
k scattered words (k joins or an explode — k× the corpus rows); the
single-word block keeps it to one join at a modestly higher FP rate
for the same bits/element (measured in tests/test_bloom.py). FP rate
only costs extra rows into the downstream exact join, never
correctness.

No reference parity: the reference (dags/main.py) has no membership
structures at all; this is engine-declared surface for the
LLM-pipeline tier (SURVEY §2 'beyond').
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_word", "bloom_mask", "bloom_build", "bloom_probe"]

#: in-word probe bits per element (6 bits of hash each; 4×6=24 < 64
#: hash bits consumed, independent of the word-index hash by seed)
DEFAULT_K = 4


def bloom_word(col: str, num_words: int, seed: int = 0x51) -> Column:
    """Block (word) index for a value: ``pmod(xxhash64(v, seed), W)``."""
    return F.expr(
        f"CAST(pmod(xxhash64(`{col}`, {seed}), {int(num_words)}) AS INT)"
    ).alias("word_idx")


def bloom_mask(col: str, k: int = DEFAULT_K, seed: int = 0x52) -> Column:
    """In-word bit mask: k 6-bit slices of an independent hash, each
    selecting one of the word's 64 bits. Pure codegen integer ops."""
    h = f"xxhash64(`{col}`, {seed})"
    terms = " | ".join(
        f"shiftleft(CAST(1 AS BIGINT), "
        f"CAST(shiftrightunsigned({h}, {6 * j}) & 63 AS INT))"
        for j in range(int(k))
    )
    return F.expr(terms).alias("mask")


def bloom_build(
    df: DataFrame,
    col: str,
    num_words: int = 1 << 16,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Aggregate a column into the filter relation
    ``(word_idx, bits)`` — ≤ ``num_words`` rows, one shuffle of at
    most ``num_words`` partial rows per task (map-side bit_or combine
    does the heavy lifting; input size only affects the scan).

    Size ``num_words`` at ~1 word (64 bits) per 6-8 expected distinct
    elements for a low-percent FP rate; the relation is 12 bytes a
    row, so even 2^24 words (~1G elements) is ~200 MB — still a
    broadcast candidate on real executors.
    """
    return (
        df.select(bloom_word(col, num_words), bloom_mask(col, k))
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    num_words: int = 1 << 16,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Rows of ``df`` whose ``col`` MIGHT be in the built set (never
    misses a true member; passes false positives at the filter's FP
    rate). Broadcast equi-join on the word index + mask containment —
    the probed side is never shuffled. ``num_words``/``k`` must match
    the build call."""
    b = F.broadcast(
        bloom.select(
            F.col("word_idx").alias("_bw"), F.col("bits").alias("_bb")
        )
    )
    return (
        df.withColumn("_pw", bloom_word(col, num_words))
        .withColumn("_pm", bloom_mask(col, k))
        .join(b, F.col("_pw") == F.col("_bw"))
        .filter(F.col("_bb").bitwiseAND(F.col("_pm")) == F.col("_pm"))
        .drop("_pw", "_pm", "_bw", "_bb")
    )
