"""Intra-document repetition signals (Gopher-style quality filters).

Rae et al. 2021 ("Scaling Language Models: ... Gopher", public) filter
training documents on repetition signals, among them the
most-frequent-n-gram character fractions computed here. These are standard
training-data curation gates (web text full of repeated boilerplate
lines and chant-like n-gram loops scores high and gets dropped).

Everything here emits INTEGER counts, not ratios — the float-
discipline rule for small-denominator fractions (docs/ORACLE_NOTES.md):
callers derive ``dup/total`` at the edge; the driver-hashed relation
stays exact.

Scale shape: one explode per signal family + two chained hash
aggregations (per-(doc, unit) count, then per-doc rollup) — the
corpus-statistics shape (tfidf/vocab) with map-side combine
throughout; no windows over the corpus, no self-joins. Reference
scope: the reference (dags/main.py) has no text-quality surface; this
extends the LLM-pipeline tier alongside text_metrics/decontam.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.text import normalize_text


def _tokens(text_col: Column | str) -> Column:
    """Normalized whitespace tokens — the tfidf/vocab tokenization."""
    return F.filter(
        F.split(normalize_text(text_col), " "), lambda x: x != ""
    )


def _grams(tokens: Column, n: int) -> Column:
    """Word n-grams of a token array (space-joined), [] when the doc is
    shorter than n. The lambda comes from a factory — HOF dispatch is
    arity-based, so default-arg closures are unsafe (ORACLE_NOTES)."""

    def join_at(i: Column) -> Column:
        return F.concat_ws(
            " ", *[F.element_at(tokens, i + k) for k in range(n)]
        )

    return F.when(
        F.size(tokens) >= n,
        F.transform(F.sequence(F.lit(1), F.size(tokens) - (n - 1)), join_at),
    ).otherwise(F.array().cast("array<string>"))


def ngram_repetition(
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc n-gram repetition stats:

    - ``n_grams``    — total n-gram occurrences (|tokens| - n + 1);
    - ``top_gram`` / ``top_n`` — the most frequent n-gram and its
      count, ties broken toward the lexicographically LARGEST gram
      (struct-max, mirrored by the oracle's ``struct_pack`` max — the
      resample tie rule);
    - ``dup_occ``    — occurrences beyond each gram's first (the
      repeated-gram mass; 0 = all n-grams distinct).

    Gopher's "fraction of characters in the most frequent n-gram" is
    ``top_n * length(top_gram) / doc chars`` — derivable at the edge.
    Docs with fewer than ``n`` tokens are ABSENT from the result
    (callers left-join + coalesce, like the registry query does).
    """
    # the gram build is an interpreted HOF (lambdas don't codegen) and
    # is the CPU stage; a small/single-file source arrives as ONE
    # partition, so spread it first (caught by the r4 bench: 13s
    # single-task vs ~1s spread). GUARDED: an input that is already
    # well partitioned must not be collapsed + reshuffled (the
    # multimodal rule) — only under-partitioned inputs spread.
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    grams = docs.select(
        F.col(id_col), F.explode(_grams(_tokens(text_col), n)).alias("g")
    )
    gc = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("c"))
    top = F.max(F.struct(F.col("c"), F.col("g")))
    return gc.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        top.getField("g").alias("top_gram"),
        top.getField("c").alias("top_n"),
        F.sum(F.col("c") - 1).alias("dup_occ"),
    )
