"""BM25 full-text retrieval over a document corpus.

The missing piece between ``tfidf_top_terms`` (corpus statistics) and
the embedding ANN tier: lexical top-k retrieval, the workhorse of
training-data curation (benchmark-decontamination sweeps, targeted
corpus slicing, hard-negative mining for retrieval training sets).

Scale shape (the 100 TB split):

- One explode of the corpus into ``(doc_id, term)`` rows, then hash
  aggregations only — per-doc length, per-(doc, query-term) TF, and
  per-query-term DF. All map-side-combinable; nothing is ever
  collected except the two corpus scalars (N, avgdl — one 1-row agg).
- The query-term list is a literal ``isin`` filter pushed below the
  TF aggregation, so the scored relation is bounded by
  ``|matching docs| × |query terms|``, not corpus size.
- DF joins onto TF by term: |query terms| rows — broadcast by AQE.
- Final top-k via rounded-score ordering + doc_id tiebreaker →
  TakeOrderedAndProject, ≤ k·partitions shuffle rows.

Okapi BM25 (Robertson & Zaragoza 2009, "The Probabilistic Relevance
Framework"): ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)`` (the
Lucene-style always-positive variant), ``tf_norm = tf·(k1+1) /
(tf + k1·(1 - b + b·dl/avgdl))``.

Reference scope: the reference (dags/main.py) has no text-retrieval
surface; this extends the LLM-pipeline tier alongside tfidf/decontam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.text import normalize_text


def doc_terms(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``(doc_id, term)`` — whitespace tokens of the normalized text
    (same tokenization as ``tfidf_top_terms`` and its oracle)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_dp: int = 4,
    terms: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query by BM25.

    Returns ``(doc_id, score, rn)``; ``score`` is rounded to
    ``score_dp`` BEFORE ranking (with ``doc_id`` as tiebreaker) so the
    ordering is reproducible across engines and partitionings — two
    docs whose scores differ below the rounding quantum rank by id,
    deterministically, rather than by float noise.

    Pass ``terms`` (a ``(doc_id, term)`` relation as produced by
    :func:`doc_terms`) when the caller already exploded the corpus —
    avoids re-tokenizing it here.
    """
    if terms is None:
        terms = doc_terms(docs, id_col, text_col)
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs, total_len = dl.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()  # two corpus scalars, one 1-row action
    avgdl = float(total_len) / float(n_docs) if n_docs else 1.0

    qt = [t for t in query_terms if t]
    tf = (
        terms.filter(F.col("term").isin(qt))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # DF derives from TF — one row per (doc, term) already, so the
    # per-term doc count needs no second corpus scan + distinct
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    scored = (
        tf.join(df_, "term")
        .join(dl, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), score_dp).alias("score"))
    )
    from pyspark.sql import Window

    # the rn window runs over the ≤k post-limit rows only; the literal
    # partition key gives WindowExec a (constant) partition spec, so it
    # neither warns about an undefined partition nor re-sorts beyond
    # the k rows (r3 verdict cleanup #7)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
