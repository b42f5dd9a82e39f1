"""Text-analysis expression builders (training-data pipeline surface).

All pure Column expressions over ``pyspark.sql.functions`` — JVM-side,
codegen-friendly, no UDFs — so they run at full scan speed on 100 TB
of documents. Each has an exact DuckDB-SQL equivalent for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: BPE-ish token pattern: letter runs, digit runs, or single non-space symbol.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: Tiny marker-word sets for the language-ID heuristic.
LANG_MARKERS = {
    "en": r"\b(the|and|of|a|is)\b",
    "de": r"\b(der|die|und|das|ist)\b",
    "fr": r"\b(le|la|et|les|est)\b",
    "es": r"\b(el|los|y|una|es)\b",
}


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_text(c: Column | str) -> Column:
    """Lowercase, collapse whitespace runs, trim — canonical form."""
    return F.trim(F.regexp_replace(F.lower(_c(c)), r"\s+", " "))


def word_count(c: Column | str) -> Column:
    """Whitespace token count (empty string → 0)."""
    t = F.trim(_c(c))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast(
        T.LongType()
    )


def token_count(c: Column | str, pattern: str = TOKEN_PATTERN) -> Column:
    """BPE-ish token count via regex extraction."""
    return F.size(F.regexp_extract_all(_c(c), F.lit(pattern), F.lit(0))).cast(
        T.LongType()
    )


def char_count(c: Column | str) -> Column:
    return F.length(_c(c)).cast(T.LongType())


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/whitespace."""
    col = _c(c)
    punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.round(punct / F.greatest(F.length(col), F.lit(1)), 4)


def stopword_ratio(c: Column | str, markers: str = LANG_MARKERS["en"]) -> Column:
    """Marker-word occurrences per word — cheap fluency signal."""
    col = _c(c)
    return F.round(
        F.regexp_count(col, F.lit(markers)) / F.greatest(word_count(col), F.lit(1)), 4
    )


def quality_score(c: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]: rewards normal-length
    docs with low punctuation noise and some stopword fluency.
    Mirrors the shape of public quality filters (length + symbol-ratio
    + stopword checks); exact formula is ours and oracle-replicated.
    """
    col = _c(c)
    wc = word_count(col)
    len_score = F.least(wc / F.lit(100.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 5)
    stop_score = F.least(stopword_ratio(col) * 10, F.lit(1.0))
    return F.round((len_score + punct_pen + stop_score) / 3, 4)


def lang_id(c: Column | str) -> Column:
    """N-gram/marker language-ID heuristic (deterministic, SQL-expressible).

    CJK codepoints → zh; else the marker set with the highest hit
    count wins (ties resolved in fixed en>de>fr>es order); no hits → und.
    """
    col = _c(c)
    counts = {k: F.regexp_count(col, F.lit(v)) for k, v in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    expr = F.when(F.regexp_count(col, F.lit(r"[一-鿿]")) > 0, F.lit("zh"))
    for k in ("en", "de", "fr", "es"):  # fixed priority order for ties
        expr = expr.when((counts[k] > 0) & (counts[k] == best), F.lit(k))
    return expr.otherwise(F.lit("und"))


def char_ngrams(c: Column | str, n: int = 3) -> Column:
    """Distinct character n-gram set (sliding substrings) — the
    character-level sibling of word shingles, for fuzzy matching that
    survives tokenization differences."""
    col = _c(c)
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


def fingerprint_md5(c: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (exact-dup key)."""
    return F.md5(normalize_text(_c(c)))


# --- PII / noise scrubbing (training-data hygiene) --------------------------

#: Conservative, precision-first patterns: a corpus scrubber would
#: rather leave an ambiguous token than destroy prose. All are plain
#: Java regexes evaluated JVM-side by regexp_replace (no UDF).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"(?i)\bhttps?://[^\s<>\"]+"
PHONE_RE = r"(?<![0-9])\+?[0-9][0-9()\-\s]{7,14}[0-9](?![0-9])"
IPV4_RE = r"(?<![0-9.])(?:[0-9]{1,3}\.){3}[0-9]{1,3}(?![0-9.])"


def scrub_pii(
    c: Column | str,
    email_token: str = "<EMAIL>",
    url_token: str = "<URL>",
    phone_token: str = "<PHONE>",
    ip_token: str = "<IP>",
) -> Column:
    """Replace emails, URLs, phone-like numbers, and IPv4 addresses
    with placeholder tokens — the standard pre-training scrub pass.

    Order matters: URLs first (they may contain @ and digit runs that
    the email/phone patterns would half-eat), then emails, then IPs,
    then phone-shaped digit runs.
    """
    out = F.regexp_replace(_c(c), URL_RE, url_token)
    out = F.regexp_replace(out, EMAIL_RE, email_token)
    out = F.regexp_replace(out, IPV4_RE, ip_token)
    out = F.regexp_replace(out, PHONE_RE, phone_token)
    return out


def repetition_ratios(c: Column | str) -> Column:
    """Struct of intra-document repetition signals (the quality filter
    that catches boilerplate/template spam):

    - ``dup_line_frac``: fraction of non-blank lines that are repeats
      of an earlier line
    - ``dup_word_frac``: fraction of words that are repeats
    - ``top_word_frac``: share of the most frequent word

    All pure higher-order array ops — no explode, no shuffle: the
    signal computes inside the row.
    """
    col = _c(c)
    lines = F.filter(F.split(col, "\n"), lambda x: F.trim(x) != "")
    words = F.split(normalize_text(col), " ")
    n_lines = F.size(lines)
    n_words = F.size(words)

    def dup_frac(arr: Column, n: Column) -> Column:
        return F.round(
            (n - F.size(F.array_distinct(arr))) / F.greatest(n, F.lit(1)), 4
        )

    # most-frequent-word share: fold words into (count of max-count)
    # via aggregate over the distinct set would be O(n^2); instead use
    # sort + adjacent-run trick: counts of each word = positions where
    # sorted[i] != sorted[i-1] delimit runs. Max run length:
    sorted_w = F.array_sort(words)
    idx = F.sequence(F.lit(1), F.greatest(n_words, F.lit(1)))
    run_breaks = F.filter(
        idx,
        lambda i: (i == 1)
        | (
            F.try_element_at(sorted_w, i.cast("int"))
            != F.try_element_at(sorted_w, (i - 1).cast("int"))
        ),
    )
    # max run = max gap between consecutive break positions (and end)
    breaks_ext = F.concat(run_breaks, F.array(n_words + 1))
    gaps = F.zip_with(
        F.slice(breaks_ext, 1, F.greatest(F.size(breaks_ext) - 1, F.lit(1)).cast("int")),
        F.slice(breaks_ext, 2, F.greatest(F.size(breaks_ext) - 1, F.lit(1)).cast("int")),
        lambda a, b: b - a,
    )
    top_run = F.coalesce(F.array_max(gaps), F.lit(0))
    return F.struct(
        dup_frac(lines, n_lines).alias("dup_line_frac"),
        dup_frac(words, n_words).alias("dup_word_frac"),
        F.round(top_run / F.greatest(n_words, F.lit(1)), 4).alias("top_word_frac"),
    )


def chunk_text(
    c: Column | str, chunk_words: int, overlap_words: int = 0
) -> Column:
    """Sliding-window chunks of the whitespace-normalized text:
    array<struct<chunk_idx int, chunk_text string>> — the standard
    pre-embedding splitter (fixed window, fixed overlap).

    Window starts step by ``chunk_words - overlap_words``; the final
    window may be short; a start > 0 whose window would add no unseen
    words (start + overlap >= n) is dropped, so no chunk is a suffix
    of its predecessor. Documents at or under ``chunk_words`` yield
    exactly one chunk. Pure built-ins (split / sequence / slice /
    filter / transform) — chunking 100 TB is a map-only pass.
    """
    if chunk_words <= 0:
        raise ValueError(f"chunk_words must be positive, got {chunk_words}")
    if not 0 <= overlap_words < chunk_words:
        raise ValueError(
            f"overlap_words must be in [0, chunk_words), got {overlap_words}"
        )
    stride = chunk_words - overlap_words
    words = F.split(normalize_text(_c(c)), " ")
    n = F.size(words)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + overlap_words < n),
    )
    return F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(words, s + 1, F.lit(chunk_words)), " "
            ).alias("chunk_text"),
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int,
    overlap_words: int = 0,
) -> DataFrame:
    """Explode :func:`chunk_text` to one row per chunk:
    (``id_col``, chunk_idx, chunk_text)."""
    return df.select(
        F.col(id_col),
        F.explode(chunk_text(F.col(text_col), chunk_words, overlap_words)).alias("ch"),
    ).select(id_col, "ch.chunk_idx", "ch.chunk_text")
