"""HTML/markup hygiene for web-crawl corpora — pure regexp Columns.

Stage zero of a web pipeline: crawled payloads are markup, models
want prose. A production extractor (trafilatura/boilerpipe class)
does DOM-aware main-content detection; none of those ship here, and
the 80% answer — drop scripts/styles/comments/tags, unescape the
common entities, collapse whitespace — is exactly expressible as
chained ``regexp_replace`` Columns: JVM-side, codegen-friendly, no
Python in the hot path.

Honest limits (documented, tested): no DOM means no main-content
vs nav/footer separation (the quality gate's stopword/length signals
absorb most of that downstream), and pathological unclosed tags
degrade to text passthrough rather than data loss.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["strip_markup", "looks_like_markup"]

_ENTITIES = [
    ("&nbsp;", " "),
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
]


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def strip_markup(c: Column | str) -> Column:
    """Markup → prose: script/style blocks (with their contents),
    comments, and tags removed; common entities unescaped; block-level
    boundaries become single spaces; whitespace collapsed and trimmed.
    Plain text passes through unchanged (idempotent)."""
    col = _c(c)
    # (?is): case-insensitive + dotall so multi-line blocks match
    col = F.regexp_replace(col, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    col = F.regexp_replace(col, r"(?s)<!--.*?-->", " ")
    # tag-shaped only (<letter / !): prose like "2 < 3 and x > y" must
    # survive — a bare <…> swallow would silently delete text spans
    col = F.regexp_replace(col, r"(?s)<[a-zA-Z/!][^>]*>", " ")
    for ent, rep in _ENTITIES:
        col = F.regexp_replace(col, ent, rep)
    # numeric character references: decimal + hex, common plane only
    col = F.regexp_replace(col, r"&#x?[0-9a-fA-F]{1,6};", " ")
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def looks_like_markup(c: Column | str, min_tags: int = 2) -> Column:
    """Cheap router predicate: does this text need :func:`strip_markup`?
    Counts tag-shaped tokens — running the stripper on plain prose is
    harmless (idempotent) but wasteful at corpus scale."""
    col = _c(c)
    return F.size(F.regexp_extract_all(col, F.lit(r"<[a-zA-Z/!][^>]*>"), F.lit(0))) >= min_tags
