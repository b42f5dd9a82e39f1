"""URL parsing and canonicalization — the web-corpus hygiene layer
(CommonCrawl-style pipelines dedup by canonical URL before any
content-based pass; it is the cheapest dedup signal there is: one
string op per row, no content hashing).

Everything is built-in column expressions (regexp + array ops), so the
whole path stays inside whole-stage codegen — no UDF, no shuffle.

Canonicalization rules (the common production subset):
- scheme and host lowercased; fragment dropped
- default ports stripped (``:80`` http, ``:443`` https)
- tracking query params removed (``utm_*``, ``fbclid``, ``gclid``,
  ``ref``), remaining params SORTED so param order never splits a URL
- trailing ``/`` on a non-root path dropped, empty path → ``/``

``registered_domain`` uses a deliberately small multi-part-suffix set
(``co.uk`` etc.) — a stand-in for the public-suffix list, which is a
data file, not an algorithm; swap in the real PSL table (broadcast
join) in production.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: multi-part public suffixes the simplified registered-domain
#: extraction recognizes (real pipelines broadcast-join the full PSL)
MULTI_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "co.in")

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#:]+)(?::(\d+))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?$"


def url_parts(url: Column) -> Column:
    """RFC-3986-ish decomposition into a struct: (scheme, host, port,
    path, query, fragment). Unparseable URLs yield all-null fields
    (scheme is NULL — use it as the validity flag)."""
    return F.struct(
        F.nullif(F.lower(F.regexp_extract(url, _URL_RE, 1)), F.lit("")).alias("scheme"),
        F.nullif(F.lower(F.regexp_extract(url, _URL_RE, 2)), F.lit("")).alias("host"),
        F.nullif(F.regexp_extract(url, _URL_RE, 3), F.lit("")).cast("int").alias("port"),
        F.nullif(F.regexp_extract(url, _URL_RE, 4), F.lit("")).alias("path"),
        F.nullif(F.regexp_extract(url, _URL_RE, 5), F.lit("")).alias("query"),
        F.nullif(F.regexp_extract(url, _URL_RE, 6), F.lit("")).alias("fragment"),
    )


def _clean_query(query: Column) -> Column:
    """Drop tracking params, sort the rest ('' when none survive)."""
    params = F.split(query, "&")
    kept = F.filter(
        params,
        lambda p: ~(
            p.startswith("utm_")
            | p.startswith("fbclid=")
            | p.startswith("gclid=")
            | p.startswith("ref=")
            | (p == "")
        ),
    )
    return F.array_join(F.array_sort(kept), "&")


def canonical_url(url: Column) -> Column:
    """The canonical form described in the module docstring; NULL for
    unparseable input."""
    u = url_parts(url)
    scheme, host, port = u.getField("scheme"), u.getField("host"), u.getField("port")
    path, query = u.getField("path"), u.getField("query")
    # default ports vanish, others survive
    port_part = F.when(
        port.isNull()
        | ((scheme == "http") & (port == 80))
        | ((scheme == "https") & (port == 443)),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port.cast("string")))
    norm_path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            path.substr(F.lit(1), F.length(path) - 1),
        ).otherwise(path)
    )
    cleaned = _clean_query(F.coalesce(query, F.lit("")))
    query_part = F.when(cleaned == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), cleaned)
    )
    out = F.concat(scheme, F.lit("://"), host, port_part, norm_path, query_part)
    return F.when(scheme.isNull() | host.isNull(), F.lit(None)).otherwise(out)


def registered_domain(host: Column) -> Column:
    """eTLD+1 with the simplified suffix set: ``a.b.co.uk`` →
    ``b.co.uk``, ``a.b.com`` → ``b.com``, bare/1-label hosts pass
    through."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    is_multi = F.lit(False)
    for suf in MULTI_SUFFIXES:
        is_multi = is_multi | host.endswith("." + suf) | (host == suf)
    take = F.when(is_multi, F.lit(3)).otherwise(F.lit(2))
    return F.when(n <= take, host).otherwise(
        F.array_join(F.slice(labels, n - take + 1, take), ".")
    )
