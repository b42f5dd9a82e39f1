"""URL parse/canonicalize semantics + DuckDB parity on the same
rule set (the repo-local oracle discipline used for vocab.py: ops that
never joined the 50-entry registry still get a cross-engine gate)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geoestate_etl_spark.functions.urls import (
    canonical_url,
    registered_domain,
    url_parts,
)

CASES = [
    # (raw, canonical)
    ("http://Example.COM/path", "http://example.com/path"),
    ("https://example.com:443/a/", "https://example.com/a"),
    ("http://example.com:80/", "http://example.com/"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("https://example.com", "https://example.com/"),
    ("http://a.b.co.uk/p?z=1&a=2#frag", "http://a.b.co.uk/p?a=2&z=1"),
    ("http://e.com/p?utm_source=x&q=1&fbclid=abc", "http://e.com/p?q=1"),
    ("http://e.com/p?utm_source=x", "http://e.com/p"),
    ("HTTPS://E.com/P?gclid=1&ref=tw&b=2&a=1", "https://e.com/P?a=1&b=2"),
    ("not a url", None),
    ("ftp://files.example.org/pub/", "ftp://files.example.org/pub"),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(CASES)], ["i", "url"])
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want, f"case {i}: {CASES[i][0]!r} -> {got[i]!r}"


def test_url_parts_fields(spark):
    df = spark.createDataFrame(
        [("https://User.Host.com:8443/a/b?x=1#top",)], ["url"]
    )
    p = df.select(url_parts(F.col("url")).alias("u")).select("u.*").first()
    assert (p.scheme, p.host, p.port, p.path, p.query, p.fragment) == (
        "https", "user.host.com", 8443, "/a/b", "x=1", "top",
    )


def test_registered_domain(spark):
    rows = [
        ("www.example.com", "example.com"),
        ("a.b.c.example.co.uk", "example.co.uk"),
        ("example.co.uk", "example.co.uk"),
        ("localhost", "localhost"),
        ("deep.sub.example.com.au", "example.com.au"),
    ]
    df = spark.createDataFrame(rows, ["host", "want"])
    for r in df.select("want", registered_domain(F.col("host")).alias("got")).collect():
        assert r.got == r.want


def test_canonicalization_duckdb_parity(spark):
    """The same rule set rendered in DuckDB SQL must agree row-for-row
    on a deterministic synthetic URL corpus (mixed case, tracking
    params, default/custom ports, fragments, trailing slashes)."""
    n = 500
    df = spark.range(n).select(
        F.col("id"),
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
            F.lit("Host"), (F.col("id") % 20).cast("string"), F.lit(".Example."),
            F.when(F.col("id") % 4 == 0, F.lit("co.uk")).otherwise(F.lit("com")),
            F.when(F.col("id") % 5 == 0, F.lit(":443")).otherwise(
                F.when(F.col("id") % 5 == 1, F.lit(":8080")).otherwise(F.lit(""))
            ),
            F.lit("/Page/"), (F.col("id") % 7).cast("string"),
            F.when(F.col("id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("id") % 3 == 0, F.lit("?utm_source=x&b=2&a=1")
            ).otherwise(F.when(F.col("id") % 3 == 1, F.lit("?z=9&ref=tw")).otherwise(F.lit(""))),
            F.when(F.col("id") % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    got = {
        r.id: (r.c, r.d)
        for r in df.select(
            "id",
            canonical_url(F.col("url")).alias("c"),
            registered_domain(url_parts(F.col("url")).getField("host")).alias("d"),
        ).collect()
    }

    pdf = df.toPandas()
    con = duckdb.connect()
    con.register("urls", pdf)
    # identical rules in DuckDB: parse via the same regex groups,
    # lowercase scheme/host, strip default port, drop fragment, clean
    # + sort query params, trim trailing slash, suffix-aware domain
    sql = r"""
WITH p AS (
  SELECT id,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host,
    nullif(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:]+:(\d+)', 1), '') AS port,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
    coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS query
  FROM urls
), c AS (
  SELECT id, scheme, host,
    CASE WHEN port IS NULL OR (scheme='http' AND port='80') OR (scheme='https' AND port='443')
         THEN '' ELSE ':' || port END AS port_part,
    CASE WHEN path IS NULL OR path = '' THEN '/'
         WHEN length(path) > 1 AND path LIKE '%/' THEN substr(path, 1, length(path)-1)
         ELSE path END AS norm_path,
    coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
      x -> NOT (starts_with(x,'utm_') OR starts_with(x,'fbclid=')
                OR starts_with(x,'gclid=') OR starts_with(x,'ref=') OR x = ''))), '&'), '') AS cq
  FROM p
)
SELECT id,
  scheme || '://' || host || port_part || norm_path ||
    CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS c,
  CASE WHEN host LIKE '%.co.uk' OR host = 'co.uk'
       THEN array_to_string(list_slice(string_split(host,'.'), -3, -1), '.')
       ELSE array_to_string(list_slice(string_split(host,'.'), -2, -1), '.') END AS d
FROM c
"""
    want = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == want
