"""HTML/markup hygiene (functions/markup.py)."""

from __future__ import annotations

from geoestate_etl_spark.functions.markup import (
    looks_like_markup,
    strip_markup,
)

PAGE = (
    "<html><head><title>T</title><style>p { color: red }</style>"
    "<script type='text/javascript'>var x = '<p>not text</p>';</script>"
    "</head><body><!-- nav follows --><p>Hello &amp; welcome</p>"
    "<div>to the <b>annual</b> report&nbsp;2026</div>"
    '<a href="https://example.com/a">link</a>'
    "<img src='https://cdn.example.com/i.png'/></body></html>"
)


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["t"]).select(col("t").alias("v")).first().v


def test_strip_markup_extracts_prose(spark):
    got = _one(spark, PAGE, strip_markup)
    assert got == "T Hello & welcome to the annual report 2026 link"
    # script/style CONTENT is gone, not just the tags
    assert "color" not in got and "var x" not in got and "nav" not in got


def test_strip_markup_idempotent_on_prose(spark):
    prose = "Plain text: 2 < 3 is a fact, and x > y sometimes."
    # bare < > without tag shape survive (not swallowed as tags)
    got = _one(spark, prose, strip_markup)
    assert "2 < 3" in got and "x > y" in got
    assert _one(spark, got, strip_markup) == got


def test_entities_and_numeric_refs(spark):
    got = _one(spark, "a&lt;b&gt;c &quot;q&quot; &#39;s&#39; &#8212; &#x2014; d", strip_markup)
    assert got == 'a<b>c "q" \'s\' d'


def test_looks_like_markup_router(spark):
    df = spark.createDataFrame(
        [(1, PAGE), (2, "no tags here, 2 < 3 even"), (3, "<p>one</p>")],
        ["i", "t"],
    )
    got = {r.i: r.m for r in df.select("i", looks_like_markup("t").alias("m")).collect()}
    assert got == {1: True, 2: False, 3: True}
