"""XML source (Spark 4 native, jar-free): file reads with rowTag,
attribute/_VALUE conventions, explicit-schema reads, from_xml column
parsing incl. malformed-input NULLs, and the to_xml roundtrip."""

from __future__ import annotations

from pyspark.sql import functions as F

from geoestate_etl_spark.sources.xml_source import (
    parse_xml_column,
    read_xml,
    to_xml_column,
)

SITEMAP = """<?xml version="1.0" encoding="UTF-8"?>
<urlset>
  <url><loc>https://example.com/a</loc><priority>0.8</priority></url>
  <url><loc>https://example.com/b</loc><priority>0.5</priority></url>
  <url><loc>https://example.com/c</loc></url>
</urlset>
"""

PAGES = """<dump>
  <page id="1" lang="en"><title>Alpha</title><text>hello world</text></page>
  <page id="2" lang="de"><title>Beta</title><text>hallo welt</text></page>
</dump>
"""


def test_read_xml_rowtag_and_inference(spark, tmp_path):
    p = tmp_path / "sitemap.xml"
    p.write_text(SITEMAP)
    df = read_xml(spark, str(p), row_tag="url")
    rows = {r.loc: r.priority for r in df.collect()}
    assert rows == {
        "https://example.com/a": 0.8,
        "https://example.com/b": 0.5,
        "https://example.com/c": None,  # missing element -> NULL
    }


def test_read_xml_attributes_and_explicit_schema(spark, tmp_path):
    p = tmp_path / "dump.xml"
    p.write_text(PAGES)
    # attributes surface as _-prefixed columns; explicit schema skips
    # the inference pass (the production path)
    schema = "_id LONG, _lang STRING, title STRING, text STRING"
    df = read_xml(spark, str(p), row_tag="page", schema=schema)
    rows = {r._id: (r._lang, r.title, r.text) for r in df.collect()}
    assert rows == {
        1: ("en", "Alpha", "hello world"),
        2: ("de", "Beta", "hallo welt"),
    }
    # and the rows feed the documents-shaped pipeline directly
    docs = df.select(
        F.col("_id").alias("doc_id"), F.col("_lang").alias("lang"), "text"
    )
    assert docs.filter(F.col("lang") == "en").count() == 1


def test_from_xml_column_and_malformed_null(spark):
    df = spark.createDataFrame(
        [
            (1, "<r><k>7</k><v>ok</v></r>"),
            (2, "<r><k>not-a-number</k><v>x</v></r>"),  # bad field → NULL row fields
            (3, "definitely <not> xml"),  # bad document
            (4, None),
        ],
        "id long, payload string",
    )
    parsed = df.select(
        "id", parse_xml_column("payload", "k INT, v STRING").alias("p")
    )
    got = {r.id: r.p for r in parsed.collect()}
    assert (got[1].k, got[1].v) == (7, "ok")
    # PERMISSIVE is row-scoped for from_xml: one unparsable field
    # nulls the row's fields (no partial salvage), never a task crash
    assert got[2].k is None and got[2].v is None
    assert got[3] is None or got[3].k is None  # corrupt doc, no crash
    assert got[4] is None


def test_schema_of_and_to_xml_roundtrip(spark):
    df = spark.createDataFrame([(7, "ok")], "k long, v string").select(
        F.struct("k", "v").alias("s")
    )
    xml = df.select(to_xml_column("s").alias("x")).first().x
    # rendered markup re-parses to the same values (the roundtrip
    # contract, not byte equality — formatting is the writer's)
    back = (
        spark.createDataFrame([(xml,)], "x string")
        .select(parse_xml_column("x", "k LONG, v STRING").alias("p"))
        .first()
        .p
    )
    assert (back.k, back.v) == (7, "ok")
