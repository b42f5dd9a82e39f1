"""XML source + column parsing (Spark 4 native XML — no external jar).

The crawl-adjacent formats a training-data pipeline actually meets are
XML: sitemaps and RSS/Atom feeds (URL frontier seeding), Wikipedia/
Stack Exchange dumps (page-per-element exports), and provider bulk
APIs. Spark 4 merged the spark-xml package into core, so both the
file source (``spark.read.format("xml")`` with ``rowTag``) and the
column functions (``from_xml`` / ``schema_of_xml`` / ``to_xml``) are
built-in and jar-free — unlike Avro, which still needs the external
connector.

Scale notes:

- Like multiLine JSON/CSV, an XML file is parsed per FILE — a single
  giant dump does not split. Bulk dumps should arrive pre-sharded
  (Wikipedia publishes multistream chunks); many small feed files
  parallelize naturally by the file listing.
- ``rowTag`` streaming: the reader scans for row elements without
  materializing the document, so memory is bounded by row size, not
  file size.
- Schema inference samples every file; production should pass an
  explicit schema (one less full read, and evolution is explicit).

Reference scope: the reference (dags/main.py) reads CSV only; this
extends the S-tier source family (CSV/Parquet/ORC/JSONL/binary/custom
Python datasource) with the remaining jar-free built-in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read XML files with one output row per ``<row_tag>`` element.

    Attributes surface as ``_attrname`` columns, element text of mixed
    nodes as ``_VALUE`` — the upstream spark-xml conventions, now core.
    Pass ``schema`` in production (inference = an extra full pass).
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def parse_xml_column(
    c: Column | str, schema: T.StructType | str, **options: str
) -> Column:
    """Parse an XML-string column into a typed struct (``from_xml``) —
    the column-level twin of :func:`read_xml` for XML that arrives
    EMBEDDED in another table (API payload columns, scraped snippets).
    Malformed input follows the parser's PERMISSIVE default, which is
    ROW-scoped: an unparsable field nulls the row's fields, a corrupt
    document nulls the struct — never a task failure. Corrupt rows are
    data at corpus scale (the ``sniff_media`` contract, applied to
    markup)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.from_xml(col, schema, options or None)


def to_xml_column(struct: Column | str, **options: str) -> Column:
    """Render a struct column back to an XML string (``to_xml``) —
    the sink-side twin, for feeds/exports that must leave as markup."""
    col = F.col(struct) if isinstance(struct, str) else struct
    return F.to_xml(col, options or None)
