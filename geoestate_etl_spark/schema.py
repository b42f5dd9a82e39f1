"""Canonical schemas.

The reference's single data abstraction is a flat 12-column "houses"
table (ClickHouse DDL at ``dags/main.py:114-127``; Spark casts at
``dags/main.py:266-277``). We declare it as an explicit StructType —
never ``inferSchema`` in the production path (SURVEY §1.3: inference
is only the reference's phase-1 trick for dirty CSV, reproduced in
``sources.csv_source``).

The driver testdata star schema (TESTDATA.md / FIXTURES.md §A) is
declared too so scans can assert schema contracts and so readers can
prune columns against a known shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- houses: the reference's canonical table (dags/main.py:114-127,266-277) ---

HOUSES_SCHEMA = T.StructType(
    [
        T.StructField("house_id", T.IntegerType()),
        T.StructField("latitude", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("maintenance_year", T.DateType()),
        T.StructField("square", T.DoubleType()),
        T.StructField("population", T.IntegerType()),
        T.StructField("region", T.StringType()),
        T.StructField("locality_name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("full_address", T.StringType()),
        T.StructField("communal_service_id", T.IntegerType()),
        T.StructField("description", T.StringType()),
    ]
)

#: The raw CSV as read (everything string until cleaned+cast; SURVEY §1.3).
HOUSES_RAW_SCHEMA = T.StructType(
    [T.StructField(f.name, T.StringType()) for f in HOUSES_SCHEMA.fields]
)

#: Text columns that must be non-null and non-blank (dags/main.py:189-194).
#: Exactly the reference's ``valid_text_fields`` set — note it does NOT
#: require ``full_address`` (a derived display column), and it DOES
#: include ``communal_service_id`` (whose not-blank check is subsumed by
#: the later integer-format predicate but kept for fidelity).
HOUSES_TEXT_REQUIRED = [
    "region",
    "address",
    "description",
    "locality_name",
    "communal_service_id",
]

# --- driver testdata star schema (FIXTURES.md §A) ---

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
