"""Core relational queries: scans, filter/project, aggregates, top-k,
windows, casts, cleaning — the reference's §2 operator surface mapped
onto the driver testdata (SURVEY §7.3).

Every ``fn`` builds a declarative DataFrame plan (Catalyst handles
pushdown/pruning); every oracle is the equivalent DuckDB SQL with
matching column names and rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoestate_etl_spark.operators import aggregates as agg
from geoestate_etl_spark.operators import topk
from geoestate_etl_spark.operators.transforms import decade_of
from geoestate_etl_spark.plans.registry import QuerySpec
from geoestate_etl_spark.sources.parquet_io import table


# --- P1/P3/P7: projection + pushdown filter --------------------------------


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + 4-column projection; predicate and column pruning both
    reach the parquet scan (verify via .explain → PushedFilters)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# --- T3: the reference's signature filtered top-k (dags/main.py:489-495) ---


def q_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return topk.filtered_top_k(
        orders,
        F.col("o_totalprice") > 100.0,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        25,
        projection=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
    )


# --- A4: per-group min/max (dags/main.py:349-352) --------------------------


def q_minmax_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.group_min_max(
        table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        "max_price",
        "min_price",
    )


# --- A5/F10: decade histogram (dags/main.py:366-370) -----------------------


def q_decade_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return agg.histogram_by_bucket(
        orders, decade_of("o_orderdate"), "decade", "cnt"
    ).orderBy("decade")


# --- F1-F3: trim / regexp_replace / rlike on documents ---------------------


def q_cleaning_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.trim(F.col("text")).substr(1, 20).alias("head"),
        F.regexp_replace(F.col("text"), "[aeiou]", "").substr(1, 20).alias("novowel"),
        F.col("text").rlike("table").alias("has_table"),
    )


# NOTE (round 2): micro-queries that shared a surface were merged into
# plans/queries_suites.py so the whole registry fits the driver's
# 50-entry CORRECTNESS window (VERDICT r1 #1); their single-query
# wrappers were deleted (the suites express them directly against the
# operator layer). Old->new name map: SURVEY.md 8.0.
SPECS = [
    QuerySpec(
        "filter_project",
        q_filter_project,
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
        "FROM lineitem WHERE l_quantity > 30",
        "P1,P3,P7",
    ),
    QuerySpec(
        "filtered_topk",
        q_filtered_topk,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders "
        "WHERE o_totalprice > 100.0 "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25",
        "T3,S8",
    ),
    QuerySpec(
        "minmax_by_group",
        q_minmax_by_group,
        "SELECT l_returnflag, max(l_extendedprice) AS max_price, "
        "min(l_extendedprice) AS min_price FROM lineitem GROUP BY l_returnflag",
        "A4,T2",
    ),
    QuerySpec(
        "decade_histogram",
        q_decade_histogram,
        "SELECT CAST(floor(EXTRACT(year FROM o_orderdate) / 10) * 10 AS INTEGER) "
        "AS decade, count(*) AS cnt FROM orders GROUP BY decade ORDER BY decade",
        "A5,F10,F8",
    ),
    QuerySpec(
        "cleaning_normalize",
        q_cleaning_normalize,
        "SELECT doc_id, substr(trim(text), 1, 20) AS head, "
        "substr(regexp_replace(text, '[aeiou]', '', 'g'), 1, 20) AS novowel, "
        "regexp_matches(text, 'table') AS has_table FROM documents",
        "F1-F3,P4,P6",
    ),
]
