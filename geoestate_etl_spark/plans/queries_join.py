"""Join-family queries over the testdata star schema (SURVEY §2.3/§7.2-5).

The reference is join-free; these declare the engine's join surface
with the physical strategy chosen for scale: broadcast for dims
(region/nation: KBs even at 100 TB fact scale), sort-merge for
fact⋈fact (the semi/anti existence joins live in
``queries_suites.semi_anti_join``). AQE may downgrade merge→broadcast
at runtime — that's desired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geoestate_etl_spark.operators.joins import broadcast_dim_join, sortmerge_join
from geoestate_etl_spark.plans.registry import QuerySpec
from geoestate_etl_spark.sources.parquet_io import table


def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer⋈nation⋈region rollup to region revenue.

    Dims broadcast (nation/region are tiny; customer is the largest
    dim — at real scale it shuffles, here AQE decides). Aggregate is
    partial+final hash agg on r_name.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = table(spark, sf_dir, "region")

    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    joined = broadcast_dim_join(joined, nation, on=[joined.c_nationkey == nation.n_nationkey])
    joined = broadcast_dim_join(joined, region, on=[joined.n_regionkey == region.r_regionkey])
    # revenue as BIGINT cents: per-row round-to-integer then an exact
    # integer sum — round(sum(double), 2) re-rounds are the r2/r3
    # cross-engine hash-risk class (see docs/ORACLE_NOTES.md)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        joined.groupBy("r_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("r_name")
    )


def q_lineitem_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact rollup on l_orderkey=o_orderkey, in two EXECUTION
    variants certified by one oracle:

    - ``plain``: sort-merge join (the shuffle-on-key baseline).
    - ``salted``: :func:`operators.skew.adaptive_skew_join` with a
      forced hot-key list (orderkeys ≡ 0 mod 10), so BOTH strata run
      for real — the hot 10% through the replicated salted join, the
      cold 90% through the plain equi-join. Salting is
      semantics-preserving (each fact row meets exactly one dim
      replica), so the variant must hash-match the same SQL — this
      upgrades the skew machinery from stress-test-only to a driver
      hash-match row. ``sum(l_quantity)`` is integer-valued, so the
      strata-order-dependent float summation is still exact.
    """
    from geoestate_etl_spark.operators.skew import adaptive_skew_join

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")

    def rollup(joined: DataFrame) -> DataFrame:
        return joined.groupBy("o_orderpriority").agg(
            F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n_items")
        )

    plain = rollup(
        sortmerge_join(li, orders, on=[li.l_orderkey == orders.o_orderkey])
    ).select(F.lit("plain").alias("variant"), "o_orderpriority", "sum_qty", "n_items")
    dim = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    hot = dim.select("l_orderkey").filter(F.col("l_orderkey") % 10 == 0)
    salted = rollup(adaptive_skew_join(li, dim, ["l_orderkey"], hot=hot)).select(
        F.lit("salted").alias("variant"), "o_orderpriority", "sum_qty", "n_items"
    )
    return plain.unionByName(salted).orderBy("variant", "o_orderpriority")


def q_parts_top_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join lineitem⋈part⋈supplier + per-part revenue top-20.

    part/supplier broadcast; top-k via TakeOrderedAndProject.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = broadcast_dim_join(li, part, on=[li.l_partkey == part.p_partkey])
    joined = broadcast_dim_join(joined, supp, on=[joined.l_suppkey == supp.s_suppkey])
    # per-row discounted price is an exact 4-decimal rational (2dp
    # price x (1 - 2dp discount)); carry it as integer hundredths of a
    # cent so the sum is exact and hash-stable across engines
    hcents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10_000
    ).cast("long")
    rev = joined.groupBy("p_partkey", "p_name").agg(
        F.sum(hcents).alias("part_revenue_hc")
    )
    return rev.orderBy(F.desc("part_revenue_hc"), F.asc("p_partkey")).limit(20)


SPECS = [
    QuerySpec(
        "star_revenue",
        q_star_revenue,
        "SELECT r_name, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents, "
        "count(*) AS n_orders "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name ORDER BY r_name",
        "join-broadcast-star",
    ),
    QuerySpec(
        "lineitem_orders_join",
        q_lineitem_orders_join,
        "WITH b AS (SELECT o_orderpriority, sum(l_quantity) AS sum_qty, "
        "count(*) AS n_items FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey GROUP BY o_orderpriority) "
        "SELECT 'plain' AS variant, o_orderpriority, sum_qty, n_items FROM b "
        "UNION ALL "
        "SELECT 'salted', o_orderpriority, sum_qty, n_items FROM b",
        "join-sortmerge + adaptive-salted (one oracle, both strategies)",
    ),
    # semi/anti joins merged into queries_suites.semi_anti_join (r2)
    QuerySpec(
        "parts_top_value",
        q_parts_top_value,
        "SELECT p_partkey, p_name, "
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) "
        "AS BIGINT) AS part_revenue_hc "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "GROUP BY p_partkey, p_name "
        "ORDER BY part_revenue_hc DESC, p_partkey ASC LIMIT 20",
        "join-3way-topk",
    ),
]
