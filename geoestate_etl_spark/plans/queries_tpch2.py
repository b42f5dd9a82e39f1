"""TPC-H completion suite: the ten queries (q2 q4 q8 q9 q11 q12 q16
q19 q20 q21) the r4 suite in ``queries_advanced`` did not yet cover —
together they close the full 22-query TPC-H surface, every one
hash-oracled against an independently-formulated DuckDB twin.

Five of the ten (q2 q9 q11 q16 q20) need the ``partsupp`` table the
driver's slimmed testdata does not ship. dbgen itself DERIVES
partsupp's supplier assignment arithmetically from (partkey, supplier
count) — so we derive a deterministic partsupp the same way, with the
identical integer formula on both engines (:func:`derived_partsupp`
and the ``ps`` CTE in the oracle). No floats anywhere in the
derivation; the two sides agree bit-for-bit by construction, and the
oracle rebuilds it from scratch in SQL rather than reading any
committed artifact.

Schema adaptations (testdata lacks some TPC-H columns; each variant
keeps the ORIGINAL join/subquery shape and swaps only the filter
column — noted per variant below):

- no ``l_commitdate``/``l_receiptdate``: "late" lines are
  ``l_returnflag = 'R'`` (q4 q12 q21);
- no ``l_shipmode``: a two-valued mode is derived from
  ``l_linenumber`` parity (q12);
- no ``p_container``/``s_comment``/``c_phone``: the standing
  columns (p_size/p_brand/p_type bands, ``s_acctbal < 0``) take the
  filters' place (q16 q19);
- q11's spec fraction (0.0001/SF) bakes in the scale factor; the
  scale-free equivalent used here keeps parts whose value exceeds
  the MEAN part value — same HAVING-over-scalar-subquery shape,
  exact-integer cross-multiplied (``value·n_parts > total``).

Money and quantities travel as scaled BIGINTs per
docs/ORACLE_NOTES.md (per-row round at the scale, exact integer
sums); shares/ratios derive from the exact sums.

Reference parity: the reference (ArsenVasylyshyn/GeoEstate-ETL,
dags/main.py) has no joins at all — this suite is engine-declared
surface (SURVEY §2 'beyond'), sized for the 100 TB story: region/
nation/supplier/part dims broadcast, fact-side joins shuffle on their
keys only after dim filters are pushed into the scan, correlated
subqueries become partition-local window aggregates (q2) or grouped
twins (q17-style), and the q21 double-EXISTS is one per-order
aggregate + equi-join instead of two self-joins of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from geoestate_etl_spark.plans.queries_advanced import (
    _rev_e4,
    _tpch_null_pad,
)
from geoestate_etl_spark.plans.registry import QuerySpec
from geoestate_etl_spark.sources.parquet_io import table


# --------------------------------------------------------------------
# derived partsupp (dbgen-shaped, exact integers, both engines)
# --------------------------------------------------------------------

# 4 suppliers per part, dbgen-style arithmetic assignment: a per-part
# rotation (pk·7) plus CONSECUTIVE offsets i — the i=0..3 keys are
# consecutive mod S, so they are provably DISTINCT for any S ≥ 4
# (dbgen's own stride formula (pk + i·(S/4 + pk/S)) mod S relies on
# dbgen's scale ratios for distinctness and COLLIDES on this data:
# stride ≡ 0 or S/2 mod S duplicated (partkey, suppkey) pairs at
# sf0.001 — r4 review finding). availqty/supplycost are dbgen-uniform
# in spirit but derived from (pk, i) so both engines rebuild them
# without a shared artifact.
PS_SUPPLIERS_PER_PART = 4

PS_SQL_CTE = (
    "ps AS (SELECT CAST(p_partkey AS BIGINT) AS ps_partkey, "
    "(CAST(p_partkey AS BIGINT) * 7 + i) % s_cnt AS ps_suppkey, "
    "(CAST(p_partkey AS BIGINT) * 47 + i * 31) % 9999 + 1 AS ps_availqty, "
    "(CAST(p_partkey AS BIGINT) * 13 + i * 7) % 99900 + 100 AS ps_cost_cents "
    "FROM part CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier) "
    "CROSS JOIN range(4) t(i))"
)


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic partsupp derivation (Spark side of
    :data:`PS_SQL_CTE`): pure integer Column arithmetic over the part
    table crossed with a 1-row supplier-count broadcast — map-only
    after one tiny scalar agg, no shuffle, scales with the part dim.
    """
    sup = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("pk")
    )
    s_cnt = sup.agg(F.count("*").cast("long").alias("s_cnt"))
    return (
        part.crossJoin(F.broadcast(s_cnt))
        .select(
            "pk",
            "s_cnt",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(PS_SUPPLIERS_PER_PART - 1).cast("long"),
                )
            ).alias("i"),
        )
        .select(
            F.col("pk").alias("ps_partkey"),
            ((F.col("pk") * 7 + F.col("i")) % F.col("s_cnt")).alias(
                "ps_suppkey"
            ),
            ((F.col("pk") * 47 + F.col("i") * 31) % 9999 + 1).alias(
                "ps_availqty"
            ),
            ((F.col("pk") * 13 + F.col("i") * 7) % 99900 + 100).alias(
                "ps_cost_cents"
            ),
        )
    )


def q_tpch_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2/q4/q8/q9/q11/q12/q16/q19/q20/q21 as one tagged union
    (normalized to kind, k1, k2, v1..v8 like ``tpch_q1``).

    - ``q2``  minimum-cost supplier: the correlated MIN(ps_supplycost)
      subquery as a partition-local window MIN (one shuffle on
      partkey; integer cost → exact). EUROPE suppliers, LARGE parts
      of size ≤ 25 (adapted from size=15 + '%BRASS' for density).
    - ``q4``  order-priority checking: EXISTS(late line) as a
      LEFT SEMI join, group count by o_orderpriority.
    - ``q8``  national market share: 6-way join, per-year conditional
      share of NATION_11 suppliers in AMERICA-customer ECONOMY-part
      volume; share in ppm from the two exact e4 sums.
    - ``q9``  product-type profit: rev_e4 − cost_cents·qty·100 over
      lineitem ⋈ red-parts ⋈ derived partsupp ⋈ supplier ⋈ orders,
      by (supplier nation, order year).
    - ``q11`` important stock: partsupp value per part for NATION_7
      suppliers, HAVING value over the scalar mean (exact integer
      cross-multiply value·n_parts > total — the spec's 0.0001/SF
      fraction made scale-free).
    - ``q12`` shipmode priority: conditional agg of URGENT/HIGH vs
      other order priorities by derived mode over late 1996 lines.
    - ``q16`` parts/supplier relationship: COUNT(DISTINCT ps_suppkey)
      per (brand, type, size) bucket, suppliers with negative
      balance anti-joined out (the NOT IN complaints subquery).
    - ``q19`` disjunctive-predicate revenue: three (brand, size-band,
      qty-band) conjuncts OR-ed inside one lineitem ⋈ part pass.
    - ``q20`` potential promotion: partsupp availqty vs half the
      1996 shipped quantity per (part, supplier) — nested agg
      subquery as a grouped twin + exact 2·avail > qty compare,
      red-prefix parts, distinct suppliers via LEFT SEMI.
    - ``q21`` waiting suppliers: the EXISTS(other supplier) ∧
      NOT EXISTS(other LATE supplier) pair as ONE per-order
      aggregate (distinct suppliers, distinct late suppliers)
      equi-joined back to late lines — two fewer fact self-joins
      than the textbook plan; top-25 with suppkey tiebreak.

    Oracle: DuckDB runs the TEXTBOOK formulations (correlated MIN,
    EXISTS/NOT IN/NOT EXISTS subqueries) over the same parquet plus
    the SQL-rebuilt partsupp CTE — independent plans, same rows.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    sup = table(spark, sf_dir, "supplier")
    part = table(spark, sf_dir, "part")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    ps = derived_partsupp(spark, sf_dir)

    lsupp = F.col("l_suppkey").cast("long")
    lpart = F.col("l_partkey").cast("long")

    # --- q2: minimum-cost supplier (correlated MIN → window) -------
    eur_nat = F.broadcast(
        nat.join(
            F.broadcast(reg.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    sup_eur = F.broadcast(
        sup.join(eur_nat, F.col("s_nationkey") == F.col("n_nationkey")).select(
            F.col("s_suppkey").cast("long").alias("sk"),
            "s_name",
            "s_acctbal",
            "n_name",
        )
    )
    p2 = F.broadcast(
        part.filter((F.col("p_size") <= 25) & (F.col("p_type") == "LARGE")).select(
            F.col("p_partkey").cast("long").alias("pk2")
        )
    )
    q2_cand = (
        ps.join(p2, F.col("ps_partkey") == F.col("pk2"))
        .join(sup_eur, F.col("ps_suppkey") == F.col("sk"))
        .withColumn(
            "min_cost",
            F.min("ps_cost_cents").over(W.partitionBy("ps_partkey")),
        )
        .filter(F.col("ps_cost_cents") == F.col("min_cost"))
    )
    q2 = _tpch_null_pad(
        q2_cand.select(
            F.lit("q2").alias("kind"),
            F.col("s_name").alias("k1"),
            F.col("n_name").alias("k2"),
            F.col("ps_partkey").alias("v1"),
            F.col("ps_cost_cents").alias("v2"),
            F.round(F.col("s_acctbal") * 100).cast("long").alias("v3"),
        ),
        ["kind", "k1", "k2", "v1", "v2", "v3"],
    )

    # --- q4: order-priority checking (EXISTS → LEFT SEMI) ----------
    q4_base = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-07-01"))
            & (F.col("o_orderdate") < F.lit("1996-10-01"))
        )
        .join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )
    q4 = _tpch_null_pad(
        q4_base.select(
            F.lit("q4").alias("kind"),
            F.col("o_orderpriority").alias("k1"),
            F.col("order_count").alias("v1"),
        ),
        ["kind", "k1", "v1"],
    )

    # --- q8: national market share ---------------------------------
    amer_nat = F.broadcast(
        nat.join(
            F.broadcast(reg.filter(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("amer_nk"))
    )
    q8_base = (
        li.join(
            F.broadcast(
                part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01"))
            ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(amer_nat, F.col("c_nationkey") == F.col("amer_nk"), "left_semi")
        .join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("s_nationkey") == 11, _rev_e4()).otherwise(F.lit(0))
            ).alias("nat_e4"),
            F.sum(_rev_e4()).alias("tot_e4"),
        )
    )
    q8 = _tpch_null_pad(
        q8_base.select(
            F.lit("q8").alias("kind"),
            F.col("o_year").cast("long").alias("v1"),
            F.col("nat_e4").alias("v2"),
            F.col("tot_e4").alias("v3"),
            F.round(F.col("nat_e4") * 1_000_000.0 / F.col("tot_e4"))
            .cast("long")
            .alias("v4"),
        ),
        ["kind", "v1", "v2", "v3", "v4"],
    )

    # --- q9: product-type profit ------------------------------------
    red_parts = F.broadcast(
        part.filter(F.col("p_name").contains("red")).select(
            F.col("p_partkey").cast("long").alias("pk9")
        )
    )
    # filter ps down to red parts BEFORE the fact join: the 4×part
    # derived dim stays broadcast-sized after the 1/8 name cut
    ps_red = F.broadcast(ps.join(red_parts, F.col("ps_partkey") == F.col("pk9")))
    profit_e4 = _rev_e4() - (
        F.col("ps_cost_cents")
        * F.round(F.col("l_quantity")).cast("long")
        * F.lit(100)
    )
    q9_base = (
        li.join(
            ps_red,
            (lpart == F.col("ps_partkey")) & (lsupp == F.col("ps_suppkey")),
        )
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", "o_year")
        .agg(F.sum(profit_e4).alias("profit_e4"))
    )
    q9 = _tpch_null_pad(
        q9_base.select(
            F.lit("q9").alias("kind"),
            F.col("n_name").alias("k1"),
            F.col("o_year").cast("long").alias("v1"),
            F.col("profit_e4").alias("v2"),
        ),
        ["kind", "k1", "v1", "v2"],
    )

    # --- q11: important stock (HAVING over scalar subquery) --------
    sup7 = F.broadcast(
        sup.filter(F.col("s_nationkey") == 7).select(
            F.col("s_suppkey").cast("long").alias("sk11")
        )
    )
    q11_per_part = (
        ps.join(sup7, F.col("ps_suppkey") == F.col("sk11"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_cost_cents") * F.col("ps_availqty")).alias(
                "value_cents"
            )
        )
    )
    q11_tot = q11_per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    q11 = _tpch_null_pad(
        q11_per_part.crossJoin(F.broadcast(q11_tot))
        .filter(F.col("value_cents") * F.col("n_parts") > F.col("total_cents"))
        .select(
            F.lit("q11").alias("kind"),
            F.col("ps_partkey").alias("v1"),
            F.col("value_cents").alias("v2"),
        ),
        ["kind", "v1", "v2"],
    )

    # --- q12: shipmode priority (conditional agg) -------------------
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    q12_base = (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select(
            "l_orderkey",
            F.when(F.col("l_linenumber") % 2 == 0, F.lit("RAIL"))
            .otherwise(F.lit("SHIP"))
            .alias("l_mode"),
        )
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_mode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_cnt"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_cnt"),
        )
    )
    q12 = _tpch_null_pad(
        q12_base.select(
            F.lit("q12").alias("kind"),
            F.col("l_mode").alias("k1"),
            F.col("high_cnt").alias("v1"),
            F.col("low_cnt").alias("v2"),
        ),
        ["kind", "k1", "v1", "v2"],
    )

    # --- q16: parts/supplier relationship (NOT IN → anti join) -----
    q16_sizes = [1, 3, 9, 19, 23, 36, 45, 49]
    p16 = F.broadcast(
        part.filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(q16_sizes)
        ).select(
            F.col("p_partkey").cast("long").alias("pk16"),
            "p_brand",
            "p_type",
            "p_size",
        )
    )
    bad_sup = F.broadcast(
        sup.filter(F.col("s_acctbal") < 0).select(
            F.col("s_suppkey").cast("long").alias("bad_sk")
        )
    )
    q16_base = (
        ps.join(p16, F.col("ps_partkey") == F.col("pk16"))
        .join(bad_sup, F.col("ps_suppkey") == F.col("bad_sk"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )
    q16 = _tpch_null_pad(
        q16_base.select(
            F.lit("q16").alias("kind"),
            F.col("p_brand").alias("k1"),
            F.col("p_type").alias("k2"),
            F.col("p_size").cast("long").alias("v1"),
            F.col("supplier_cnt").alias("v2"),
        ),
        ["kind", "k1", "k2", "v1", "v2"],
    )

    # --- q19: disjunctive-predicate revenue -------------------------
    p19 = F.broadcast(part.select("p_partkey", "p_brand", "p_size"))
    qty = F.col("l_quantity")
    disj = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    q19_base = (
        li.join(p19, F.col("l_partkey") == F.col("p_partkey"))
        .filter(disj)
        .agg(F.sum(_rev_e4()).alias("rev_e4"), F.count("*").alias("n_rows"))
    )
    q19 = _tpch_null_pad(
        q19_base.select(
            F.lit("q19").alias("kind"),
            F.col("rev_e4").alias("v1"),
            F.col("n_rows").alias("v2"),
        ),
        ["kind", "v1", "v2"],
    )

    # --- q20: potential part promotion (nested agg subquery) -------
    red_pref = F.broadcast(
        part.filter(F.col("p_name").startswith("red")).select(
            F.col("p_partkey").cast("long").alias("pk20")
        )
    )
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(red_pref, lpart == F.col("pk20"), "left_semi")
        .groupBy(
            lpart.alias("sh_pk"),
            lsupp.alias("sh_sk"),
        )
        .agg(F.sum(F.round(qty).cast("long")).alias("qty_shipped"))
    )
    q20_supp = (
        ps.join(red_pref, F.col("ps_partkey") == F.col("pk20"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("sh_pk"))
            & (F.col("ps_suppkey") == F.col("sh_sk")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty_shipped"))
        .select("ps_suppkey")
        .distinct()
    )
    q20 = _tpch_null_pad(
        sup.select(F.col("s_suppkey").cast("long").alias("sk20"), "s_name")
        .join(q20_supp, F.col("sk20") == F.col("ps_suppkey"), "left_semi")
        .select(
            F.lit("q20").alias("kind"),
            F.col("s_name").alias("k1"),
            F.col("sk20").alias("v1"),
        ),
        ["kind", "k1", "v1"],
    )

    # --- q21: suppliers who kept orders waiting ---------------------
    li_f = li.join(
        orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    ).select("l_orderkey", "l_suppkey", "l_returnflag")
    per_order = li_f.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    q21_base = (
        li_f.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("lo"), "l_suppkey")
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            F.col("lo") == F.col("l_orderkey"),
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(
            F.broadcast(sup.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(25)
    )
    q21 = _tpch_null_pad(
        q21_base.select(
            F.lit("q21").alias("kind"),
            F.col("s_name").alias("k1"),
            F.col("numwait").alias("v1"),
            F.col("s_suppkey").cast("long").alias("v2"),
        ),
        ["kind", "k1", "v1", "v2"],
    )

    out = q2
    for v in (q4, q8, q9, q11, q12, q16, q19, q20, q21):
        out = out.unionByName(v)
    return out


_NULLS = (
    "CAST(NULL AS BIGINT) AS v{}, "
)


def _pad_sql(used_v: int, total: int = 8) -> str:
    """NULL-pad v{used_v+1}..v{total} (oracle-side _tpch_null_pad)."""
    return "".join(_NULLS.format(i) for i in range(used_v + 1, total + 1)).rstrip(", ")


TPCH2_ORACLE = (
    "WITH "
    + PS_SQL_CTE
    + ", "
    # q2: textbook correlated-MIN subquery over EUROPE suppliers
    "eur AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), "
    "p2 AS (SELECT CAST(p_partkey AS BIGINT) AS pk2 FROM part "
    "WHERE p_size <= 25 AND p_type = 'LARGE'), "
    "q2c AS (SELECT ps_partkey, ps_cost_cents, s_name, s_acctbal, n_name "
    "FROM ps JOIN p2 ON ps_partkey = pk2 "
    "JOIN eur ON ps_suppkey = s_suppkey), "
    "q2 AS (SELECT 'q2' AS kind, s_name AS k1, n_name AS k2, "
    "ps_partkey AS v1, ps_cost_cents AS v2, "
    "CAST(round(s_acctbal * 100) AS BIGINT) AS v3, "
    + _pad_sql(3)
    + " FROM q2c o WHERE ps_cost_cents = (SELECT min(i.ps_cost_cents) "
    "FROM q2c i WHERE i.ps_partkey = o.ps_partkey)), "
    # q4: textbook EXISTS
    "q4 AS (SELECT 'q4' AS kind, o_orderpriority AS k1, "
    "CAST(NULL AS VARCHAR) AS k2, count(*) AS v1, "
    + _pad_sql(1)
    + " FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01' "
    "AND o_orderdate < TIMESTAMP '1996-10-01' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_returnflag = 'R') GROUP BY o_orderpriority), "
    # q8: conditional share per year
    "q8v AS (SELECT year(o_orderdate) AS o_year, s_nationkey, "
    "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS rev_e4 "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY' "
    "AND o_orderdate >= TIMESTAMP '1995-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-01-01'), "
    "q8 AS (SELECT 'q8' AS kind, CAST(NULL AS VARCHAR) AS k1, "
    "CAST(NULL AS VARCHAR) AS k2, CAST(o_year AS BIGINT) AS v1, "
    "CAST(sum(CASE WHEN s_nationkey = 11 THEN rev_e4 ELSE 0 END) AS BIGINT) AS v2, "
    "CAST(sum(rev_e4) AS BIGINT) AS v3, "
    "CAST(round(sum(CASE WHEN s_nationkey = 11 THEN rev_e4 ELSE 0 END) "
    "* 1000000.0 / sum(rev_e4)) AS BIGINT) AS v4, "
    + _pad_sql(4)
    + " FROM q8v GROUP BY o_year), "
    # q9: profit by nation/year over the ps CTE
    "q9 AS (SELECT 'q9' AS kind, n_name AS k1, CAST(NULL AS VARCHAR) AS k2, "
    "CAST(year(o_orderdate) AS BIGINT) AS v1, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) "
    "- ps_cost_cents * CAST(round(l_quantity) AS BIGINT) * 100) AS BIGINT) AS v2, "
    + _pad_sql(2)
    + " FROM lineitem "
    "JOIN part ON l_partkey = p_partkey "
    "JOIN ps ON CAST(l_partkey AS BIGINT) = ps_partkey "
    "AND CAST(l_suppkey AS BIGINT) = ps_suppkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE '%red%' GROUP BY n_name, year(o_orderdate)), "
    # q11: HAVING over the scalar mean (cross-multiplied)
    "q11p AS (SELECT ps_partkey, "
    "CAST(sum(ps_cost_cents * ps_availqty) AS BIGINT) AS value_cents "
    "FROM ps JOIN supplier ON ps_suppkey = CAST(s_suppkey AS BIGINT) "
    "WHERE s_nationkey = 7 GROUP BY ps_partkey), "
    "q11 AS (SELECT 'q11' AS kind, CAST(NULL AS VARCHAR) AS k1, "
    "CAST(NULL AS VARCHAR) AS k2, ps_partkey AS v1, value_cents AS v2, "
    + _pad_sql(2)
    + " FROM q11p WHERE value_cents * (SELECT count(*) FROM q11p) "
    "> (SELECT sum(value_cents) FROM q11p)), "
    # q12: conditional agg by derived mode
    "q12 AS (SELECT 'q12' AS kind, "
    "CASE WHEN l_linenumber % 2 = 0 THEN 'RAIL' ELSE 'SHIP' END AS k1, "
    "CAST(NULL AS VARCHAR) AS k2, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS v1, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 0 ELSE 1 END) AS BIGINT) AS v2, "
    + _pad_sql(2)
    + " FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE l_returnflag = 'R' "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY CASE WHEN l_linenumber % 2 = 0 THEN 'RAIL' ELSE 'SHIP' END), "
    # q16: NOT IN complaints subquery
    "q16 AS (SELECT 'q16' AS kind, p_brand AS k1, p_type AS k2, "
    "CAST(p_size AS BIGINT) AS v1, "
    "CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS v2, "
    + _pad_sql(2)
    + " FROM ps JOIN part ON ps_partkey = CAST(p_partkey AS BIGINT) "
    "WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO' "
    "AND p_size IN (1, 3, 9, 19, 23, 36, 45, 49) "
    "AND ps_suppkey NOT IN (SELECT CAST(s_suppkey AS BIGINT) FROM supplier "
    "WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size), "
    # q19: disjunctive predicate
    "q19 AS (SELECT 'q19' AS kind, CAST(NULL AS VARCHAR) AS k1, "
    "CAST(NULL AS VARCHAR) AS k2, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS v1, "
    "count(*) AS v2, "
    + _pad_sql(2)
    + " FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 "
    "AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10 "
    "AND l_quantity BETWEEN 10 AND 20) "
    "OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity BETWEEN 20 AND 30)), "
    # q20: nested agg subquery, textbook correlated form
    "q20 AS (SELECT 'q20' AS kind, s_name AS k1, CAST(NULL AS VARCHAR) AS k2, "
    "CAST(s_suppkey AS BIGINT) AS v1, "
    + _pad_sql(1)
    + " FROM supplier WHERE s_suppkey IN ("
    "SELECT ps_suppkey FROM ps "
    "WHERE ps_partkey IN (SELECT CAST(p_partkey AS BIGINT) FROM part "
    "WHERE p_name LIKE 'red%') "
    "AND ps_availqty * 2 > (SELECT sum(CAST(round(l_quantity) AS BIGINT)) "
    "FROM lineitem WHERE CAST(l_partkey AS BIGINT) = ps_partkey "
    "AND CAST(l_suppkey AS BIGINT) = ps_suppkey "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01'))), "
    # q21: textbook EXISTS / NOT EXISTS pair
    "q21 AS (SELECT 'q21' AS kind, s_name AS k1, CAST(NULL AS VARCHAR) AS k2, "
    "numwait AS v1, CAST(s_suppkey AS BIGINT) AS v2, "
    + _pad_sql(2)
    + " FROM (SELECT s_name, s_suppkey, count(*) AS numwait "
    "FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
    "JOIN orders ON o_orderkey = l1.l_orderkey "
    "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' "
    "AND EXISTS (SELECT 1 FROM lineitem l2 "
    "WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
    "WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') "
    "GROUP BY s_name, s_suppkey "
    "ORDER BY numwait DESC, s_suppkey ASC LIMIT 25)) "
    "SELECT * FROM q2 UNION ALL SELECT * FROM q4 "
    "UNION ALL SELECT * FROM q8 UNION ALL SELECT * FROM q9 "
    "UNION ALL SELECT * FROM q11 UNION ALL SELECT * FROM q12 "
    "UNION ALL SELECT * FROM q16 UNION ALL SELECT * FROM q19 "
    "UNION ALL SELECT * FROM q20 UNION ALL SELECT * FROM q21"
)


SPECS = [
    QuerySpec(
        "tpch_suite2",
        q_tpch_suite2,
        TPCH2_ORACLE,
        "tpch-suite-2 (q2 q4 q8 q9 q11 q12 q16 q19 q20 q21 — "
        "completes the 22-query TPC-H surface with tpch_q1)",
    ),
]
