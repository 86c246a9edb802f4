"""Extended TPC-H-shape query battery (SURVEY.md §2.3-2.6 hardening).

The reference reaches every one of these constructs through SQL
pass-through (/root/reference/risingwave/core.py:161-212, fetch) and
MV definitions (/root/reference/risingwave/core.py:453-455); the
constructs exercised here are the ones its PG-compatible server
surface supports that the earlier inventory modules did not yet
cover end-to-end:

  - correlated scalar subqueries (Q17 shape) — Catalyst decorrelates
    into an aggregate + join, no per-row re-execution;
  - EXISTS semi-join driving an aggregate (Q4 shape);
  - scalar subquery against the whole table (Q22 shape);
  - group-by-HAVING feeding a join back against the fact (Q18);
  - OR-of-ANDs join predicates (Q19) — kept as a single equi-join on
    partkey with the OR residual as a post-join filter so the join
    stays hash-based (a naive translation makes it a nested-loop);
  - two-sided dimension chains (Q7/Q8/Q9 shapes).

The testdata schema omits partsupp / l_commitdate / l_receiptdate /
l_shipmode, so queries needing those are *adapted*: the join/subquery
topology (what's being tested) is preserved, the missing column is
substituted (o_orderdate vs l_shipdate for lateness, p_retailprice
for ps_supplycost), and the substitution is noted per query.

Scale notes (100 TB): every dimension side (region/nation/supplier/
part/customer) is broadcast explicitly — at any realistic scale they
stay orders of magnitude below lineitem/orders, so no fact shuffle is
spent on them. Fact-table date filters are applied before joins so
they reach the parquet scan. All money math is DECIMAL(12,2)-exact
(see relational.py header) so results are partition-order-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from risingwave_py_spark.catalog import table
from risingwave_py_spark.operators.relational import (
    _REV_E4,
    _REV_SUM,
    _cents,
    _limb_sum,
    _limb_total,
    dsum,
    limb_sum,
    money,
    rev_e4,
    rev_sum,
)
from risingwave_py_spark.registry import _sql_query, register

_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
)


@register(
    "q4_order_priority",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join feeding an aggregate.

    Adapted: lateness predicate is ``l_shipdate > o_orderdate``
    (testdata has no l_commitdate/l_receiptdate). The semi-join keeps
    only orderkeys — no lineitem payload columns cross the shuffle,
    and the quarter filter prunes orders at the scan.
    """
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


_sql_query(
    "q6_forecast_revenue",
    f"""
    SELECT {_limb_sum(f"{_cents('l_extendedprice')} * {_cents('l_discount')}", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24.0
    """,
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24.0
    """,
)


_sql_query(
    "q7_volume_shipping",
    f"""
    WITH s AS (SELECT s_suppkey, n_name AS supp_nation
               FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         c AS (SELECT c_custkey, n_name AS cust_nation
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT /*+ BROADCAST(s, c) */
           supp_nation, cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN s ON li.l_suppkey = s.s_suppkey
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    JOIN c ON o.o_custkey = c.c_custkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
        OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             {_REV_SQL} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL} AS volume,
             n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — conditional-sum ratio over a
    5-table dimension chain. All dimensions broadcast; the only
    shuffles are lineitem↔orders and the final 2-group aggregate."""
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = (
        table(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(F.lit("1996-01-01"), F.lit("1997-12-31"))
    )
    li = table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
    )
    zero = F.lit(0).cast("long")
    vol = rev_e4()
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (
                limb_sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(zero), 4)
                / limb_sum(vol, 4)
            ).cast("double").alias("mkt_share")
        )
    )


# Q9 adapted: supply cost is 0.10 * p_retailprice (testdata has no
# partsupp). Both terms of the amount are non-negative, so each sums
# through an exact e6-scaled limb total and the DIFFERENCE is taken in
# DECIMAL before the single double cast — bit-equal to summing the
# signed decimal amount.
_sql_query(
    "q9_profit_by_nation",
    f"""
    WITH p AS (SELECT p_partkey, p_retailprice FROM part WHERE p_name LIKE '%gear%'),
         s AS (SELECT s_suppkey, n_name AS nation
               FROM supplier JOIN nation ON s_nationkey = n_nationkey)
    SELECT /*+ BROADCAST(p, s), SHUFFLE_HASH(o) */
           nation, CAST(year(o_orderdate) AS INT) AS o_year,
           (CAST(({_limb_total(f"({_REV_E4}) * 100")}
                  - {_limb_total(f"{_cents('p_retailprice')} * 10 * {_cents('l_quantity')}")})
                 AS DOUBLE) / 1000000.0) AS sum_profit
    FROM lineitem li
    JOIN p ON li.l_partkey = p.p_partkey
    JOIN s ON li.l_suppkey = s.s_suppkey
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    GROUP BY nation, o_year
    """,
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL}
               - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.10 AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(100.00 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                / CAST(SUM({_REV_SQL}) AS DOUBLE) AS DOUBLE) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month.

    Adapted: testdata p_type is a flat enum, so the predicate is
    equality rather than ``LIKE 'PROMO%'``. Month filter prunes the
    fact scan; part broadcasts.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("long")
    rev = rev_e4()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * limb_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero), 4)
                / limb_sum(rev, 4)
            ).cast("double").alias("promo_revenue")
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REV_SQL}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) hitting the quarter's max revenue.

    The scalar-subquery-on-aggregate is expressed as a rank-1 window
    over an empty partition — one extra exchange over the (tiny,
    one-row-per-supplier) aggregate, never over lineitem.
    """
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(rev_sum().alias("total_revenue"))
    )
    top = (
        rev.withColumn("rnk", F.rank().over(W.orderBy(F.col("total_revenue").desc())))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return top.join(F.broadcast(s), top.supplier_no == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@register(
    "q17_small_qty_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#13'
      AND l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
        FROM lineitem WHERE l_partkey = p_partkey
      )
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery (per-part avg quantity).

    Decorrelated by hand the same way Catalyst would: one pass
    computes avg(l_quantity) per partkey, broadcast back onto the
    fact rows of the brand's parts. The per-part average uses
    decimal-exact sum/count so both engines agree bit-for-bit.
    """
    li = table(spark, sf_dir, "lineitem")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    part_avg = (
        li.groupBy("l_partkey")
        .agg((dsum("l_quantity") / F.count("*")).alias("avg_qty"))
        .withColumnRenamed("l_partkey", "ap_partkey")
    )
    return (
        branded.join(F.broadcast(part_avg), branded.l_partkey == part_avg.ap_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).cast("double").alias("avg_yearly"))
    )


_sql_query(
    "q18_large_volume_customer",
    f"""
    WITH oq AS (SELECT l_orderkey, SUM({_cents('l_quantity')}) AS qty_cents
                FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM({_cents('l_quantity')}) > 27000)
    SELECT /*+ BROADCAST(c), SHUFFLE_HASH(o) */
           c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(CAST(qty_cents AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_qty
    FROM oq
    JOIN orders o   ON oq.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 270
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
# q18 scale note: the per-orderkey quantity sums are computed ONCE and
# reused for BOTH the HAVING gate and the output column — the previous
# form (semi-join against a HAVING subplan, then re-aggregate) scanned
# and shuffled lineitem twice. SHUFFLE_HASH(o): orders is a FACT table
# — at sizes just under the broadcast threshold Spark's static planner
# would broadcast 1.2M+ rows (measured +35% at the 8x scaling probe,
# SCALE.md round 6); the hash join shuffles only orders, since oq
# already carries hash partitioning on l_orderkey from its GROUP BY.
# Same reasoning on q9's orders join (measured -10% at 8x).


# Q19: an equi-join on partkey with the OR-of-ANDs as a residual
# filter keeps the broadcast-hash join (folding the OR into the join
# condition would force a nested loop); the derivable prefilters
# (p_size <= 35, l_quantity <= 30) reach both scans.
_sql_query(
    "q19_disc_revenue_or",
    f"""
    SELECT /*+ BROADCAST(p) */ {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN part p ON li.l_partkey = p.p_partkey
    WHERE l_quantity BETWEEN 1 AND 30
      AND p_size BETWEEN 1 AND 35
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
)


@register(
    "q22_prospect_customers",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_prospect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery + NOT EXISTS.

    Adapted: grouped by c_nationkey (testdata has no c_phone country
    code), and "never placed an order" becomes "no order since
    2000-01-01" so the anti-join side is non-empty at every sf. The
    global average is a one-row broadcast cross-join; the NOT EXISTS
    is a left-anti join against the (date-pruned) orders keys only.
    """
    c = table(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg((dsum("c_acctbal") / F.count("*")).alias("avg_bal"))
    )
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation over a filtered left-outer join.

    Adapted: the join-side filter is on o_orderpriority (testdata has
    no o_comment). COUNT(o_orderkey) counts matched rows only —
    unmatched customers land in the c_count=0 bucket, which is why the
    filter must live in the join condition, not a WHERE. The second
    aggregate runs on one row per customer — tiny.
    """
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps.partkey AND s_suppkey = ps.suppkey
      AND p_size = 15 AND p_type = 'LARGE'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_acctbal = (
        SELECT MIN(s_acctbal)
        FROM ps ps2, supplier s2, nation n2, region r2
        WHERE p_partkey = ps2.partkey AND s2.s_suppkey = ps2.suppkey
          AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum over a correlated subquery.

    Adapted: partsupp is surrogated by the DISTINCT (l_partkey,
    l_suppkey) pairs in lineitem, and the minimized metric is
    s_acctbal (no ps_supplycost in testdata). The correlated MIN is
    decorrelated as a rank-1 window per partkey — one pass over the
    (small) part↔supplier relation, never over lineitem. ORDER BY has
    a full tiebreak so top-100 is deterministic.
    """
    from pyspark.sql import Window as W

    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .distinct()
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_name")
    )
    joined = (
        ps.join(F.broadcast(s), ps.suppkey == s.s_suppkey)
        .join(F.broadcast(p), ps.partkey == p.p_partkey)
    )
    ranked = joined.withColumn(
        "__rk", F.rank().over(W.partitionBy("partkey").orderBy(F.col("s_acctbal").asc()))
    )
    return (
        ranked.filter(F.col("__rk") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q11_important_stock",
    oracle="""
    WITH ps AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_1'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
    FROM ps
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.001 FROM ps)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped aggregate HAVING-compared against an
    uncorrelated scalar subquery over the SAME aggregate.

    Adapted: partsupp value is surrogated by the lineitem revenue per
    partkey from NATION_1 suppliers (testdata has no ps_availqty/
    ps_supplycost). The per-part aggregate is computed once and
    reused for both the rows and the global threshold (a one-row
    broadcast) — the fact table is scanned exactly once. The threshold
    compare happens in double on both engines (decimal sums cast
    before the multiply) so the boundary is bit-identical.
    """
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    ps = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(money("l_extendedprice")).alias("value_dec"))
    )
    total = ps.agg((F.sum("value_dec").cast("double") * F.lit(0.001)).alias("threshold"))
    return (
        ps.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("threshold"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
    )


@register(
    "q12_late_lines_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_returnflag
    """,
)
def q12_late_lines_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + priority-conditional counts.

    Adapted: grouping is by l_returnflag (testdata has no l_shipmode)
    and "late" is shipped >30 days after order date (no l_commitdate/
    l_receiptdate). Both fact sides are pruned to join + predicate
    columns only before the one orderkey shuffle; the conditional
    counts are a map-side partial aggregate over 3 groups.
    """
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q16_supplier_cnt",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#13'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    with a NOT-IN supplier exclusion.

    Adapted: partsupp = DISTINCT (l_partkey, l_suppkey) pairs from
    lineitem; "complaint" suppliers (no s_comment column) are those
    with negative account balance. NOT IN is an anti-join — valid
    because s_suppkey is never NULL; the excluded-supplier set and the
    filtered part dimension both broadcast.
    """
    ps = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_promotion_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey AND n_name = 'NATION_2'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem, part
        WHERE l_partkey = p_partkey AND p_name LIKE '%gear%'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                         AND l_shipdate <  TIMESTAMP '1998-01-01'
                        THEN CAST(l_quantity AS DECIMAL(12,2))
                        ELSE CAST(0 AS DECIMAL(12,2)) END)
             > CAST(0.3 AS DECIMAL(12,2)) * SUM(CAST(l_quantity AS DECIMAL(12,2)))
      )
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested correlated-aggregate qualification
    driving a supplier semi-join.

    Adapted: "availqty > half of shipped qty" becomes "1997 shipped
    qty > 30% of all-time shipped qty" per (supplier, part) pair over
    '%gear%' parts (no partsupp in testdata). Both sides of the HAVING
    are decimal-exact so the strict > has no float boundary. The part
    filter broadcasts; lineitem aggregates once; only qualified
    suppkeys (tiny) reach the supplier join.
    """
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    zero = F.lit(0).cast("decimal(12,2)")
    in_97 = (F.col("l_shipdate") >= F.lit("1997-01-01")) & (
        F.col("l_shipdate") < F.lit("1998-01-01")
    )
    qualified = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_97, money("l_quantity")).otherwise(zero)).alias("qty97"),
            F.sum(money("l_quantity")).alias("qty_all"),
        )
        .filter(F.col("qty97") > F.lit(0.3).cast("decimal(12,2)") * F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi"
    )
    return s.join(
        F.broadcast(qualified), s.s_suppkey == qualified.l_suppkey, "left_semi"
    ).select("s_name", "s_acctbal")


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS self-joins on the fact
    ("the one supplier who held up a multi-supplier order").

    Adapted: "late" is shipped >60 days after order date (no
    l_receiptdate/l_commitdate). Instead of two correlated self-joins
    (three passes over lineitem), the order-level facts are computed
    in ONE grouped pass — distinct suppliers and distinct late
    suppliers per order — and an order qualifies iff ns >= 2 and
    nlate == 1; the late line rows of qualified orders are then
    counted per supplier. Same semantics, one shuffle on orderkey
    instead of three.
    """
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "__late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    ord_stats = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("ns"),
        F.countDistinct(F.when(F.col("__late"), F.col("l_suppkey"))).alias("nlate"),
    )
    qual = (
        ord_stats.filter((F.col("ns") >= 2) & (F.col("nlate") == 1))
        .select(F.col("l_orderkey").alias("q_orderkey"))
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_4")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
    return (
        j.filter(F.col("__late"))
        .join(qual, F.col("l_orderkey") == F.col("q_orderkey"), "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
