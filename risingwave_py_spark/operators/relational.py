"""Relational operator inventory (SURVEY.md §2.2-2.7).

The reference delegates all of these to its PG-compatible server via
SQL pass-through (/root/reference/risingwave/core.py:161-212); here
each is expressed Spark-first with the DataFrame API so Catalyst gets
pushdown / pruning / join selection / AQE for free.

Scale notes (100 TB):
  - fact-side filters appear BEFORE joins so they reach the parquet
    scan (PushedFilters) and prune row groups;
  - dimension sides of joins are broadcast() explicitly when they are
    bounded (region/nation always; customer/supplier/part at any sf
    they remain << lineitem) — no shuffle of the fact table for them;
  - aggregations are expressed as single groupBy.agg so Tungsten does
    partial (map-side) aggregation before the shuffle;
  - every top-k is window-or-orderBy+limit with a total deterministic
    ordering (ties broken by key) so results are stable under any
    partitioning.

The benched shapes (q1/q3/q5/q10, agg_rollup, agg_distinct_multi) are
each one Spark SQL statement (`registry._sql_query`): the same plans,
with `/*+ BROADCAST */` hints for the dimension broadcasts and the SQL
twins of the exact-money helpers below.

Determinism vs the DuckDB oracle: money columns go through
DECIMAL(12,2) arithmetic (exact in both engines) and are only cast to
DOUBLE at the end — bit-identical results regardless of partitioning
or accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from risingwave_py_spark.catalog import table
from risingwave_py_spark.registry import _sql_query, register


def money(c) -> F.Column:
    """Exact 2-decimal fixed-point view of a double money column."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(12,2)")


# Exact money aggregation, fast path. Spark sums DECIMAL(p,s) into a
# DECIMAL(p+10,s) buffer; past 18 digits that buffer leaves the
# long-backed fast path and every row pays a BigDecimal add (~4× on
# TPC-H Q1, measured). The equivalent-exact fast formulation keeps the
# accumulator in int64:
#   - plain 2dp money sums accumulate long "cents" (|cents| <= 1e7 →
#     safe to ~9e11 rows per group, beyond 100 TB per-group row counts);
#   - wide products (price*(1-disc)[*(1+tax)], 1e4/1e6-scaled, up to
#     ~2^37 per row) would overflow int64 around SF~100 per group, so
#     they split into 21-bit limbs summed separately — exact to 2^42
#     rows PER GROUP (≈4e12, comfortably past 100 TB), recombined in
#     DECIMAL(38) once per group.
# Results are bit-identical to the DECIMAL formulation (verified on
# the full battery vs the DuckDB DECIMAL oracle). Precondition for
# `cents`: the double column carries at most 2 fractional digits
# (true of every money column here); arbitrary-precision inputs must
# use the DECIMAL path instead.
_LIMB_BITS = 21
_LIMB = 1 << _LIMB_BITS  # 2097152
_MASK = _LIMB - 1  # 2097151


def cents(c) -> F.Column:
    """Long cents of an exact-2dp double money column."""
    c = F.col(c) if isinstance(c, str) else c
    return F.round(c * 100).cast("long")


def limb_total(v: F.Column) -> F.Column:
    """Overflow-proof exact SUM of a NON-NEGATIVE scaled-long column as
    DECIMAL(38,0): sum 21-bit limbs in int64 (map-side combine stays
    in codegen), recombine exactly in DECIMAL(38) per group. Compose
    totals (e.g. exact differences) BEFORE the final double cast."""
    hi = F.sum(F.shiftrightunsigned(v, _LIMB_BITS))
    lo = F.sum(v.bitwiseAND(_LIMB - 1))
    return hi.cast("decimal(38,0)") * _LIMB + lo.cast("decimal(38,0)")


def limb_sum(v: F.Column, scale: int) -> F.Column:
    """`limb_total` surfaced as DOUBLE at the given decimal scale —
    cast the EXACT INTEGER total to double first, then one IEEE
    division. Decimal-dividing first (the pre-r11 form) rounds at an
    engine-specific intermediate scale, which diverges from DuckDB by
    one ulp once the scaled total exceeds 2^53 (first seen at sf1 on
    q1's e6-scaled charge total ≈ 5·10^16); double(T)/10^s is
    bit-identical on any engine with IEEE doubles at ANY scale."""
    return (limb_total(v).cast("double") / F.lit(float(10**scale))).cast(
        "double"
    )


def rev_e4(price="l_extendedprice", disc="l_discount") -> F.Column:
    """price*(1-disc) as an exact 1e4-scaled long (sign-safe: both
    factors non-negative)."""
    return cents(price) * (100 - cents(disc))


def rev_sum(price="l_extendedprice", disc="l_discount") -> F.Column:
    """Exact SUM(price*(1-disc)) as DOUBLE — the TPC-H revenue sum."""
    return limb_sum(rev_e4(price, disc), 4)


def dsum(c) -> F.Column:
    """Decimal-exact sum of a money column, surfaced as DOUBLE
    (long-cents accumulator; bit-identical to SUM(DECIMAL(12,2)))."""
    return (F.sum(cents(c)).cast("decimal(38,0)") / 100).cast("double")


# SQL-text twins of the helpers above, for the queries registered with
# _sql_query: the same exact-money arithmetic spelled in Spark SQL,
# bit-identical results.
def _cents(c: str) -> str:
    return f"CAST(round(({c}) * 100) AS BIGINT)"


def _limb_total(v: str) -> str:
    return (
        f"(CAST(SUM(shiftrightunsigned({v}, {_LIMB_BITS})) AS DECIMAL(38,0)) * {_LIMB} "
        f"+ CAST(SUM(({v}) & {_MASK}) AS DECIMAL(38,0)))"
    )


def _limb_sum(v: str, scale: int) -> str:
    # double(exact integer total) / 10^s — ONE IEEE division, as in
    # limb_sum above
    return f"(CAST({_limb_total(v)} AS DOUBLE) / {float(10 ** scale)})"


def _dsum(c: str) -> str:
    return f"CAST(CAST(SUM({_cents(c)}) AS DECIMAL(38,0)) / 100 AS DOUBLE)"


_REV_E4 = f"({_cents('l_extendedprice')}) * (100 - {_cents('l_discount')})"
_REV_SUM = _limb_sum(_REV_E4, 4)
_CHARGE_E6 = f"({_REV_E4}) * (100 + {_cents('l_tax')})"


# ---------------------------------------------------------------------------
# Scans / projections / filters (SURVEY §2.1-2.2)
# ---------------------------------------------------------------------------


@register(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_quantity > 45.0
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + range/comparison filter; both reach the parquet scan."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-07-01"))
        & (F.col("l_quantity") > 45.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "predicate_algebra",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_size
    FROM part
    WHERE p_type IN ('ECONOMY', 'PROMO')
      AND p_name LIKE '%bolt%'
      AND p_size BETWEEN 5 AND 40
      AND NOT (p_brand = 'Brand#13')
    """,
)
def predicate_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / LIKE / BETWEEN / NOT predicate combination."""
    p = table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").isin("ECONOMY", "PROMO")
        & F.col("p_name").like("%bolt%")
        & F.col("p_size").between(5, 40)
        & ~(F.col("p_brand") == "Brand#13")
    ).select("p_partkey", "p_name", "p_type", "p_size")


@register(
    "project_computed",
    oracle="""
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_u,
           CAST(round(o_totalprice, 1) AS DOUBLE) AS price_r,
           o_totalprice * 0.9 AS discounted
    FROM orders WHERE o_orderkey < 500
    """,
)
def project_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projection with aliasing (cf. reference demo.py:98)."""
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.round("o_totalprice", 1).cast("double").alias("price_r"),
        (F.col("o_totalprice") * 0.9).alias("discounted"),
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


_sql_query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_REV_SUM} AS sum_disc_price,
           {_limb_sum(_CHARGE_E6, 6)} AS sum_charge,
           {_dsum('l_quantity')} / COUNT(*) AS avg_qty,
           {_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
           {_dsum('l_discount')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
           (CAST(SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l_discount * 100) AS HUGEINT))
                     * (100 + CAST(round(l_tax * 100) AS HUGEINT))) AS DOUBLE)
            / 1000000.0) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)


@register(
    "agg_basic_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def agg_basic_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregate: count / count-distinct / sum / min / max."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        dsum("l_quantity").alias("total_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "agg_group_having",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 5
    """,
)
def agg_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .filter(F.col("n") > 5)
    )


@register(
    "agg_filtered_conditional",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_discount > 0.05
                         THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DOUBLE) AS hi_disc_rev,
           CAST(SUM(CASE WHEN l_quantity > 25.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
           COUNT(CASE WHEN l_tax = 0.0 THEN 1 END) AS n_taxfree
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause-style conditional aggregation (sum/count over CASE)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_discount") > 0.05, money("l_extendedprice")))
        .cast("double")
        .alias("hi_disc_rev"),
        F.sum(F.when(F.col("l_quantity") > 25.0, 1).otherwise(0)).alias("n_bulk"),
        F.count(F.when(F.col("l_tax") == 0.0, 1)).alias("n_taxfree"),
    )


_sql_query(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS rev,
           COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("rev"), F.count("*").alias("n")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@register(
    "agg_stddev_exact",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           sqrt((CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) AS sd_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stddev_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev from exact decimal sums (deterministic across engines,
    unlike the built-in streaming stddev whose FP accumulation order varies)."""
    li = table(spark, sf_dir, "lineitem")
    q = money("l_quantity")
    n = F.count("*")
    s = F.sum(q).cast("double")
    s2 = F.sum(q * q).cast("double")
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.sqrt((s2 - s * s / n) / (n - F.lit(1))).alias("sd_qty"),
    )


_sql_query(
    "agg_distinct_multi",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)


@register(
    "pivot_status_qty",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (groupBy().pivot()) — Catalyst rewrites to conditional aggs,
    the same shape the oracle spells out."""
    li = table(spark, sf_dir, "lineitem")
    out = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(money("l_quantity")).cast("double"))
    )
    return out.withColumnRenamed("O", "qty_open").withColumnRenamed("F", "qty_filled")


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@register(
    "join_inner_basic",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 300000.0
    """,
)
def join_inner_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join; customer side broadcast (dimension << fact)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_totalprice") > 300000.0)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(money("o_totalprice")), F.lit(0)).cast("double").alias("spend"),
        )
    )


@register(
    "join_semi_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "P"),
        c.c_custkey == o.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_name")


@register(
    "join_anti_not_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
    """,
)
def join_anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_totalprice") > 200000.0),
        c.c_custkey == o.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name")


@register(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nk")).agg(F.count("*").alias("n_cust"))
    sn = s.groupBy(F.col("s_nationkey").alias("nk")).agg(F.count("*").alias("n_supp"))
    return (
        cn.join(sn, "nk", "full")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "join_cross",
    oracle="""
    SELECT r_name, s AS status FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS s FROM orders) t
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    o = table(spark, sf_dir, "orders")
    statuses = o.select(F.col("o_orderstatus").alias("status")).distinct()
    return r.crossJoin(statuses).select("r_name", "status")


@register(
    "join_non_equi_theta",
    oracle="""
    SELECT a.p_brand, COUNT(*) AS n_pairs
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_retailprice > b.p_retailprice
    GROUP BY a.p_brand
    """,
)
def join_non_equi_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi on brand (hash-joinable) + non-equi residual —
    Catalyst keeps the equi key for the hash join and applies the
    inequality as a post-filter, so this does NOT degrade to a
    nested-loop cross product at scale."""
    a = table(spark, sf_dir, "part").alias("a")
    b = table(spark, sf_dir, "part").alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_retailprice") > F.col("b.p_retailprice")),
        )
        .groupBy(F.col("a.p_brand").alias("p_brand"))
        .agg(F.count("*").alias("n_pairs"))
    )


_sql_query(
    "q3_shipping_priority",
    f"""
    SELECT /*+ BROADCAST(c) */
           l_orderkey, {_REV_SUM} AS revenue, o_orderdate
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'FURNITURE'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND li.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'FURNITURE'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)


_sql_query(
    "q5_local_supplier_volume",
    f"""
    SELECT /*+ BROADCAST(c, s, n, r) */
           n_name, {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)


_sql_query(
    "q10_returned_items",
    f"""
    SELECT /*+ BROADCAST(c, n), SHUFFLE_HASH(o) */
           c_custkey, c_name, n_name, {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE li.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
# q10's orders side is UNFILTERED (the only filter is on lineitem), so
# broadcasting it ships the whole fact table — SHUFFLE_HASH(o) measured
# -18% at sf0.1 and -20% at the 8x probe (interleaved A/B medians,
# SCALE.md round-7 table). q3/q5 keep broadcast: their
# orders sides are date/segment-PRUNED small while lineitem (the side a
# hash join would force through the exchange) is the big one — measured
# +13%/+66% WORSE with the hint at sf0.1; at real scale the pruned-side
# size estimate outgrows the threshold and Spark flips to shuffle by
# itself.


# ---------------------------------------------------------------------------
# Sorts / limits / set ops / distinct (SURVEY §2.6)
# ---------------------------------------------------------------------------


@register(
    "orderby_limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
    """,
)
def orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark executes as TakeOrderedAndProject — per-
    partition heap + driver merge, no full sort at scale."""
    o = table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice", "o_orderdate").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(15)


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "setop_union_all",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION ALL
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s)


@register(
    "setop_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@register(
    "setop_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "setop_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.subtract(s)



@register(
    "setop_bag_semantics",
    oracle="""
    SELECT nk, COUNT(*) AS n FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_custkey <= 400
        INTERSECT ALL
        SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk
    """,
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag (multiset) set-op semantics, the PG surface
    the distinct-only setop_* queries don't cover: each nationkey
    survives min(count_left, count_right) times. Spark's intersectAll
    compiles to a single hash aggregation per side + join — one
    shuffle each, partial-agg map-side, no row explosion — identical
    shape at any scale. Aggregated to counts so the multiset
    multiplicity itself is what the oracle hash checks."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 400)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersectAll(s).groupBy("nk").agg(F.count("*").alias("n"))


@register(
    "agg_bool_every_any",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_orderdate >= DATE '1992-01-01') AS all_after_92,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool_every_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG boolean aggregates bool_and/bool_or (Spark: every/any) —
    delegated surface. Trivially partial-aggregatable (AND/OR are
    associative+commutative), so map-side combine reduces each
    partition to one boolean before the shuffle: constant state per
    group at any scale."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_orderdate") >= F.lit("1992-01-01").cast("date")).alias(
            "all_after_92"
        ),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_u,
           lower(p_brand) AS brand_l,
           substring(p_name, 1, 5) AS name_5,
           length(p_name) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_us,
           trim(concat('  ', p_name, '  ')) AS name_trim,
           split_part(p_name, ' ', 1) AS first_word
    FROM part WHERE p_partkey < 100
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") < 100).select(
        "p_partkey",
        F.upper("p_name").alias("name_u"),
        F.lower("p_brand").alias("brand_l"),
        F.substring("p_name", 1, 5).alias("name_5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trim"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(dayofmonth(o_orderdate) AS INT) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date
    FROM orders WHERE o_orderkey < 200
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
    )


@register(
    "scalar_case_coalesce",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity > 40.0 THEN 'bulk'
                WHEN l_quantity > 20.0 THEN 'mid'
                ELSE 'small' END AS size_class,
           COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_neg,
           l_orderkey % 7 AS bucket
    FROM lineitem WHERE l_orderkey < 300
    """,
)
def scalar_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 300).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_quantity") > 40.0, "bulk")
        .when(F.col("l_quantity") > 20.0, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("l_discount"), F.lit(0.0)), F.lit(-1.0)).alias(
            "disc_or_neg"
        ),
        (F.col("l_orderkey") % 7).alias("bucket"),
    )


@register(
    "scalar_math_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(round(o_totalprice, 0) AS DOUBLE) AS price_round,
           abs(o_totalprice - 200000.0) AS dist_from_200k,
           CAST(ceil(o_totalprice / 1000.0) AS BIGINT) AS price_k_ceil,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_k_floor,
           CAST(sqrt(o_totalprice) AS DOUBLE) AS price_sqrt
    FROM orders WHERE o_orderkey < 400
    """,
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") < 400).select(
        "o_orderkey",
        F.round("o_totalprice", 0).cast("double").alias("price_round"),
        F.abs(F.col("o_totalprice") - 200000.0).alias("dist_from_200k"),
        F.ceil(F.col("o_totalprice") / 1000.0).alias("price_k_ceil"),
        F.floor(F.col("o_totalprice") / 1000.0).alias("price_k_floor"),
        F.sqrt("o_totalprice").cast("double").alias("price_sqrt"),
    )


# ---------------------------------------------------------------------------
# SQL-surface widening: ordered-set / lateral / unnest / frames (§2.4-2.7)
# ---------------------------------------------------------------------------


@register(
    "agg_listagg_status",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_listagg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (PG string_agg / listagg). Spark-first form:
    collect_set + array_sort + array_join keeps the whole expression in
    codegen; the set per group is bounded (order statuses), so the
    collected state never approaches executor memory limits."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
        F.count("*").alias("n_orders"),
    )


@register(
    "unnest_word_counts",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 50
    """,
)
def unnest_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST / generator expression (PG unnest, Spark explode): top-50
    word frequencies over documents. explode runs inside codegen; the
    groupBy gets map-side partial aggregation, so the shuffle carries
    one row per (partition, word), not one per token — the formulation
    that survives 100 TB of text."""
    d = table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"))
    return (
        words.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(50)
    )


@register(
    "lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c.c_custkey <= 50
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (PG lateral
    join), executed through Spark SQL's native lateral-join planning —
    Catalyst decorrelates it into a ranked join rather than a per-row
    nested loop."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c,
             LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders o
                      WHERE o.o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 50
        """
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit frames: the
    growing default frame for first/nth, the full-partition ROWS frame
    for last_value (without it last_value degenerates to the current
    row — the classic SQL trap both engines share)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "agg_grouping_marker",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
           count(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers distinguish 'NULL because subtotal row' from
    'NULL in the data' across ROLLUP levels (PG/ANSI GROUPING)."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        F.count("*").alias("n"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (PG percentile_cont): both engines
    sort within group and linearly interpolate, so values agree to FP
    rounding (pinned at 4 decimals). At scale the approx_percentile
    sketch is the right tool; this is the exact baseline."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


@register(
    "distinct_on_latest_event",
    oracle="""
    SELECT DISTINCT ON (user_id) user_id, event_id, ts, event_type
    FROM events
    WHERE user_id <= 300
    ORDER BY user_id, ts DESC, event_id DESC
    """,
)
def distinct_on_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG/RisingWave DISTINCT ON: latest event per user. Spark has no
    DISTINCT ON; the idiomatic translation is a row_number() window
    with the same ordering — one shuffle on the DISTINCT ON key, and
    the rank filter is applied before any further operator sees the
    partition."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") <= 300)
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@register(
    "agg_corr_regr",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy2
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 9)
               AS corr_qty_price,
           round((n * sxy - sx * sy) / (n * sx2 - sx * sx), 9)
               AS regr_slope_price_on_qty
    FROM m
    """,
)
def agg_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + regression slope (PG corr()/regr_slope(),
    reachable via the reference's SQL pass-through,
    /root/reference/risingwave/core.py:183-212) computed from EXACT
    decimal moment sums, same recipe as agg_stddev_exact: the five
    sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL — exact and
    partition-order-independent, so map-side partial agg is safe at
    any scale — and only the final closed-form division runs in
    double. Built-in F.corr exists but streams FP accumulation whose
    value depends on partition order; this formulation is
    deterministic. The final quotients are rounded at 9 decimals:
    the two engines may differ in the last ulp of the double
    division/sqrt (~1e-16), which is numeric noise, not signal."""
    li = table(spark, sf_dir, "lineitem")
    x = money("l_quantity")
    y = money("l_extendedprice")
    n = F.count("*")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxy = F.sum(x * y).cast("double")
    sx2 = F.sum(x * x).cast("double")
    sy2 = F.sum(y * y).cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sx2 - sx * sx
    var_y = n * sy2 - sy * sy
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.round(cov_n / F.sqrt(var_x * var_y), 9).alias("corr_qty_price"),
        F.round(cov_n / var_x, 9).alias("regr_slope_price_on_qty"),
    )


@register(
    "scalar_regexp_funcs",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS devoweled,
           regexp_matches(p_name, '(^| )r') AS has_r_word,
           len(regexp_extract_all(p_name, ' ')) + 1 AS n_words
    FROM part WHERE p_partkey <= 500
    """,
)
def scalar_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar battery (PG ~ / regexp_replace / regexp_matches —
    delegated surface, /root/reference/risingwave/core.py:183-212).
    Patterns restricted to the RE2∩Java-regex common dialect so Spark
    (java.util.regex, codegen'd) and the oracle agree. Pure per-row
    projection: no shuffle, scales linearly, stays in
    WholeStageCodegen."""
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 500).select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "*").alias("devoweled"),
        F.col("p_name").rlike("(^| )r").alias("has_r_word"),
        (F.regexp_count(F.col("p_name"), F.lit(" ")) + F.lit(1)).alias("n_words"),
    )


@register(
    "map_struct_access",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status_via_map,
           o_orderpriority AS prio_via_map,
           o_totalprice AS price_via_struct,
           concat(o_orderstatus, '/', o_orderpriority) AS packed_key
    FROM orders WHERE o_orderkey <= 400
    """,
)
def map_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/struct construction + field access (PG composite types /
    jsonb-object round-trip — delegated surface). Spark side really
    builds a MAP<STRING,STRING> and a named STRUCT and reads fields
    back out (element_at / dot-path); the oracle states the identity
    those accessors must satisfy. Catalyst collapses the
    construct-then-access pairs at optimization time, so the plan is
    still a pure projection — free at any scale."""
    o = table(spark, sf_dir, "orders")
    built = o.filter(F.col("o_orderkey") <= 400).select(
        "o_orderkey",
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("prio"), F.col("o_orderpriority"),
        ).alias("m"),
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_orderstatus").alias("status"),
        ).alias("s"),
    )
    return built.select(
        "o_orderkey",
        F.element_at("m", F.lit("status")).alias("status_via_map"),
        F.element_at("m", F.lit("prio")).alias("prio_via_map"),
        F.col("s.price").alias("price_via_struct"),
        F.concat_ws("/", F.col("s.status"), F.element_at("m", F.lit("prio"))).alias("packed_key"),
    )


@register(
    "array_agg_ops",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               list_sort(list_distinct(list(o_orderstatus))) AS statuses,
               list(o_orderpriority ORDER BY o_orderkey) AS prios_all
        FROM orders WHERE o_custkey <= 200 GROUP BY o_custkey
    )
    SELECT o_custkey,
           array_to_string(statuses, ',') AS statuses,
           array_to_string(prios_all[1:3], ',') AS first3_prios,
           COALESCE(array_to_string(list_filter(statuses, x -> x IN ('F','O')), ','), '') AS st_and_fo,
           COALESCE(array_to_string(list_filter(statuses, x -> x <> 'F'), ','), '') AS st_minus_f,
           list_contains(statuses, 'P') AS has_p
    FROM per
    """,
)
def array_agg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG array surface: ordered array_agg / array_agg(DISTINCT …
    ORDER BY …) plus element-level set algebra (delegated surface,
    /root/reference/risingwave/core.py:183-212). Ordered collect is
    done deterministically as sort-after-collect (array_sort over
    collect_set / struct-sorted collect_list keyed by the unique
    orderkey) rather than relying on input order, so the result is
    shuffle-order independent — safe under AQE re-planning at any
    scale. Set ops are expressed as higher-order filters over the
    sorted array (same plan both engines; element order provably
    deterministic). Arrays serialize via concat_ws for the
    hash-compare. One shuffle (the groupBy); per-group state bounded
    by orders-per-customer."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    per = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set("o_orderstatus")).alias("statuses"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("o_orderkey", "o_orderpriority"))),
            lambda x: x["o_orderpriority"],
        ).alias("prios_all"),
    )
    return per.select(
        "o_custkey",
        F.concat_ws(",", "statuses").alias("statuses"),
        F.concat_ws(",", F.slice("prios_all", 1, 3)).alias("first3_prios"),
        F.concat_ws(
            ",", F.filter("statuses", lambda x: x.isin("F", "O"))
        ).alias("st_and_fo"),
        F.concat_ws(",", F.filter("statuses", lambda x: x != "F")).alias("st_minus_f"),
        F.array_contains("statuses", "P").alias("has_p"),
    )


@register(
    "scalar_timezone_bucket",
    oracle="""
    SELECT event_id,
           CAST(EXTRACT(hour FROM ts + INTERVAL 330 MINUTE) AS INT) AS ist_hour,
           CAST(ts + INTERVAL 330 MINUTE AS DATE) AS ist_date,
           CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket15m_epoch,
           CASE WHEN value < 0 THEN 0
                WHEN value >= 100 THEN 11
                ELSE CAST(floor(value / 10) + 1 AS BIGINT) END AS value_bucket
    FROM events WHERE event_id < 2000
    """,
)
def scalar_timezone_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion + time/value bucketing (PG AT TIME ZONE /
    date_bin / width_bucket — delegated surface). Spark side uses the
    real tz database (from_utc_timestamp into Asia/Kolkata — chosen
    DST-free so the oracle can state the conversion as a fixed +330 min
    offset without tz machinery); the 15-minute bucket is the
    date_bin-style epoch-floor arithmetic every time-series rollup
    compiles to. Pure projection: no shuffle, codegen'd, linear at
    scale; the epoch arithmetic is the partition-pruning key a 100 TB
    hypertable layout would cluster on."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    ist = F.from_utc_timestamp("ts", "Asia/Kolkata")
    return ev.select(
        "event_id",
        F.hour(ist).alias("ist_hour"),
        F.to_date(ist).alias("ist_date"),
        (F.floor(F.unix_timestamp("ts") / 900) * 900)
        .cast("bigint")
        .alias("bucket15m_epoch"),
        F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(10)).alias(
            "value_bucket"
        ),
    )


@register(
    "orderby_nulls_last_topk",
    oracle="""
    SELECT event_id, user_id, nullable_type
    FROM (SELECT event_id, user_id, NULLIF(event_type, 'click') AS nullable_type
          FROM events)
    ORDER BY nullable_type ASC NULLS LAST, event_id
    LIMIT 50
    """,
)
def orderby_nulls_last_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS ordering policy in a top-k: Spark defaults to
    NULLS FIRST on ASC while PG/DuckDB default to NULLS LAST — a
    silent cross-engine divergence unless the policy is spelled out
    (asc_nulls_last here, NULLS LAST in the oracle). Top-k compiles to
    TakeOrderedAndProject: per-partition heaps, only k rows shuffle."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.nullif(F.col("event_type"), F.lit("click")).alias("nullable_type"),
        )
        .orderBy(F.col("nullable_type").asc_nulls_last(), "event_id")
        .limit(50)
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM (SELECT * FROM nation WHERE n_regionkey = 1) n
    RIGHT JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER equi-join (completes the inner/left/right/full set
    of SURVEY §2.3): suppliers keep their row even when the filtered
    nation side has no match. Catalyst flips a right join with a
    broadcastable left side into a broadcast left-outer, so the big
    side still never shuffles."""
    n = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 1)
        .select("n_nationkey", "n_name")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    return n.join(s, n.n_nationkey == s.s_nationkey, "right").select(
        "s_suppkey", "s_name", "n_name"
    )


@register(
    "setop_except_all",
    oracle="""
    SELECT nk, COUNT(*) AS n FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_custkey <= 400
        EXCEPT ALL
        SELECT s_nationkey AS nk FROM supplier
    ) GROUP BY nk
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — multiset difference: each nationkey survives
    max(0, count_left - count_right) times. Same counted-aggregation
    plan shape as INTERSECT ALL (setop_bag_semantics): partial-agg
    both sides, join counts — shuffle volume is group counts, never
    raw rows."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 400)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.exceptAll(s).groupBy("nk").agg(F.count("*").alias("n"))


@register(
    "scalar_string_funcs2",
    oracle="""
    SELECT p_partkey,
           translate(p_name, 'aeiou', '12345') AS name_translit,
           reverse(p_brand) AS brand_rev,
           repeat(p_brand, 2) AS brand_twice,
           ascii(p_name) AS first_cp,
           chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
           left(p_type, 6) AS type_l6,
           right(p_type, 4) AS type_r4,
           array_to_string(list_transform(regexp_split_to_array(p_name, ' '),
               w -> concat(upper(substring(w, 1, 1)), lower(substring(w, 2)))), ' ')
               AS name_title,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           md5(p_name) AS name_md5
    FROM part WHERE p_partkey < 300
    """,
)
def scalar_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery for the delegated PG surface: translate /
    reverse / repeat / ascii / chr / left / right / initcap / lpad /
    md5 — all native Spark functions with PG-identical semantics on
    ASCII input (initcap word-boundary rules match for
    whitespace-separated words). Pure codegen projection, zero
    shuffle."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "12345").alias("name_translit"),
        F.reverse("p_brand").alias("brand_rev"),
        F.repeat("p_brand", 2).alias("brand_twice"),
        F.ascii("p_name").alias("first_cp"),
        F.chr(F.lit(65) + (F.col("p_partkey") % 26).cast("int")).alias("letter"),
        F.substring("p_type", 1, 6).alias("type_l6"),
        F.right("p_type", F.lit(4)).alias("type_r4"),
        F.initcap("p_name").alias("name_title"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.md5("p_name").alias("name_md5"),
    )


@register(
    "scalar_date_funcs2",
    oracle="""
    SELECT o_orderkey,
           last_day(o_orderdate) AS month_end,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(dayofweek(o_orderdate) AS INT) + 1 AS dow_sunday1,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           make_date(CAST(year(o_orderdate) AS INT), 12, 31) AS year_end,
           datediff('day', o_orderdate, DATE '1998-12-01') AS days_to_cutoff,
           date_trunc('week', o_orderdate) = o_orderdate AS is_monday,
           CAST(o_orderdate - INTERVAL 3 MONTH AS DATE) AS minus_3m
    FROM orders WHERE o_orderkey < 400
    """,
)
def scalar_date_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date battery (delegated PG surface): last_day / quarter /
    day-of-week (PG dow is 0=Sunday, DuckDB dayofweek 0=Sunday, Spark
    dayofweek 1=Sunday — aligned to a common sunday1 convention in
    both SQL texts) / day-of-year / ISO week / make_date / datediff /
    week-truncation identity / month interval arithmetic. Pure
    projection; every expression folds into whole-stage codegen."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    return o.select(
        "o_orderkey",
        F.last_day("o_orderdate").alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofweek("o_orderdate").alias("dow_sunday1"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.make_date(F.year("o_orderdate"), F.lit(12), F.lit(31)).alias("year_end"),
        F.datediff(F.lit("1998-12-01").cast("date"), F.col("o_orderdate")).cast(
            "long"
        ).alias("days_to_cutoff"),
        (F.trunc("o_orderdate", "week") == F.col("o_orderdate")).alias("is_monday"),
        (F.col("o_orderdate") - F.expr("INTERVAL 3 MONTH")).cast("date").alias(
            "minus_3m"
        ),
    )


@register(
    "scalar_math_funcs2",
    oracle="""
    SELECT o_orderkey,
           round(ln(o_totalprice), 9) AS price_ln,
           round(log10(o_totalprice), 9) AS price_log10,
           round(power(o_totalprice, 0.25), 9) AS price_4throot,
           o_orderkey % 7 AS key_mod7,
           CAST(sign(o_totalprice - 200000.0) AS DOUBLE) AS over_200k_sign,
           round(exp(o_totalprice / 500000.0), 9) AS scaled_exp,
           greatest(o_orderkey % 7, o_orderkey % 5, o_orderkey % 3) AS g3,
           least(o_orderkey % 7, o_orderkey % 5, o_orderkey % 3) AS l3,
           CAST(trunc(o_totalprice / 100.0) AS BIGINT) AS hundreds_trunc
    FROM orders WHERE o_orderkey < 400
    """,
)
def scalar_math_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second math battery: ln/log10/power/exp (transcendentals are
    rounded at 9 decimals — libm implementations may differ in the
    final ulp across engines, which is noise), modulo, sign, n-ary
    greatest/least, truncation toward zero (floor ≡ trunc on the
    positive domain here; Spark's trunc is date-only). Pure codegen
    projection, no shuffle."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    return o.select(
        "o_orderkey",
        F.round(F.log("o_totalprice"), 9).alias("price_ln"),
        F.round(F.log10("o_totalprice"), 9).alias("price_log10"),
        F.round(F.pow("o_totalprice", F.lit(0.25)), 9).alias("price_4throot"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("o_totalprice") - 200000.0).alias("over_200k_sign"),
        F.round(F.exp(F.col("o_totalprice") / 500000.0), 9).alias("scaled_exp"),
        F.greatest(
            F.col("o_orderkey") % 7, F.col("o_orderkey") % 5, F.col("o_orderkey") % 3
        ).alias("g3"),
        F.least(
            F.col("o_orderkey") % 7, F.col("o_orderkey") % 5, F.col("o_orderkey") % 3
        ).alias("l3"),
        F.floor(F.col("o_totalprice") / 100.0).cast("bigint").alias("hundreds_trunc"),
    )
