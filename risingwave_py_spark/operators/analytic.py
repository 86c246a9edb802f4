"""Analytic (OVER) window functions, as-of join, sessionization.

Reference surface: delegated SQL window functions
(/root/reference/risingwave/core.py:183-212 pass-through); as-of /
sessionization are the streaming-analytics patterns the reference's
demos gesture at (tick analytics, demo.py:91-106), expressed here as
scalable batch operators.

Scale notes: every window spec partitions by a high-cardinality key
(custkey / user_id) so state per partition is bounded; orderings are
made total (tie-break on a unique key) so results are deterministic
under any shuffle layout. The as-of join is the union-scan pattern —
one shuffle by user, one sort, NO join — which beats a range join at
100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from risingwave_py_spark.catalog import table
from risingwave_py_spark.operators.relational import _cents, money
from risingwave_py_spark.registry import _sql_query, register


@register(
    "window_rank_lag",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           row_number() OVER w AS rn,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / lag / lead over per-customer order history."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w_price).alias("price_rank"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


_sql_query(
    "window_running_sum",
    f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM({_cents('o_totalprice')}) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,0)) / 100 AS DOUBLE) AS running_spend
    FROM orders
    """,
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
)


_sql_query(
    "window_topk_per_group",
    """
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) t WHERE rn <= 3
    """,
    oracle="""
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) t WHERE rn <= 3
    """,
)


@register(
    "window_ntile_percentrank",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           ntile(4) OVER u AS quartile,
           percent_rank() OVER u AS pct_rank,
           cume_dist() OVER u AS cdist
    FROM orders
    WINDOW u AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions over a global total order, computed as a
    distributed two-pass rank — no single-partition window anywhere:

    1. range-partition by the sort key (order-preserving across
       partition ids) and row_number WITHIN each partition (parallel);
    2. per-partition counts (P rows) → exclusive prefix offsets +
       grand total, broadcast back;
    3. global rank r = local row_number + partition offset, and
       ntile/percent_rank/cume_dist from (r, N) in closed form —
       exact because the sort key (o_totalprice, o_orderkey) is
       unique, so rank == row_number and cume_dist == r/N.

    The only sub-window runs over the P-row counts relation, which is
    O(partitions), not O(rows) — at 100 TB the data path is one range
    exchange + per-partition sort, the same shape as a distributed
    ORDER BY."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # Partition count follows the cluster (like catalog.fanout), not a
    # literal: correctness is partition-count-independent (pass 2 fixes
    # up global ranks), so scale it with available parallelism.
    n_part = max(spark.sparkContext.defaultParallelism, 2)
    part = o.repartitionByRange(n_part, "o_totalprice", "o_orderkey").withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("__pid").orderBy("o_totalprice", "o_orderkey")
    local = part.withColumn("__rn", F.row_number().over(w_local))
    counts = local.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    w_off = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.orderBy("__pid").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    offs = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    ranked = local.join(F.broadcast(offs), "__pid").withColumn(
        "__r", F.col("__rn") + F.col("__off")
    )
    # ntile(4) closed form: rem = N % 4 leading buckets of size
    # base + 1, the rest of size base (CASE short-circuits, so the
    # base-size branch never divides by zero when N < 4).
    quartile = (
        F.when(
            F.col("__r") <= F.expr("(__n % 4) * (__n DIV 4 + 1)"),
            F.expr("(__r - 1) DIV (__n DIV 4 + 1) + 1"),
        )
        .otherwise(
            F.expr(
                "__n % 4 + (__r - 1 - (__n % 4) * (__n DIV 4 + 1)) DIV (__n DIV 4) + 1"
            )
        )
        .cast("int")
    )
    pct_rank = F.when(F.col("__n") > 1,
                      (F.col("__r") - 1) / (F.col("__n") - 1)).otherwise(0.0)
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        quartile.alias("quartile"),
        pct_rank.cast("double").alias("pct_rank"),
        (F.col("__r") / F.col("__n")).cast("double").alias("cdist"),
    )


# As-of (point-in-time) join as the union-scan pattern: each purchase
# takes the most recent earlier click's value for the same user from a
# `last(..., true)` window — one shuffle by user_id, one sort, no join.
_sql_query(
    "asof_join_last_click",
    """
    SELECT event_id, user_id, ts, value, last_click_value FROM (
        SELECT event_id, user_id, ts, value, event_type,
               last(CASE WHEN event_type = 'click' THEN value END, true)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_value
        FROM events
    ) WHERE event_type = 'purchase'
    """,
    oracle="""
    SELECT event_id, user_id, ts, value,
           last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_value
    FROM events
    QUALIFY event_type = 'purchase'
    """,
)


@register(
    "interval_join_events",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id, c.ts AS click_ts, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (batch twin of streaming/structured.py's
    interval_join_streams): each click pairs with the same user's
    purchases in the 10 minutes after it.

    The user_id equality keeps this a hash join — the time bound is a
    post-probe residual, never a nested loop. At stream scale the same
    topology runs watermarked (state bounded by watermark + bound)."""
    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            "click_id",
            "purchase_id",
            F.col("c_user").alias("user_id"),
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
    )


_sql_query(
    "sessionize_events",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
)


# Skew-proof aggregation over a pathologically hot key: `event_type`
# has ~5 distinct values. For ALGEBRAIC aggregates (count/sum/max) a
# direct single group-by is already the two-phase salted scheme, with
# the map task as the implicit salt: every map task partially
# aggregates to <=5 rows before the exchange, so a hot key cannot
# overload its reducer. An explicit hash-mod-64 salt layer (the pre-r12
# form) only added an extra exchange + aggregate: measured 0.41 -> 0.29 s
# median (-30%) at sf0.1 after dropping it, bit-identical DECIMAL sums.
# The manual (key, salt) two-level recipe is still the fix when the
# per-key state does NOT collapse map-side: holistic aggregates
# (collect_list/percentile), count(DISTINCT x) reduced per key, or
# groupBy().applyInPandas.
_sql_query(
    "agg_salted_skew",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY event_type
    """,
)


@register(
    "recursive_month_spine",
    oracle="""
    WITH RECURSIVE m(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM m WHERE n < 12)
    SELECT n AS month_num,
           count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
               AS revenue
    FROM m LEFT JOIN orders ON month(o_orderdate) = n
                           AND year(o_orderdate) = 1995
    GROUP BY n ORDER BY n
    """,
)
def recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (PG surface reachable through the reference's
    SQL pass-through, /root/reference/risingwave/core.py:183-212) —
    Spark 4 executes recursive CTEs natively. The spine-join pattern:
    a generated month spine LEFT-joined to orders keeps zero-activity
    months in the report (a plain GROUP BY would drop them).

    Scale: the recursion produces 12 rows on the driver side of the
    plan; the orders side is a single scan with the year filter pushed
    into the join condition — no shuffle of the fact table beyond the
    12-row broadcast join."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("__rw_rec_orders")
    return spark.sql(
        """
        WITH RECURSIVE m(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM m WHERE n < 12)
        SELECT n AS month_num,
               count(o_orderkey) AS n_orders,
               CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE)
                   AS revenue
        FROM m LEFT JOIN __rw_rec_orders
          ON month(o_orderdate) = n AND year(o_orderdate) = 1995
        GROUP BY n ORDER BY n
        """
    )


@register(
    "sketch_error_bounds",
    oracle="""
    SELECT CAST(NULL AS VARCHAR) AS metric, CAST(NULL AS DOUBLE) AS rel_err
    WHERE 1 = 0
    """,
)
def sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-sketch quality gate as a query: HLL++ distinct
    count and approx_percentile vs their exact counterparts, emitting
    one row per metric whose relative error exceeds 5%. Correct
    sketches ⇒ EMPTY result, which the oracle (an empty relation of
    the same shape) hash-checks.

    Scale: this is the pattern for validating sketch-based pipelines
    at 100 TB — the exact side runs once on a sample/test tier to
    certify the sketch config, then production uses the mergeable
    sketch (HLL partials merge associatively across partitions; the
    exact distinct would shuffle the full key set)."""
    li = table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.countDistinct("l_orderkey").cast("double").alias("exact_d"),
        # rsd=0.01: the gate must hold from sf0.001 (1.5k keys, where the
        # default 5% rsd can itself exceed the 5% bound) up to any scale.
        F.approx_count_distinct("l_orderkey", 0.01).cast("double").alias("approx_d"),
        F.expr("percentile(l_quantity, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("approx_p50"),
    )
    viol = stats.selectExpr(
        "'count_distinct' AS metric",
        "abs(approx_d - exact_d) / exact_d AS rel_err",
    ).union(
        stats.selectExpr(
            "'p50' AS metric",
            "abs(approx_p50 - exact_p50) / exact_p50 AS rel_err",
        )
    )
    return viol.filter(F.col("rel_err") > 0.05)


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, day_num,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY day_num
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
    FROM (SELECT o_orderkey, o_custkey,
                 datediff('day', DATE '1992-01-01', o_orderdate) AS day_num,
                 o_totalprice
          FROM orders WHERE o_custkey <= 500) t
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (PG `RANGE BETWEEN n PRECEDING`): a
    30-day trailing spend per customer, keyed on a day number so the
    frame is data-valued, not row-counted — ties in day_num all enter
    the frame together, making the result deterministic under any
    shuffle order without a tie-break column. DECIMAL sum keeps the
    moving total exact. One shuffle (partition by customer); frame
    evaluation is a per-partition sliding accumulator, O(rows), state
    bounded by the 30-day span — holds at any scale."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 500)
    t = o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).alias("day_num"),
        "o_totalprice",
    )
    w = W.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, 0)
    return t.select(
        "o_orderkey",
        "o_custkey",
        "day_num",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


@register(
    "gapfill_locf",
    oracle="""
    WITH monthly AS (
        SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        FROM orders WHERE o_custkey <= 20 GROUP BY 1, 2
    ),
    months AS (
        SELECT CAST(unnest(generate_series(DATE '1992-01-01', DATE '1998-08-01',
                                           INTERVAL 1 MONTH)) AS DATE) AS month
    ),
    cust AS (SELECT DISTINCT o_custkey FROM monthly),
    spine AS (SELECT o_custkey, month FROM cust, months)
    SELECT s.o_custkey, s.month, m.spend,
           COALESCE(last_value(m.spend IGNORE NULLS) OVER (
               PARTITION BY s.o_custkey ORDER BY s.month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS spend_locf
    FROM spine s
    LEFT JOIN monthly m ON s.o_custkey = m.o_custkey AND s.month = m.month
    """,
)
def gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense month spine (generate_series,
    the recursive_month_spine pattern) cross-joined with the entity
    set, LEFT JOIN of actuals, then last-observation-carried-forward
    via last_value(... IGNORE NULLS) over an unbounded-preceding
    frame — the standard locf/prev() surface of time-series SQL
    engines, reachable through the reference's pass-through
    (/root/reference/risingwave/core.py:183-212). Scale shape: the
    spine is |entities| × |months| — tiny relative to the fact table —
    and the LOCF window is one shuffle on entity with an O(1)-state
    running frame; the monthly pre-aggregation (exact DECIMAL sums)
    reduces the fact table before any join."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 20)
    monthly = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("month")
    ).agg(F.sum(money("o_totalprice")).cast("double").alias("spend"))
    months = spark.sql(
        "SELECT explode(sequence(DATE '1992-01-01', DATE '1998-08-01', "
        "INTERVAL 1 MONTH)) AS month"
    )
    cust = monthly.select("o_custkey").distinct()
    spine = cust.crossJoin(F.broadcast(months))
    j = spine.join(monthly, ["o_custkey", "month"], "left")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("month")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return j.select(
        "o_custkey",
        "month",
        "spend",
        F.coalesce(F.last("spend", ignorenulls=True).over(w), F.lit(0.0)).alias(
            "spend_locf"
        ),
    )


@register(
    "window_filtered_agg",
    oracle="""
    SELECT o_orderkey, o_custkey,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_so_far,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               FILTER (WHERE o_orderpriority = '1-URGENT') OVER (
               PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS urgent_spend
    FROM orders WHERE o_custkey <= 300
    """,
)
def window_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG aggregate FILTER clause inside an OVER window. Spark has no
    window FILTER, so the engine compiles it to the equivalent
    conditional aggregate (CASE inside sum/count) — same values, same
    single shuffle, running-frame O(1) state; the oracle states the
    native PG spelling. Frame ordered by the unique orderkey so ROWS
    frames are deterministic. The running sum accumulates in DECIMAL
    (exact) and is CAST to DOUBLE on BOTH sides per the registry
    determinism rule: a raw DECIMAL output column reaches pandas as
    object(decimal.Decimal) from Spark but float64 from DuckDB, which
    a representation-sensitive hasher sees as a mismatch."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 300)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).over(w).alias("f_so_far"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", money("o_totalprice"))
        ).over(w).cast("double").alias("urgent_spend"),
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS med_qty,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PG percentile_disc WITHIN GROUP — the discrete percentile that
    returns an ACTUAL data value (first value whose cumulative
    distribution reaches p), unlike the interpolating percentile_cont
    covered by agg_percentiles. Spark has no percentile_disc, so the
    engine compiles it to its definition: cume_dist over the
    group-ordered values, then min value at cume_dist >= p. Exact on
    any orderable type with no interpolation arithmetic — and being
    an order statistic, immune to float-accumulation divergence. One
    shuffle for the window + one for the final group-by; at scale the
    documented fallback is approx_percentile (tests/test_sketches.py)."""
    li = table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy("l_quantity")
    cd = li.select(
        "l_returnflag", "l_quantity", F.cume_dist().over(w).alias("cd")
    )
    return cd.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("cd") >= 0.5, F.col("l_quantity"))).alias("med_qty"),
        F.min(F.when(F.col("cd") >= 0.9, F.col("l_quantity"))).alias("p90_qty"),
        F.count("*").alias("n"),
    )


_ASOF_GRAMMAR_SQL = """
SELECT c.event_id, c.user_id, c.ts AS click_ts,
       v.event_id AS view_event_id, v.ts AS view_ts
FROM events c ASOF JOIN events v
  ON c.user_id = v.user_id AND v.event_type = 'view' AND c.ts >= v.ts
WHERE c.event_type = 'click'
"""


@register(
    "asof_join_grammar",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
           v.event_id AS view_event_id, v.ts AS view_ts
    FROM events c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    WHERE c.event_type = 'click'
    """,
)
def asof_join_grammar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RisingWave's ``ASOF JOIN`` SQL grammar end-to-end: the dialect
    rewriter (plans/rewrite.rewrite_asof_join) turns it into a
    correlated LATERAL LIMIT-1 subquery; the oracle runs DuckDB's
    NATIVE ASOF JOIN on the same tables — two independent asof
    implementations agreeing row-for-row.

    100 TB shape: Catalyst decorrelates the lateral into an equi-join
    on user_id + per-left-row top-1 — one shuffle, same physical plan
    family as asof_join_last_click above."""
    from risingwave_py_spark.catalog import ensure_views
    from risingwave_py_spark.plans.rewrite import rewrite_asof_join

    ensure_views(spark, sf_dir)
    return spark.sql(rewrite_asof_join(_ASOF_GRAMMAR_SQL))


@register(
    "events_funnel",
    oracle="""
    WITH steps AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS step_click,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS step_purchase
    FROM steps
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user,
    the FIRST occurrence time of each step; a user converts a step
    only if it happens strictly after the previous step's first
    occurrence — the product-analytics staple RisingWave sells
    streaming MVs for.

    100 TB shape: one conditional-MIN hash aggregate per user (single
    shuffle, map-side combined), then a 1-row conditional-count
    reduce. No joins, no windows."""
    e = table(spark, sf_dir, "events")
    steps = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    did_view = F.col("t_view").isNotNull()
    did_click = did_view & (F.col("t_click") > F.col("t_view"))
    did_buy = did_click & (F.col("t_buy") > F.col("t_click"))
    return steps.agg(
        F.count("*").alias("n_users"),
        F.sum(did_view.cast("int")).alias("step_view"),
        F.sum(did_click.cast("int")).alias("step_click"),
        F.sum(did_buy.cast("int")).alias("step_purchase"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_day AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN first_day f USING (user_id)
    )
    SELECT cohort_day, CAST(day_offset AS INT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later day-offset they return (first week) — the retention
    triangle every analytics stack computes.

    100 TB shape: first-seen is one min-aggregate; the join back is
    keyed on user_id (same key, AQE-co-partitioned); DISTINCT
    collapses per-(user, day) before the final count. Three hash
    exchanges total, all on user_id or the small cohort key."""
    e = table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    act = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        act.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("active_users"))
    )


@register(
    "events_ema_drift",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           round(list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (acc, x) -> acc + 0.125 * (x - acc)), 6) AS ema,
           round(AVG(CAST(value AS DOUBLE)), 6) AS mean_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_ema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential moving average per event stream — the SEQUENTIAL
    stateful fold (EMA_t = EMA_{t-1} + α·(x_t − EMA_{t-1}), α = 1/8)
    no window frame can express, next to the plain mean so drift
    (recent level vs lifetime level) reads off directly. Expressed
    declaratively: sort_array(collect_list(struct(ts, id, value)))
    per key, then one aggregate() left fold — init is the first
    element and α is a dyadic rational, so the double arithmetic is
    bit-identical to the DuckDB oracle's list_reduce fold.

    100 TB shape: ONE hash aggregate (map-side combined collect_list)
    — but the per-key history lives in one array, so this form holds
    while per-key event counts fit an executor (millions of events
    per key). Past EMA_ARRAY_MAX_PER_KEY (same configurable-bound
    pattern as the engine's DIRECT_MAX_DELTA_ROWS) the IDENTICAL fold
    runs as a sorted applyInPandas per key instead — no executor
    array, history streamed through Arrow — decided at runtime from a
    cheap per-key count probe. Both forms produce the same oracle
    values (pinned by tests/test_operators.py and the 8x scaling
    probe in SCALE.md)."""
    e = table(spark, sf_dir, "events")
    mx = (
        e.groupBy("event_type").count().agg(F.max("count")).first()[0] or 0
    )
    if mx > EMA_ARRAY_MAX_PER_KEY:
        return _ema_drift_pandas(e)
    per = e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "sort_array(collect_list(struct(ts, event_id, value)))"
        ).alias("h"),
        F.round(F.avg(F.col("value").cast("double")), 6).alias("mean_value"),
    )
    vals = "transform(h, s -> CAST(s.value AS DOUBLE))"
    return per.select(
        "event_type",
        "n_events",
        F.expr(
            f"round(aggregate(slice({vals}, 2, size(h) - 1), "
            f"element_at({vals}, 1), "
            f"(acc, x) -> acc + CAST(0.125 AS DOUBLE) * (x - acc)), 6)"
        ).alias("ema"),
        "mean_value",
    ).orderBy("event_type")


# Per-key histories beyond this count leave the collect_list array
# form for the sorted-applyInPandas fold (identical arithmetic, no
# executor-resident array). Overridable for probes/tests.
EMA_ARRAY_MAX_PER_KEY = int(
    os.environ.get("SPARK_GRAFT_EMA_ARRAY_MAX", "5000000")
)


def _ema_drift_pandas(e: DataFrame) -> DataFrame:
    """The events_ema_drift fold as a grouped applyInPandas: one
    Arrow batch stream per event_type, sorted by the SAME
    (ts, event_id, value) key sort_array uses, folded with the same
    acc + 0.125*(x - acc) double sequence and HALF_UP rounding. A
    NULL value poisons the fold to NULL exactly as the SQL aggregate
    does; the mean skips NULLs exactly as avg does."""
    import pandas as pd

    from risingwave_py_spark.functions.multimodal import _round_half_up

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["ts", "event_id", "value"], kind="mergesort"
        )
        n = len(pdf)
        vals = pdf["value"].astype("float64")
        if vals.isna().any():
            ema = None
        else:
            arr = vals.to_numpy()
            acc = float(arr[0])
            for x in arr[1:]:
                acc = acc + 0.125 * (float(x) - acc)
            ema = _round_half_up(acc, 6)
        mean = (
            _round_half_up(float(vals.mean()), 6)
            if n and not vals.isna().all() else None
        )
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "n_events": [n],
            "ema": [ema],
            "mean_value": [mean],
        })

    return (
        e.select("event_type", "ts", "event_id", "value")
        .groupBy("event_type")
        .applyInPandas(
            fold,
            "event_type string, n_events bigint, ema double, "
            "mean_value double",
        )
        .orderBy("event_type")
    )
