"""Time-window TVFs: tumble / hop / session (SURVEY.md §2.5).

The reference's one windowing construct is the `tumble(table, col,
interval)` TVF (/root/reference/demo.py:98-100) whose output columns
`window_start`/`window_end` are grouped on. RisingWave's public SQL
also has `hop(...)` and session semantics; Spark spells these
`window(col, size)`, `window(col, size, slide)` and
`session_window(col, gap)` — same epoch-aligned bucketing.

These run identically as batch (here, oracle-checked) and as
Structured Streaming groupings (streaming/materialized_view.py); at
scale the window expression is a cheap per-row projection, the only
shuffle is the groupBy on (window, key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from risingwave_py_spark.catalog import table
from risingwave_py_spark.operators.relational import dsum
from risingwave_py_spark.registry import _sql_query, register


_sql_query(
    "tumble_events_15m",
    """
    SELECT window.start AS window_start, window.end AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window(ts, '15 minutes'), event_type
    """,
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           time_bucket(INTERVAL '15 minutes', ts) + INTERVAL 15 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)


_sql_query(
    "hop_events_30m_15m",
    """
    SELECT window.start AS window_start, window.end AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window(ts, '30 minutes', '15 minutes'), event_type
    """,
    oracle="""
    SELECT window_start,
           window_start + INTERVAL 30 MINUTE AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM (
        SELECT unnest([time_bucket(INTERVAL '15 minutes', ts),
                       time_bucket(INTERVAL '15 minutes', ts) - INTERVAL 15 MINUTE]) AS window_start,
               event_type, value
        FROM events
    ) expanded
    GROUP BY 1, 2, 3
    """,
)


@register(
    "session_window_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 20 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 20 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window via Spark's native `session_window(ts, gap)`:
    window.start = first event, window.end = last event + gap —
    matching the gap-chained oracle."""
    ev = table(spark, sf_dir, "events")
    sw = F.session_window("ts", "20 minutes")
    return (
        ev.groupBy(sw, "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


_sql_query(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(get_json_object(props, '$.k') AS INT)) AS sum_k,
           MAX(CAST(get_json_object(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)


@register(
    "monthly_revenue_trend",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY 1
    """,
)
def monthly_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bucketed rollup (date_trunc) — partition-prunable at
    scale when the table is date-partitioned."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )
