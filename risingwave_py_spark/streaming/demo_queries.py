"""Driver-visible streaming scenarios (SURVEY.md §2.8 evidence).

Each query runs a complete engine scenario — DDL, inserts, MV
maintenance, subscription cursor — and returns the resulting
changelog/table rows. The scenarios are fully deterministic (logical
epochs, fixed inserts), so most carry static-VALUES oracles: the
streaming semantics themselves are hash-checked, not just row-counted.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from risingwave_py_spark.registry import register


def _fresh_conn(spark: SparkSession, schema: str):
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
    # A crashed prior run can leave the warehouse dir on disk with no
    # catalog entry; CREATE TABLE then fails LOCATION_ALREADY_EXISTS.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/{schema}.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema=schema)
    return RisingWaveConnection(eng), eng


@register(
    "mv_changelog_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('x', CAST(1.0 AS DOUBLE), 'UpdateDelete', CAST(3 AS BIGINT)),
        ('x', CAST(10.0 AS DOUBLE), 'UpdateInsert', CAST(3 AS BIGINT)),
        ('z', CAST(5.0 AS DOUBLE), 'Insert', CAST(3 AS BIGINT))
    ) AS t(p, total, op, rw_timestamp)
    """,
)
def mv_changelog_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-MV changelog derivation, end to end: base inserts →
    MV refresh → subscription cursor FETCH. The op sequence
    (UpdateDelete/UpdateInsert for a changed group, Insert for a new
    one) mirrors the reference demo's observed contract (demo.py:50).
    Epochs are logical (1: seed insert, 2: second insert, 3: MV
    refresh), making the whole changelog hash-checkable."""
    conn, eng = _fresh_conn(spark, "rwdemo_mv")
    conn.insert(pd.DataFrame({"p": ["x", "y"], "v": [1.0, 2.0]}),
                table_name="sales", schema_name="rwdemo_mv", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_mv.sales_mv AS "
        "SELECT p, sum(v) AS total FROM rwdemo_mv.sales GROUP BY p"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_mv.s FROM rwdemo_mv.sales_mv WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_mv_cur subscription cursor for rwdemo_mv.s SINCE 0")
    conn.insert(pd.DataFrame({"p": ["x", "z"], "v": [9.0, 5.0]}),
                table_name="sales", schema_name="rwdemo_mv", force_flush=True)
    cols, rows = eng.fetch_cursor("rwdemo_mv_cur", 100)
    out = spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, total double, op string, rw_timestamp bigint",
    )
    return out


@register(
    "upsert_version_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('a', CAST(25 AS BIGINT)),
        ('b', CAST(5 AS BIGINT))
    ) AS t(sub_name, progress)
    """,
)
def upsert_version_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON CONFLICT DO UPDATE ... WITH VERSION COLUMN semantics
    (core.py:507-513): later inserts win only with a higher version —
    the stale ('a', 7) write must not clobber ('a', 25)."""
    conn, eng = _fresh_conn(spark, "rwdemo_up")
    conn.execute(
        "CREATE TABLE rwdemo_up.prog (sub_name STRING PRIMARY KEY, progress BIGINT) "
        "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(progress)"
    )
    conn.execute("INSERT INTO rwdemo_up.prog (sub_name, progress) VALUES ('a', 10), ('b', 1)")
    conn.execute("INSERT INTO rwdemo_up.prog (sub_name, progress) VALUES ('a', 25)")
    conn.execute("INSERT INTO rwdemo_up.prog (sub_name, progress) VALUES ('a', 7), ('b', 5)")
    cols, rows = conn._dispatch("SELECT sub_name, progress FROM rwdemo_up.prog")
    return spark.createDataFrame(sorted(rows), "sub_name string, progress bigint")


@register(
    "table_changelog_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'Insert', CAST(1 AS BIGINT)),
        (CAST(2 AS BIGINT), 'Insert', CAST(2 AS BIGINT)),
        (CAST(3 AS BIGINT), 'Insert', CAST(2 AS BIGINT)),
        (CAST(4 AS BIGINT), 'Insert', CAST(3 AS BIGINT))
    ) AS t(k, op, rw_timestamp)
    """,
)
def table_changelog_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-table changelog: one epoch per flush, Insert ops,
    monotonic rw_timestamp — and a SINCE-positioned cursor replays the
    full history in order."""
    conn, eng = _fresh_conn(spark, "rwdemo_tb")
    for batch in ([1], [2, 3], [4]):
        conn.insert(pd.DataFrame({"k": batch}), table_name="ev",
                    schema_name="rwdemo_tb", force_flush=True)
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_tb.s FROM rwdemo_tb.ev WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_tb_cur subscription cursor for rwdemo_tb.s SINCE 0")
    cols, rows = eng.fetch_cursor("rwdemo_tb_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], r[0])), "k bigint, op string, rw_timestamp bigint"
    )


@register(
    "cascade_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(2 AS BIGINT), CAST(3.0 AS DOUBLE), 'Delete', CAST(4 AS BIGINT)),
        (CAST(3 AS BIGINT), CAST(17.0 AS DOUBLE), 'Insert', CAST(4 AS BIGINT))
    ) AS t(n, grand, op, rw_timestamp)
    """,
)
def cascade_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading MVs (MV over MV, a core RisingWave pattern): m2
    aggregates m1's aggregate. One FLUSH refreshes the chain in
    creation order — m1 at epoch 3, then m2 at epoch 4 off m1's NEW
    state — and m2's changelog carries the bag-diff of its global
    aggregate (no group keys → Delete old row + Insert new row)."""
    conn, eng = _fresh_conn(spark, "rwdemo_cs")
    conn.insert(pd.DataFrame({"p": ["x", "y"], "v": [1.0, 2.0]}),
                table_name="s", schema_name="rwdemo_cs", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_cs.m1 AS "
        "SELECT p, sum(v) AS total FROM rwdemo_cs.s GROUP BY p"
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_cs.m2 AS "
        "SELECT count(*) AS n, sum(total) AS grand FROM rwdemo_cs.m1"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_cs.sub FROM rwdemo_cs.m2 WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_cs_cur subscription cursor for rwdemo_cs.sub SINCE 0")
    conn.insert(pd.DataFrame({"p": ["x", "z"], "v": [9.0, 5.0]}),
                table_name="s", schema_name="rwdemo_cs", force_flush=True)
    cols, rows = eng.fetch_cursor("rwdemo_cs_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "n bigint, grand double, op string, rw_timestamp bigint",
    )


@register(
    "dml_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('a', CAST(1.0 AS DOUBLE), 'Insert', CAST(1 AS BIGINT)),
        ('b', CAST(2.0 AS DOUBLE), 'Insert', CAST(1 AS BIGINT)),
        ('c', CAST(3.0 AS DOUBLE), 'Insert', CAST(1 AS BIGINT)),
        ('b', CAST(2.0 AS DOUBLE), 'UpdateDelete', CAST(2 AS BIGINT)),
        ('b', CAST(20.0 AS DOUBLE), 'UpdateInsert', CAST(2 AS BIGINT)),
        ('c', CAST(3.0 AS DOUBLE), 'Delete', CAST(3 AS BIGINT))
    ) AS t(p, v, op, rw_timestamp)
    """,
)
def dml_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE/DELETE DML with changelog parity: the update emits an
    UpdateDelete/UpdateInsert pair carrying old and new values, the
    delete emits Delete — each in its own atomically-published epoch,
    replayed in order by a SINCE-0 cursor."""
    conn, eng = _fresh_conn(spark, "rwdemo_dml")
    conn.insert(pd.DataFrame({"p": ["a", "b", "c"], "v": [1.0, 2.0, 3.0]}),
                table_name="kv", schema_name="rwdemo_dml", force_flush=True)
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_dml.s FROM rwdemo_dml.kv WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_dml_cur subscription cursor for rwdemo_dml.s SINCE 0")
    conn.execute("UPDATE rwdemo_dml.kv SET v = v * 10 WHERE p = 'b'")
    conn.execute("DELETE FROM rwdemo_dml.kv WHERE p = 'c'")
    cols, rows = eng.fetch_cursor("rwdemo_dml_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, v double, op string, rw_timestamp bigint",
    )


@register(
    "topn_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('b', CAST(9.0 AS DOUBLE), 'Delete', CAST(3 AS BIGINT)),
        ('d', CAST(20.0 AS DOUBLE), 'Insert', CAST(3 AS BIGINT))
    ) AS t(p, v, op, rw_timestamp)
    """,
)
def topn_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Top-N (RisingWave's flagship MV shape): an MV over
    ORDER BY … LIMIT keeps the leaderboard current, and the changelog
    emits Delete for the row evicted from the top-2 (b, the previous
    runner-up) and Insert for the row that displaced it — derived by
    the bag-diff path (no group keys to pair updates on)."""
    conn, eng = _fresh_conn(spark, "rwdemo_tn")
    conn.insert(pd.DataFrame({"p": ["a", "b", "c"], "v": [10.0, 9.0, 8.0]}),
                table_name="scores", schema_name="rwdemo_tn", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_tn.top2 AS "
        "SELECT p, v FROM rwdemo_tn.scores ORDER BY v DESC LIMIT 2"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_tn.s FROM rwdemo_tn.top2 WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_tn_cur subscription cursor for rwdemo_tn.s SINCE 0")
    conn.insert(pd.DataFrame({"p": ["d"], "v": [20.0]}),
                table_name="scores", schema_name="rwdemo_tn", force_flush=True)
    cols, rows = eng.fetch_cursor("rwdemo_tn_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, v double, op string, rw_timestamp bigint",
    )


@register(
    "sink_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('x', CAST(1.0 AS DOUBLE), 'Insert', CAST(1 AS BIGINT)),
        ('y', CAST(2.0 AS DOUBLE), 'Insert', CAST(1 AS BIGINT)),
        ('x', CAST(1.0 AS DOUBLE), 'UpdateDelete', CAST(3 AS BIGINT)),
        ('x', CAST(10.0 AS DOUBLE), 'UpdateInsert', CAST(3 AS BIGINT))
    ) AS t(p, total, op, rw_timestamp)
    """,
)
def sink_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SINK end to end: changelog-mode file sink over an
    aggregation MV. Creation emits the MV snapshot as Insert rows at
    the current epoch; a later insert + FLUSH refreshes the MV and the
    sink forwards exactly the new changelog epochs (UpdateDelete/
    UpdateInsert pair) to the output files — incremental, no rewrite
    of previously-sunk data."""
    import shutil
    import tempfile

    conn, eng = _fresh_conn(spark, "rwdemo_sk")
    out_dir = tempfile.mkdtemp(prefix="rw_sink_out_")
    try:
        conn.insert(pd.DataFrame({"p": ["x", "y"], "v": [1.0, 2.0]}),
                    table_name="sales", schema_name="rwdemo_sk", force_flush=True)
        conn.execute(
            "CREATE MATERIALIZED VIEW rwdemo_sk.mv AS "
            "SELECT p, sum(v) AS total FROM rwdemo_sk.sales GROUP BY p"
        )
        conn.execute(
            f"CREATE SINK rwdemo_sk.snk FROM rwdemo_sk.mv WITH "
            f"(connector='filesystem', path='{out_dir}', format='parquet', type='changelog')"
        )
        conn.insert(pd.DataFrame({"p": ["x"], "v": [9.0]}),
                    table_name="sales", schema_name="rwdemo_sk", force_flush=True)
        rows = [
            (r.p, r.total, r.op, r.rw_timestamp)
            for r in spark.read.parquet(out_dir).collect()
        ]
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, total double, op string, rw_timestamp bigint",
    )


@register(
    "tumble_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (TIMESTAMP '2024-01-01 00:00:00', 'btc', CAST(50.0 AS DOUBLE)),
        (TIMESTAMP '2024-01-01 00:00:00', 'eth', CAST(105.0 AS DOUBLE)),
        (TIMESTAMP '2024-01-01 00:00:10', 'eth', CAST(120.0 AS DOUBLE))
    ) AS t(window_start, symbol, avg_price)
    """,
)
def tumble_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference demo's tick-analytics pipeline (demo.py:91-106):
    tumbling-window MV over an event table via the tumble() TVF
    rewrite, refreshed incrementally as inserts arrive."""
    conn, eng = _fresh_conn(spark, "rwdemo_tw")
    ticks = pd.DataFrame({
        "symbol": ["eth", "eth", "btc", "eth"],
        "ts": pd.to_datetime([
            "2024-01-01 00:00:03", "2024-01-01 00:00:07",
            "2024-01-01 00:00:08", "2024-01-01 00:00:14",
        ]),
        "close": [100.0, 110.0, 50.0, 120.0],
    })
    conn.insert(ticks.iloc[:3], table_name="tick", schema_name="rwdemo_tw", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_tw.tick_10s AS "
        "SELECT window_start, window_end, symbol, round(avg(close)) AS avg_price "
        "FROM tumble(rwdemo_tw.tick, ts, interval '10 seconds') "
        "GROUP BY window_start, window_end, symbol"
    )
    conn.insert(ticks.iloc[3:], table_name="tick", schema_name="rwdemo_tw", force_flush=True)
    cols, rows = conn._dispatch(
        "SELECT window_start, symbol, avg_price FROM rwdemo_tw.tick_10s "
        "ORDER BY window_start, symbol"
    )
    return spark.createDataFrame(rows, "window_start timestamp, symbol string, avg_price double")


@register(
    "streaming_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (TIMESTAMP '2024-01-01 09:00:00', 'click', CAST(1 AS BIGINT), 'Insert', CAST(1 AS BIGINT)),
        (TIMESTAMP '2024-01-01 09:00:00', 'view',  CAST(1 AS BIGINT), 'Insert', CAST(1 AS BIGINT)),
        (TIMESTAMP '2024-01-01 09:00:00', 'click', CAST(1 AS BIGINT), 'UpdateDelete', CAST(2 AS BIGINT)),
        (TIMESTAMP '2024-01-01 09:00:00', 'click', CAST(2 AS BIGINT), 'UpdateInsert', CAST(2 AS BIGINT)),
        (TIMESTAMP '2024-01-01 09:15:00', 'click', CAST(1 AS BIGINT), 'Insert', CAST(2 AS BIGINT))
    ) AS t(window_start, event_type, n_events, op, epoch)
    """,
)
def streaming_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming MV end to end (streaming/structured.py):
    file-source stream → update-mode tumbling aggregate → foreachBatch
    merge + changelog. Two availableNow drains with an insert between
    them produce the reference op sequence — Insert for new windows,
    a full UpdateDelete/UpdateInsert retraction pair for a revised one
    (demo.py:50 contract). Micro-batch ids are normalized to dense
    epochs (their absolute values depend on Spark's empty-batch
    bookkeeping; their order does not)."""
    import datetime as dt
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from risingwave_py_spark.streaming.structured import StreamingMV, tumbling_counts_stream

    src_dir = tempfile.mkdtemp(prefix="rw_smv_src_")
    name = f"smv_scen_{uuid.uuid4().hex[:8]}"

    def append(rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src_dir)

    t = lambda m: dt.datetime(2024, 1, 1, 9, m)  # noqa: E731
    # The stream's state-store partition count is frozen from
    # spark.sql.shuffle.partitions at first checkpoint; 3 groups of
    # state don't need 32 partitions' worth of per-batch commit I/O.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        append([(1, t(1), "click", 1.0), (2, t(2), "view", 2.0)])
        source = spark.readStream.schema(
            "user_id bigint, ts timestamp, event_type string, value double"
        ).parquet(src_dir)
        mv = StreamingMV(
            spark, name, source,
            transform=lambda df: tumbling_counts_stream(df, width="15 minutes"),
            key_cols=["window_start", "event_type"],
        )
        mv.start(available_now=True)
        mv.process_all()
        append([(1, t(3), "click", 5.0), (3, t(16), "click", 7.0)])
        mv.start(available_now=True)
        mv.process_all()
        out = (
            spark.table(mv.changelog_table)
            .withColumn("epoch", F.dense_rank().over(W.orderBy("rw_timestamp")))
            .select("window_start", "event_type", "n_events", "op", "epoch")
        )
        rows = [tuple(r) for r in out.collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.sql(f"DROP VIEW IF EXISTS {name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}__data")
        spark.sql(f"DROP TABLE IF EXISTS {name}__changelog")
        shutil.rmtree(src_dir, ignore_errors=True)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "window_start timestamp, event_type string, n_events bigint, op string, epoch bigint",
    )


@register(
    "emit_on_close_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 00:00:10',
         'a', CAST(2 AS BIGINT), 'Insert', CAST(4 AS BIGINT)),
        (TIMESTAMP '2024-01-01 00:00:20', TIMESTAMP '2024-01-01 00:00:30',
         'a', CAST(1 AS BIGINT), 'Insert', CAST(7 AS BIGINT))
    ) AS t(window_start, window_end, k, n, op, rw_timestamp)
    """,
)
def emit_on_close_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK DDL + EMIT ON WINDOW CLOSE (RisingWave's append-only
    MV contract): windows are emitted exactly once, when the watermark
    (max event time - delay) passes window_end; late rows arriving
    after a window closed are DROPPED, never retracted.

    Timeline (each tick = one insert epoch + flush): rows at :01/:03
    (window [0,10)), nothing closes. Row at :25 (epoch 3) → wm :15 ≥
    :10 closes [0,10) with n=2 at epoch 4. LATE row at :04 → [0,10)
    frozen, no emission. Row at :45 (epoch 6) → wm :35 closes [20,30)
    with n=1 at epoch 7 — the :45 row's own window [40,50) stays
    open."""
    conn, eng = _fresh_conn(spark, "rwdemo_eowc")
    conn.execute(
        "CREATE TABLE rwdemo_eowc.t (ts TIMESTAMPTZ, k STRING, "
        "WATERMARK FOR ts AS ts - INTERVAL '10' SECOND)"
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_eowc.m AS "
        "SELECT window_start, window_end, k, count(*) AS n "
        "FROM tumble(rwdemo_eowc.t, ts, interval '10 seconds') "
        "GROUP BY window_start, window_end, k EMIT ON WINDOW CLOSE"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_eowc.sub FROM rwdemo_eowc.m WITH (retention='86400s')"
    )
    conn.execute("DECLARE rwdemo_eowc_cur subscription cursor for rwdemo_eowc.sub SINCE 0")

    def tick(ts_s: str) -> None:
        conn.insert(pd.DataFrame({"ts": [pd.Timestamp(f"2024-01-01 00:00:{ts_s}")],
                                  "k": ["a"]}),
                    table_name="t", schema_name="rwdemo_eowc", force_flush=True)

    tick("01")
    tick("03")   # window [0,10) has 2 rows; wm still before :10
    tick("25")   # wm=:15 → closes [0,10) (epoch 3)
    tick("04")   # LATE for [0,10): frozen, dropped
    tick("45")   # wm=:35 → closes [20,30) (epoch 5); [40,50) stays open
    cols, rows = eng.fetch_cursor("rwdemo_eowc_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: r[-1]),
        "window_start timestamp, window_end timestamp, k string, n bigint, "
        "op string, rw_timestamp bigint",
    )


@register(
    "join_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('alice', CAST(10.0 AS DOUBLE), 'UpdateDelete', CAST(4 AS BIGINT)),
        ('alice', CAST(17.0 AS DOUBLE), 'UpdateInsert', CAST(4 AS BIGINT)),
        ('carol', CAST(2.0 AS DOUBLE), 'Insert', CAST(6 AS BIGINT))
    ) AS t(name, total, op, rw_timestamp)
    """,
)
def join_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MV over a two-table equi-join + aggregation, with changelog:
    fact inserts must re-aggregate through the join (alice's total
    updates), and a dimension insert must bring a new group into
    existence (carol appears only once her fact row can find its
    dimension row). Exercises the MV runtime on multi-table SQL —
    refresh diffs the join result, not a single base table."""
    conn, eng = _fresh_conn(spark, "rwdemo_jn")
    conn.insert(pd.DataFrame({"ck": [1, 2], "name": ["alice", "bob"]}),
                table_name="cust", schema_name="rwdemo_jn", force_flush=True)
    conn.insert(pd.DataFrame({"ck": [1, 2], "amt": [10.0, 5.0]}),
                table_name="ord", schema_name="rwdemo_jn", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_jn.by_name AS "
        "SELECT c.name, sum(o.amt) AS total "
        "FROM rwdemo_jn.ord o JOIN rwdemo_jn.cust c ON o.ck = c.ck "
        "GROUP BY c.name"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_jn.s FROM rwdemo_jn.by_name WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_jn_cur subscription cursor for rwdemo_jn.s SINCE 0")
    # epoch: fact-side change (alice +7) and an orphan fact row (ck=3)
    conn.insert(pd.DataFrame({"ck": [1, 3], "amt": [7.0, 2.0]}),
                table_name="ord", schema_name="rwdemo_jn", force_flush=True)
    # epoch: dimension arrives -> carol's group materializes
    conn.insert(pd.DataFrame({"ck": [3], "name": ["carol"]}),
                table_name="cust", schema_name="rwdemo_jn", force_flush=True)
    cols, rows = eng.fetch_cursor("rwdemo_jn_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "name string, total double, op string, rw_timestamp bigint",
    )


@register(
    "inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('x', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(7 AS BIGINT), 'UpdateInsert', CAST(3 AS BIGINT)),
        ('x', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), 'UpdateDelete', CAST(3 AS BIGINT)),
        ('z', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'Insert', CAST(3 AS BIGINT)),
        ('z', CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'UpdateDelete', CAST(5 AS BIGINT)),
        ('z', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(9 AS BIGINT), 'UpdateInsert', CAST(5 AS BIGINT))
    ) AS t(p, total, n, hi, op, rw_timestamp)
    """,
)
def inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-merge) MV maintenance, end to end: an
    append-only base + simple-agg MV takes the fast path (asserted —
    the scenario fails if the planner demoted it), two insert epochs
    merge group-wise without rescanning the base, and the resulting
    changelog is byte-identical to what the snapshot-diff path would
    emit. Returns the changelog with logical epochs pinned."""
    conn, eng = _fresh_conn(spark, "rwdemo_inc")
    conn.execute("CREATE TABLE rwdemo_inc.ev (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["x", "y"], "v": [3, 4]}),
                table_name="ev", schema_name="rwdemo_inc", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_inc.agg AS "
        "SELECT p, sum(v) AS total, count(*) AS n, max(v) AS hi "
        "FROM rwdemo_inc.ev GROUP BY p"
    )
    assert eng.mvs["rwdemo_inc.agg"].inc is not None, "fast path not taken"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_inc.s FROM rwdemo_inc.agg WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_inc_cur subscription cursor for rwdemo_inc.s SINCE 0")
    conn.insert(pd.DataFrame({"p": ["x", "z"], "v": [7, 1]}),
                table_name="ev", schema_name="rwdemo_inc", force_flush=True)
    conn.insert(pd.DataFrame({"p": ["z"], "v": [9]}),
                table_name="ev", schema_name="rwdemo_inc", force_flush=True)
    assert eng.mvs["rwdemo_inc.agg"].inc is not None, "fast path lost"
    cols, rows = eng.fetch_cursor("rwdemo_inc_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, total bigint, n bigint, hi bigint, op string, rw_timestamp bigint",
    )


@register(
    "join_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'a', CAST(5.0 AS DOUBLE), 'Insert', CAST(6 AS BIGINT)),
        (CAST(4 AS BIGINT), 'd', CAST(9.0 AS DOUBLE), 'Insert', CAST(6 AS BIGINT))
    ) AS t(uid, name, amt, op, rw_timestamp)
    """,
)
def join_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-MV maintenance end to end: an INNER equi-join
    MV over two append-only tables takes the delta path (asserted),
    ΔA⋈B ∪ A_old⋈ΔB handles a new fact for an existing dim row, a new
    dim row, and a fact+dim pair arriving in the SAME epoch window
    without double-counting; the published changelog carries exactly
    the new join rows. Returns the MV changelog with pinned epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_ij")
    conn.execute("CREATE TABLE rwdemo_ij.orders (uid BIGINT, amt DOUBLE)")
    conn.execute("CREATE TABLE rwdemo_ij.users (uid BIGINT, name STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 2], "amt": [10.0, 20.0]}),
                table_name="orders", schema_name="rwdemo_ij", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2, 3], "name": ["a", "b", "c"]}),
                table_name="users", schema_name="rwdemo_ij", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_ij.mv AS "
        "SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
        "FROM rwdemo_ij.orders o JOIN rwdemo_ij.users u ON o.uid = u.uid"
    )
    assert eng.mvs["rwdemo_ij.mv"].inc_join is not None, "join fast path not taken"
    conn.insert(pd.DataFrame({"uid": [1], "amt": [5.0]}),
                table_name="orders", schema_name="rwdemo_ij", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [4], "name": ["d"]}),
                table_name="users", schema_name="rwdemo_ij", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [4], "amt": [9.0]}),
                table_name="orders", schema_name="rwdemo_ij", force_flush=True)
    assert eng.mvs["rwdemo_ij.mv"].inc_join is not None, "join fast path lost"
    cl = eng.changelog_table("rwdemo_ij.mv")
    rows = [tuple(r) for r in cl.collect()]
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "uid bigint, name string, amt double, op string, rw_timestamp bigint",
    )


@register(
    "join_agg_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('ap', CAST(7 AS BIGINT), CAST(1 AS BIGINT), 'Insert', CAST(6 AS BIGINT)),
        ('na', CAST(5 AS BIGINT), CAST(2 AS BIGINT), 'UpdateDelete', CAST(6 AS BIGINT)),
        ('na', CAST(15 AS BIGINT), CAST(3 AS BIGINT), 'UpdateInsert', CAST(6 AS BIGINT))
    ) AS t(region, total, n, op, rw_timestamp)
    """,
)
def join_agg_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join aggregate MV on the composed fast path (join delta →
    group-wise merge), end to end: the fast path is asserted, a
    same-flush fact+dim pair materializes a brand-new group exactly
    once, and a fact insert for an existing group emits the
    UpdateDelete/UpdateInsert pair — all without recomputing the full
    join. Returns the MV changelog with pinned epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_jag")
    conn.execute("CREATE TABLE rwdemo_jag.fact (uid BIGINT, qty BIGINT)")
    conn.execute("CREATE TABLE rwdemo_jag.dim (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "qty": [2, 3, 5]}),
                table_name="fact", schema_name="rwdemo_jag", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                table_name="dim", schema_name="rwdemo_jag", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_jag.mv AS "
        "SELECT d.region AS region, sum(f.qty) AS total, count(*) AS n "
        "FROM rwdemo_jag.fact f JOIN rwdemo_jag.dim d ON f.uid = d.uid "
        "GROUP BY d.region"
    )
    assert eng.mvs["rwdemo_jag.mv"].inc_joinagg is not None, "join-agg fast path not taken"
    conn.insert(pd.DataFrame({"uid": [1], "qty": [10]}),
                table_name="fact", schema_name="rwdemo_jag", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [9], "region": ["ap"]}),
                table_name="dim", schema_name="rwdemo_jag", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [9], "qty": [7]}),
                table_name="fact", schema_name="rwdemo_jag", force_flush=True)
    assert eng.mvs["rwdemo_jag.mv"].inc_joinagg is not None, "join-agg fast path lost"
    cl = eng.changelog_table("rwdemo_jag.mv")
    rows = [tuple(r) for r in cl.collect()]
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "region string, total bigint, n bigint, op string, rw_timestamp bigint",
    )


@register(
    "dml_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('x', CAST(15 AS BIGINT), CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(10 AS BIGINT), 'UpdateInsert', CAST(3 AS BIGINT)),
        ('x', CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT), 'UpdateDelete', CAST(3 AS BIGINT)),
        ('y', CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT), 'Delete', CAST(5 AS BIGINT)),
        ('w', CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'Insert', CAST(8 AS BIGINT)),
        ('x', CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(10 AS BIGINT), 'UpdateInsert', CAST(8 AS BIGINT)),
        ('x', CAST(15 AS BIGINT), CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(10 AS BIGINT), 'UpdateDelete', CAST(8 AS BIGINT))
    ) AS t(p, total, n, lo, hi, op, rw_timestamp)
    """,
)
def dml_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-capable incremental MV maintenance (the RisingWave
    server's core IVM behavior for MVs over mutable tables —
    /root/reference/risingwave/core.py:453-455 with UPDATE/DELETE DML
    reachable via core.py:161-181): UPDATE and DELETE on the base
    KEEP the MV on the delta fast path (asserted at every step —
    never a snapshot-diff recompute). Touched groups re-aggregate
    from the base; a group emptied by DELETE leaves the MV with a
    Delete op; a mixed delete+insert flush merges both in one epoch.
    Returns the MV changelog with pinned logical epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_dinc")
    conn.execute("CREATE TABLE rwdemo_dinc.ev (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["x", "x", "y"], "v": [3, 5, 4]}),
                table_name="ev", schema_name="rwdemo_dinc", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dinc.agg AS "
        "SELECT p, sum(v) AS total, count(*) AS n, min(v) AS lo, max(v) AS hi "
        "FROM rwdemo_dinc.ev GROUP BY p"
    )
    st = eng.mvs["rwdemo_dinc.agg"]
    assert st.inc is not None, "fast path not taken"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_dinc.s FROM rwdemo_dinc.agg "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_dinc_cur subscription cursor for rwdemo_dinc.s SINCE 0"
    )
    # UPDATE: group x re-aggregates; UpdateDelete/UpdateInsert pair
    conn.execute("UPDATE rwdemo_dinc.ev SET v = 10 WHERE p = 'x' AND v = 3")
    conn.execute("FLUSH")
    assert st.inc is not None, "UPDATE demoted the MV off the fast path"
    # DELETE emptying group y: Delete op, row leaves the MV
    conn.execute("DELETE FROM rwdemo_dinc.ev WHERE p = 'y'")
    conn.execute("FLUSH")
    assert st.inc is not None, "DELETE demoted the MV off the fast path"
    # mixed flush: a delete touching x plus inserts (new group w and
    # another x row) consumed by ONE refresh
    conn.execute("DELETE FROM rwdemo_dinc.ev WHERE p = 'x' AND v = 5")
    conn.insert(pd.DataFrame({"p": ["w", "x"], "v": [2, 1]}),
                table_name="ev", schema_name="rwdemo_dinc", force_flush=True)
    assert st.inc is not None, "mixed DML flush demoted the MV"
    cols, rows = eng.fetch_cursor("rwdemo_dinc_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, total bigint, n bigint, lo bigint, hi bigint, "
        "op string, rw_timestamp bigint",
    )


@register(
    "dml_join_agg_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('na', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(8 AS BIGINT), 'UpdateInsert', CAST(4 AS BIGINT)),
        ('na', CAST(5 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT), 'UpdateDelete', CAST(4 AS BIGINT)),
        ('eu', CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(5 AS BIGINT), 'Delete', CAST(6 AS BIGINT)),
        ('ap', CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(4 AS BIGINT), 'Insert', CAST(10 AS BIGINT)),
        ('na', CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(8 AS BIGINT), 'UpdateDelete', CAST(10 AS BIGINT)),
        ('na', CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT), 'UpdateInsert', CAST(10 AS BIGINT))
    ) AS t(region, total, n, hi, op, rw_timestamp)
    """,
)
def dml_join_agg_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-capable JOIN+AGG incremental maintenance (the
    RisingWave server's IVM over a mutable star schema —
    /root/reference/risingwave/core.py:453-455 with UPDATE/DELETE
    reachable via core.py:161-181): DML on the fact or the dimension
    keeps the MV on the composed fast path (asserted at every step).
    A fact UPDATE re-aggregates only its touched group; a dimension
    DELETE that empties a group emits Delete; min/max stay exact
    because touched groups re-aggregate from the changelog folds.
    Returns the MV changelog with pinned logical epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_djag")
    conn.execute("CREATE TABLE rwdemo_djag.fact (uid BIGINT, qty BIGINT)")
    conn.execute("CREATE TABLE rwdemo_djag.dim (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "qty": [2, 3, 5]}),
                table_name="fact", schema_name="rwdemo_djag", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                table_name="dim", schema_name="rwdemo_djag", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_djag.mv AS "
        "SELECT d.region AS region, sum(f.qty) AS total, count(*) AS n, "
        "max(f.qty) AS hi "
        "FROM rwdemo_djag.fact f JOIN rwdemo_djag.dim d ON f.uid = d.uid "
        "GROUP BY d.region"
    )
    st = eng.mvs["rwdemo_djag.mv"]
    assert st.inc_joinagg is not None, "join-agg fast path not taken"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_djag.s FROM rwdemo_djag.mv "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_djag_cur subscription cursor for rwdemo_djag.s SINCE 0"
    )
    # fact UPDATE touching group na (max participant: 3 -> 8)
    conn.execute("UPDATE rwdemo_djag.fact SET qty = 8 WHERE uid = 1 AND qty = 3")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "fact UPDATE demoted the join-agg MV"
    # dim DELETE emptying group eu
    conn.execute("DELETE FROM rwdemo_djag.dim WHERE region = 'eu'")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "dim DELETE demoted the join-agg MV"
    # mixed flush: fact delete + same-flush fact+dim pair for a new group
    conn.execute("DELETE FROM rwdemo_djag.fact WHERE qty = 2")
    conn.insert(pd.DataFrame({"uid": [9], "qty": [4]}),
                table_name="fact", schema_name="rwdemo_djag", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [9], "region": ["ap"]}),
                table_name="dim", schema_name="rwdemo_djag", force_flush=True)
    assert st.inc_joinagg is not None, "mixed DML flush demoted the MV"
    cols, rows = eng.fetch_cursor("rwdemo_djag_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "region string, total bigint, n bigint, hi bigint, "
        "op string, rw_timestamp bigint",
    )


@register(
    "dml_join_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'na', CAST(3 AS BIGINT), 'Delete', CAST(4 AS BIGINT)),
        (CAST(1 AS BIGINT), 'na', CAST(8 AS BIGINT), 'Insert', CAST(4 AS BIGINT)),
        (CAST(2 AS BIGINT), 'eu', CAST(5 AS BIGINT), 'Insert', CAST(6 AS BIGINT)),
        (CAST(2 AS BIGINT), NULL, CAST(5 AS BIGINT), 'Delete', CAST(6 AS BIGINT)),
        (CAST(2 AS BIGINT), 'eu', CAST(5 AS BIGINT), 'Delete', CAST(8 AS BIGINT)),
        (CAST(2 AS BIGINT), NULL, CAST(5 AS BIGINT), 'Insert', CAST(8 AS BIGINT)),
        (CAST(1 AS BIGINT), 'na', CAST(2 AS BIGINT), 'Delete', CAST(12 AS BIGINT)),
        (CAST(3 AS BIGINT), 'ap', CAST(7 AS BIGINT), 'Insert', CAST(12 AS BIGINT))
    ) AS t(uid, region, qty, op, rw_timestamp)
    """,
)
def dml_join_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-capable PLAIN-JOIN incremental maintenance (the
    RisingWave server's IVM over a mutable star schema —
    /root/reference/risingwave/core.py:453-455 with UPDATE/DELETE
    reachable via core.py:161-181) on a LEFT join: DML on the fact or
    the dimension keeps the MV on the fast path (asserted at every
    step). A fact UPDATE revises its join rows; a dim insert retracts
    pads; a dim DELETE resurrects them; a mixed flush folds deletes
    and inserts in one epoch. Returns the MV changelog with pinned
    logical epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_djj")
    conn.execute("CREATE TABLE rwdemo_djj.fact (uid BIGINT, qty BIGINT)")
    conn.execute("CREATE TABLE rwdemo_djj.dim (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "qty": [2, 3, 5]}),
                table_name="fact", schema_name="rwdemo_djj", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1], "region": ["na"]}),
                table_name="dim", schema_name="rwdemo_djj", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_djj.mv AS "
        "SELECT f.uid AS uid, d.region AS region, f.qty AS qty "
        "FROM rwdemo_djj.fact f LEFT JOIN rwdemo_djj.dim d ON f.uid = d.uid"
    )
    st = eng.mvs["rwdemo_djj.mv"]
    assert st.inc_join is not None, "plain-join fast path not taken"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_djj.s FROM rwdemo_djj.mv "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_djj_cur subscription cursor for rwdemo_djj.s SINCE 0"
    )
    # fact UPDATE revising one joined row (retraction branch)
    conn.execute("UPDATE rwdemo_djj.fact SET qty = 8 WHERE uid = 1 AND qty = 3")
    conn.execute("FLUSH")
    assert st.inc_join is not None, "fact UPDATE demoted the join MV"
    # dim insert matches the padded fact row (pad retracts, insert path)
    conn.insert(pd.DataFrame({"uid": [2], "region": ["eu"]}),
                table_name="dim", schema_name="rwdemo_djj", force_flush=True)
    assert st.inc_join is not None
    # dim DELETE un-matches it again (pad resurrects, retraction branch)
    conn.execute("DELETE FROM rwdemo_djj.dim WHERE uid = 2")
    conn.execute("FLUSH")
    assert st.inc_join is not None, "dim DELETE demoted the join MV"
    # mixed flush: fact delete + new fact+dim pair in one epoch
    conn.execute("DELETE FROM rwdemo_djj.fact WHERE qty = 2")
    conn.insert(pd.DataFrame({"uid": [3], "qty": [7]}),
                table_name="fact", schema_name="rwdemo_djj", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [3], "region": ["ap"]}),
                table_name="dim", schema_name="rwdemo_djj", force_flush=True)
    assert st.inc_join is not None, "mixed DML flush demoted the MV"
    cols, rows = eng.fetch_cursor("rwdemo_djj_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "uid bigint, region string, qty bigint, op string, rw_timestamp bigint",
    )


@register(
    "star3_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('na', 'x', CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'UpdateDelete', CAST(7 AS BIGINT)),
        ('na', 'x', CAST(9 AS BIGINT), CAST(2 AS BIGINT), 'UpdateInsert', CAST(7 AS BIGINT)),
        ('na', 'y', CAST(3 AS BIGINT), CAST(1 AS BIGINT), 'UpdateDelete', CAST(9 AS BIGINT)),
        ('na', 'y', CAST(9 AS BIGINT), CAST(1 AS BIGINT), 'UpdateInsert', CAST(9 AS BIGINT)),
        ('na', 'y', CAST(9 AS BIGINT), CAST(1 AS BIGINT), 'Delete', CAST(11 AS BIGINT))
    ) AS t(region, cat, total, n, op, rw_timestamp)
    """,
)
def star3_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way star-schema incremental maintenance (the RisingWave
    server's IVM over fact + multiple dimensions —
    /root/reference/risingwave/core.py:453-455): a 3-way join+agg MV
    takes the composed fast path (asserted), inserts on all three
    sides merge via the telescoping delta, and UPDATE/DELETE on any
    side re-aggregates only touched groups. Returns the MV changelog
    with pinned logical epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_s3")
    conn.execute("CREATE TABLE rwdemo_s3.fact (uid BIGINT, pid BIGINT, qty BIGINT)")
    conn.execute("CREATE TABLE rwdemo_s3.dimu (uid BIGINT, region STRING)")
    conn.execute("CREATE TABLE rwdemo_s3.dimp (pid BIGINT, cat STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "pid": [10, 11, 10],
                              "qty": [2, 3, 5]}),
                table_name="fact", schema_name="rwdemo_s3", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                table_name="dimu", schema_name="rwdemo_s3", force_flush=True)
    conn.insert(pd.DataFrame({"pid": [10, 11], "cat": ["x", "y"]}),
                table_name="dimp", schema_name="rwdemo_s3", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_s3.mv AS "
        "SELECT u.region AS region, p.cat AS cat, sum(f.qty) AS total, "
        "count(*) AS n "
        "FROM rwdemo_s3.fact f JOIN rwdemo_s3.dimu u ON f.uid = u.uid "
        "JOIN rwdemo_s3.dimp p ON f.pid = p.pid "
        "GROUP BY u.region, p.cat"
    )
    st = eng.mvs["rwdemo_s3.mv"]
    assert st.inc_joinagg is not None and len(st.inc_joinagg["sides"]) == 3, (
        "3-way star fast path not taken"
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_s3.s FROM rwdemo_s3.mv "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_s3_cur subscription cursor for rwdemo_s3.s SINCE 0"
    )
    # insert on every side in ONE flush (telescoping delta, new group)
    conn.insert(pd.DataFrame({"uid": [3], "pid": [12], "qty": [7]}),
                table_name="fact", schema_name="rwdemo_s3", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [3], "region": ["na"]}),
                table_name="dimu", schema_name="rwdemo_s3", force_flush=False)
    conn.insert(pd.DataFrame({"pid": [12], "cat": ["x"]}),
                table_name="dimp", schema_name="rwdemo_s3", force_flush=True)
    assert st.inc_joinagg is not None
    # fact UPDATE touching one group
    conn.execute("UPDATE rwdemo_s3.fact SET qty = 9 WHERE uid = 1 AND pid = 11")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "fact UPDATE demoted the 3-way MV"
    # dim2 DELETE emptying the (na, y) group
    conn.execute("DELETE FROM rwdemo_s3.dimp WHERE cat = 'y'")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "dim DELETE demoted the 3-way MV"
    cols, rows = eng.fetch_cursor("rwdemo_s3_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "region string, cat string, total bigint, n bigint, "
        "op string, rw_timestamp bigint",
    )


@register(
    "index_maintenance_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('p1_edges_new4', CAST(1 AS BIGINT)),
        ('p1_new_indexed', CAST(2 AS BIGINT)),
        ('p1_total', CAST(5 AS BIGINT)),
        ('p2_edges_new4', CAST(0 AS BIGINT)),
        ('p2_total', CAST(4 AS BIGINT)),
        ('p3_edges_new5', CAST(2 AS BIGINT)),
        ('p3_total', CAST(4 AS BIGINT))
    ) AS t(item, val)
    """,
)
def index_maintenance_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-DRIVEN index maintenance, retraction-aware: a dedup
    fingerprint index over an engine table is kept fresh from the
    table's SUBSCRIPTION cursor. Each refresh consumes the op column —
    Insert/UpdateInsert rows are (re)indexed, Delete/UpdateDelete rows
    remove their index entries — netted per doc_id (last state wins),
    so the refresh is O(batch), idempotent under at-least-once
    redelivery, and never rescans the base table. Three probed phases:
    a batch insert creates a dup edge, a base-table DELETE removes the
    matched doc (the stale edge must disappear), and an UPDATE rewrites
    a doc's text (its fingerprint must move to the new dup group).
    ann_index_dml/dedup_index_dml show the same retraction contract on
    the corpus-scale stored indexes."""
    import hashlib
    import re as _re

    from pyspark.sql import functions as F

    conn, eng = _fresh_conn(spark, "rwdemo_ix")
    conn.insert(
        pd.DataFrame({"doc_id": [1, 2, 3],
                      "text": ["alpha beta", "gamma delta", "Alpha  Beta"]}),
        table_name="docs", schema_name="rwdemo_ix", force_flush=True,
    )
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_ix.s FROM rwdemo_ix.docs "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_ix_cur subscription cursor for rwdemo_ix.s SINCE 0"
    )

    def _fp(text: str) -> str:
        # same normalized fingerprint the SQL form uses:
        # md5(regexp_replace(lower(text), '\\s+', ' '))
        return hashlib.md5(
            _re.sub(r"\s+", " ", text.lower()).encode("utf-8")
        ).hexdigest()

    def index_from_cursor() -> int:
        """Apply whatever the changelog delivered since the last fetch."""
        _, rows = eng.fetch_cursor("rwdemo_ix_cur", 100)
        if not rows:
            return 0
        # rows arrive as (doc_id, text, op, rw_timestamp) ordered by
        # epoch, but WITHIN an epoch the cursor does not order ops —
        # apply the changelog convention (retractions precede
        # insertions inside one epoch, so an UPDATE's pair nets to the
        # new value), then net per doc_id: the final state wins, and a
        # redelivered batch reproduces the same index state.
        ins_ops = ("Insert", "UpdateInsert")
        final = {}
        for r in sorted(rows, key=lambda r: (r[-1], r[-2] in ins_ops)):
            final[r[0]] = r
        alive = {i: r for i, r in final.items() if r[-2] in ins_ops}
        if spark.catalog.tableExists("rwdemo_ix.fp_index"):
            ids = ", ".join(str(i) for i in final)
            conn.execute(
                f"DELETE FROM rwdemo_ix.fp_index WHERE doc_id IN ({ids})"
            )
        if alive:
            conn.insert(
                pd.DataFrame({
                    "doc_id": list(alive),
                    "fp": [_fp(r[1]) for r in alive.values()],
                }),
                table_name="fp_index", schema_name="rwdemo_ix",
                force_flush=True,
            )
        return len(alive)

    def probe(phase: str, doc_id: int, out: list) -> None:
        spark.catalog.refreshTable("rwdemo_ix.fp_index")
        idx = spark.table("rwdemo_ix.fp_index")
        edges = (
            idx.alias("n").filter(F.col("n.doc_id") == doc_id)
            .join(idx.alias("o"),
                  (F.col("n.fp") == F.col("o.fp"))
                  & (F.col("n.doc_id") != F.col("o.doc_id")))
            .count()
        )
        out.append((f"{phase}_edges_new{doc_id}", edges))
        out.append((f"{phase}_total", idx.count()))

    out: list[tuple[str, int]] = []
    index_from_cursor()  # initial build from epoch 1's rows
    # p1: the daily batch arrives; the cursor yields ONLY the new rows
    conn.insert(
        pd.DataFrame({"doc_id": [4, 5], "text": ["gamma delta", "epsilon"]}),
        table_name="docs", schema_name="rwdemo_ix", force_flush=True,
    )
    out.append(("p1_new_indexed", index_from_cursor()))
    probe("p1", 4, out)  # doc 4 duplicates doc 2
    # p2: privacy deletion of the matched doc — the stale entry must go
    conn.execute("DELETE FROM rwdemo_ix.docs WHERE doc_id = 2")
    index_from_cursor()
    probe("p2", 4, out)  # edge gone, index one row smaller
    # p3: UPDATE moves doc 5 into the alpha-beta dup group
    conn.execute(
        "UPDATE rwdemo_ix.docs SET text = 'ALPHA    beta' WHERE doc_id = 5"
    )
    index_from_cursor()
    probe("p3", 5, out)  # now matches docs 1 and 3; total unchanged
    return spark.createDataFrame(
        sorted(out), "item string, val bigint"
    )


@register(
    "catalog_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('col_k', 'integer'),
        ('col_v', 'character varying'),
        ('exists_check', 'true'),
        ('mv_listed', 'true'),
        ('show_create_has_cols', 'true'),
        ('table_listed', 'true'),
        ('version_prefix', 'PostgreSQL 13.14.0-RisingWave-2.1.0')
    ) AS t(item, val)
    """,
)
def catalog_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog surface as driver-checkable rows: the version()
    handshake string the reference SDK parses
    (/root/reference/risingwave/core.py:55-66), SHOW TABLES / SHOW
    MATERIALIZED VIEWS listings, DESCRIBE with PG-style type names,
    SHOW CREATE reconstruction, and the information_schema existence
    probe (check_exist). Previously these were only pytest-verified;
    this registers them against the DuckDB oracle like every other
    operator."""
    conn, _eng = _fresh_conn(spark, "rwdemo_cat")
    conn.execute("CREATE TABLE rwdemo_cat.t (k INT, v VARCHAR)")
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_cat.m AS "
        "SELECT k, count(*) AS n FROM rwdemo_cat.t GROUP BY k"
    )
    ver = conn.fetchone("SELECT version()")[0]
    tables = {r[0] for r in conn.fetch("SHOW TABLES")}
    mvs = {r[0] for r in conn.fetch("SHOW MATERIALIZED VIEWS")}
    desc = dict(conn.fetch("DESCRIBE rwdemo_cat.t"))
    ddl = conn.fetch("SHOW CREATE TABLE rwdemo_cat.t")[0][1]
    rows = [
        ("col_k", desc.get("k", "?")),
        ("col_v", desc.get("v", "?")),
        ("exists_check",
         str(bool(conn.check_exist(name="t", schema_name="rwdemo_cat"))).lower()),
        ("mv_listed", str("m" in mvs).lower()),
        ("show_create_has_cols",
         str("k int" in ddl.lower().replace("integer", "int")).lower()),
        ("table_listed", str("t" in tables).lower()),
        ("version_prefix", ver.split(" (")[0]),
    ]
    return spark.createDataFrame(sorted(rows), "item string, val string")


@register(
    "source_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('csv',     CAST(2 AS BIGINT), CAST(30 AS BIGINT)),
        ('json',    CAST(3 AS BIGINT), CAST(60 AS BIGINT)),
        ('parquet', CAST(2 AS BIGINT), CAST(3 AS BIGINT))
    ) AS t(fmt, n_rows, sum_v)
    """,
)
def source_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SOURCE end to end for every supported file format
    (parquet/csv/json — the reference reaches this DDL via SQL
    pass-through, core.py:161-181): external tables over paths, read
    back through SQL, new-files-after-FLUSH visibility, DROP SOURCE.
    Returns per-format row counts and sums as driver-checkable rows."""
    import json as _json
    import os
    import shutil
    import tempfile

    conn, _eng = _fresh_conn(spark, "rwdemo_src")
    root = tempfile.mkdtemp(prefix="rw_srcsc_")
    try:
        pq = os.path.join(root, "pq")
        os.makedirs(pq)
        pd.DataFrame({"k": [1, 2], "v": [1, 2]}).to_parquet(
            os.path.join(pq, "a.parquet")
        )
        cs = os.path.join(root, "cs")
        os.makedirs(cs)
        with open(os.path.join(cs, "a.csv"), "w") as f:
            f.write("k,v\n1,10\n2,20\n")
        js = os.path.join(root, "js")
        os.makedirs(js)
        with open(os.path.join(js, "a.json"), "w") as f:
            for k, v in ((1, 10), (2, 20)):
                f.write(_json.dumps({"k": k, "v": v}) + "\n")
        conn.execute(
            f"CREATE SOURCE rwdemo_src.s_pq WITH (connector='filesystem', "
            f"path='{pq}', format='parquet')"
        )
        conn.execute(
            f"CREATE SOURCE rwdemo_src.s_cs WITH (connector='filesystem', "
            f"path='{cs}', format='csv', header='true', inferSchema='true')"
        )
        conn.execute(
            f"CREATE SOURCE rwdemo_src.s_js WITH (connector='filesystem', "
            f"path='{js}', format='json')"
        )
        # a file landing AFTER create is visible after FLUSH (listing
        # refresh) — the json source gains a third row
        with open(os.path.join(js, "b.json"), "w") as f:
            f.write(_json.dumps({"k": 3, "v": 30}) + "\n")
        conn.execute("FLUSH")
        rows = []
        for fmt, src in (("csv", "s_cs"), ("json", "s_js"), ("parquet", "s_pq")):
            n, sv = conn.fetchone(
                f"SELECT count(*), sum(v) FROM rwdemo_src.{src}"
            )
            rows.append((fmt, int(n), int(sv)))
        for src in ("s_pq", "s_cs", "s_js"):
            conn.execute(f"DROP SOURCE rwdemo_src.{src}")
        return spark.createDataFrame(
            sorted(rows), "fmt string, n_rows bigint, sum_v bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "udf_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), 'n=1'),
        (CAST(2 AS BIGINT), CAST(4 AS BIGINT), 'n=2'),
        (CAST(3 AS BIGINT), CAST(6 AS BIGINT), 'n=3')
    ) AS t(k, doubled, tagged)
    """,
)
def udf_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF surface end to end: CREATE FUNCTION DDL (python body,
    $$-quoted — reference reach via SQL pass-through) and
    register_udf, both callable from SQL over an engine table, then
    DROP FUNCTION. Driver-checkable rows."""
    conn, eng = _fresh_conn(spark, "rwdemo_udf")
    conn.insert(pd.DataFrame({"k": [1, 2, 3]}), table_name="t",
                schema_name="rwdemo_udf", force_flush=True)
    conn.execute(
        "CREATE FUNCTION IF NOT EXISTS rw_sc_double(x BIGINT) RETURNS BIGINT "
        "LANGUAGE python AS $$def rw_sc_double(x):\n"
        "    return None if x is None else x * 2$$"
    )
    # register_udf lives on the RisingWave entry point (engine
    # extension, SURVEY §2.9); UDF registration is session-global
    from risingwave_py_spark import RisingWave

    RisingWave(spark=spark).register_udf(
        "rw_sc_tag", lambda x: f"n={x}", return_type="STRING"
    )
    out = conn.fetch(
        "SELECT k, rw_sc_double(k) AS doubled, rw_sc_tag(k) AS tagged "
        "FROM rwdemo_udf.t ORDER BY k"
    )
    conn.execute("DROP FUNCTION IF EXISTS rw_sc_double")
    return spark.createDataFrame(
        [(int(k), int(d), t) for k, d, t in out],
        "k bigint, doubled bigint, tagged string",
    )


@register(
    "buffer_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('after_5th',  CAST(5 AS BIGINT)),
        ('before_5th', CAST(0 AS BIGINT)),
        ('final',      CAST(7 AS BIGINT)),
        ('nulls',      CAST(1 AS BIGINT))
    ) AS t(item, n)
    """,
)
def buffer_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insert_row buffering contract (reference core.py:295-336,
    buf_size default 5): four buffered rows stay invisible, the fifth
    flushes the batch, a row missing a column NULL-fills on flush, and
    force_flush drains a partial buffer. Driver-checkable counts."""
    conn, _eng = _fresh_conn(spark, "rwdemo_buf")
    conn.execute("CREATE TABLE rwdemo_buf.t (k INT, v FLOAT)")
    for i in range(4):
        conn.insert_row("t", schema_name="rwdemo_buf", k=i, v=float(i))
    n_before = conn.fetchone("SELECT count(*) FROM rwdemo_buf.t")[0]
    conn.insert_row("t", schema_name="rwdemo_buf", k=4, v=4.0)  # 5th → flush
    n_after5 = conn.fetchone("SELECT count(*) FROM rwdemo_buf.t")[0]
    conn.insert_row("t", schema_name="rwdemo_buf", k=5)  # missing v
    conn.insert_row("t", schema_name="rwdemo_buf", force_flush=True,
                    k=6, v=6.0)  # drains the partial buffer
    n_final, n_nulls = conn.fetchone(
        "SELECT count(*), count(CASE WHEN v IS NULL THEN 1 END) "
        "FROM rwdemo_buf.t"
    )
    return spark.createDataFrame(
        sorted([("after_5th", int(n_after5)), ("before_5th", int(n_before)),
                ("final", int(n_final)), ("nulls", int(n_nulls))]),
        "item string, n bigint",
    )


@register(
    "topn_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('a', CAST(10 AS BIGINT), CAST(1 AS INTEGER), 'Delete', CAST(3 AS BIGINT)),
        ('a', CAST(10 AS BIGINT), CAST(2 AS INTEGER), 'Insert', CAST(3 AS BIGINT)),
        ('a', CAST(20 AS BIGINT), CAST(1 AS INTEGER), 'Insert', CAST(3 AS BIGINT)),
        ('a', CAST(9 AS BIGINT), CAST(2 AS INTEGER), 'Delete', CAST(3 AS BIGINT)),
        ('a', CAST(10 AS BIGINT), CAST(1 AS INTEGER), 'Insert', CAST(5 AS BIGINT)),
        ('a', CAST(10 AS BIGINT), CAST(2 AS INTEGER), 'Delete', CAST(5 AS BIGINT)),
        ('a', CAST(20 AS BIGINT), CAST(1 AS INTEGER), 'Delete', CAST(5 AS BIGINT)),
        ('a', CAST(9 AS BIGINT), CAST(2 AS INTEGER), 'Insert', CAST(5 AS BIGINT)),
        ('c', CAST(1 AS BIGINT), CAST(1 AS INTEGER), 'Insert', CAST(7 AS BIGINT))
    ) AS t(player, pts, rnk, op, rw_timestamp)
    """,
)
def topn_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (grouped) Top-N MV — RisingWave's streaming Top-N
    operator (the one OVER shape its server maintains incrementally;
    SURVEY §2 OVER battery, previously the only deferred line): a
    leaderboard MV stays on the partition-local fast path across an
    insert that evicts a winner, a DELETE whose refill row (the k+1-th)
    was never stored, and a new-partition insert — asserted at every
    step, untouched partitions never emit. Returns the MV changelog
    with pinned epochs."""
    conn, eng = _fresh_conn(spark, "rwdemo_topn")
    conn.execute("CREATE TABLE rwdemo_topn.scores (player STRING, pts BIGINT)")
    conn.insert(pd.DataFrame({"player": ["a", "a", "a", "b"],
                              "pts": [10, 9, 8, 5]}),
                table_name="scores", schema_name="rwdemo_topn",
                force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_topn.top2 AS "
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY player ORDER BY pts DESC) AS rnk "
        "FROM rwdemo_topn.scores) WHERE rnk <= 2"
    )
    st = eng.mvs["rwdemo_topn.top2"]
    assert st.inc_topn is not None, "top-n fast path not taken"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_topn.s FROM rwdemo_topn.top2 "
        "WITH (retention = '86400s')"
    )
    conn.execute(
        "DECLARE rwdemo_topn_cur subscription cursor for rwdemo_topn.s SINCE 0"
    )
    # a new winner evicts pts=9 from the stored top-2 (insert-only
    # merge: no base read)
    conn.insert(pd.DataFrame({"player": ["a"], "pts": [20]}),
                table_name="scores", schema_name="rwdemo_topn",
                force_flush=True)
    assert st.inc_topn is not None, "insert flush demoted the top-n MV"
    # deleting the winner refills from the base: pts=9 re-enters even
    # though it was no longer stored (partition b never emits)
    conn.execute("DELETE FROM rwdemo_topn.scores WHERE pts = 20")
    conn.execute("FLUSH")
    assert st.inc_topn is not None, "DELETE demoted the top-n MV"
    # brand-new partition
    conn.insert(pd.DataFrame({"player": ["c"], "pts": [1]}),
                table_name="scores", schema_name="rwdemo_topn",
                force_flush=True)
    assert st.inc_topn is not None, "new-partition insert demoted the MV"
    cols, rows = eng.fetch_cursor("rwdemo_topn_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "player string, pts bigint, rnk int, op string, rw_timestamp bigint",
    )


@register(
    "bucketed_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(30.0 AS DOUBLE), 'alice'),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(5.0 AS DOUBLE), 'bob'),
        (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(24.0 AS DOUBLE), 'carol')
    ) AS t(ok, n_lines, total, cust)
    """,
)
def bucketed_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table layout end to end — the measured −47% /
    zero-exchange q18-shape deployment recipe (SCALE.md, round 6)
    promoted to a DDL capability: ``CREATE TABLE … WITH
    (bucket_by = 'k', buckets = 'N')`` maps to Spark's Hive-compatible
    clustered layout. Two co-bucketed fact tables are created via DDL,
    loaded through the normal insert path (which hash-clusters rows on
    write), and joined + aggregated on the bucket key; the executed
    plan must contain ZERO exchanges — verified in-query, so the
    oracle gate also pins the scale property. SHOW CREATE round-trips
    the layout clause."""
    conn, eng = _fresh_conn(spark, "rwdemo_bk")
    conn.execute(
        "CREATE TABLE rwdemo_bk.ords (ok BIGINT, cust VARCHAR) "
        "WITH (bucket_by = 'ok', buckets = '4')"
    )
    conn.execute(
        "CREATE TABLE rwdemo_bk.lines (ok BIGINT, qty DOUBLE) "
        "WITH (bucket_by = 'ok', buckets = '4')"
    )
    conn.insert(pd.DataFrame({"ok": [1, 2, 3],
                              "cust": ["alice", "bob", "carol"]}),
                table_name="ords", schema_name="rwdemo_bk", force_flush=True)
    conn.insert(pd.DataFrame({"ok": [1, 1, 2, 3, 3, 3],
                              "qty": [10.0, 20.0, 5.0, 7.0, 8.0, 9.0]}),
                table_name="lines", schema_name="rwdemo_bk",
                force_flush=True)
    ddl = conn.fetchone("SHOW CREATE TABLE rwdemo_bk.ords")[1]
    assert "bucket_by = 'ok'" in ddl and "buckets = '4'" in ddl, ddl
    # broadcast off: the join must co-locate on the bucketed layout
    # itself, not dodge the exchange by shipping a small side
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # no ORDER BY inside the measured plan: a global sort would
        # add a range-partitioning exchange that has nothing to do
        # with the join/agg layout under test (rows sort client-side)
        out = spark.sql(
            "SELECT l.ok, count(*) AS n_lines, sum(qty) AS total, "
            "       max(cust) AS cust "
            "FROM rwdemo_bk.lines l JOIN rwdemo_bk.ords o ON l.ok = o.ok "
            "GROUP BY l.ok"
        )
        rows = sorted(out.collect(), key=lambda r: r["ok"])
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "Exchange" not in plan, (
        "co-bucketed fact-fact join must be exchange-free:\n" + plan
    )
    return spark.createDataFrame(
        rows, "ok bigint, n_lines bigint, total double, cust string"
    )


@register(
    "time_travel_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS INT), CAST(1 AS BIGINT), 'a'),
        (CAST(1 AS INT), CAST(2 AS BIGINT), 'b'),
        (CAST(2 AS INT), CAST(1 AS BIGINT), 'a'),
        (CAST(2 AS INT), CAST(1 AS BIGINT), 'a'),
        (CAST(2 AS INT), CAST(2 AS BIGINT), 'b'),
        (CAST(2 AS INT), CAST(3 AS BIGINT), 'c'),
        (CAST(3 AS INT), CAST(2 AS BIGINT), 'b'),
        (CAST(3 AS INT), CAST(3 AS BIGINT), 'c'),
        (CAST(4 AS INT), CAST(2 AS BIGINT), 'z'),
        (CAST(4 AS INT), CAST(3 AS BIGINT), 'c')
    ) AS t(at_epoch, k, v)
    """,
)
def time_travel_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reads (FOR SYSTEM_TIME AS OF EPOCH n) over the
    engine changelog: two insert flushes (epochs 1-2; epoch 2 creates
    a DUPLICATE row, so bag multiplicity must reconstruct), a DELETE
    (epoch 3, removes both copies), an UPDATE (epoch 4, retraction
    pair) — then ONE statement reads all four epochs and must replay
    the table's exact state at each. The rewrite handles multiple
    AS OF references in a single query; a vacuumed history or an
    upsert table is refused loudly (tests/test_time_travel.py)."""
    conn, eng = _fresh_conn(spark, "rwdemo_tt")
    conn.execute("CREATE TABLE rwdemo_tt.t (k BIGINT, v STRING)")
    conn.insert(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}),
                table_name="t", schema_name="rwdemo_tt", force_flush=True)
    conn.insert(pd.DataFrame({"k": [3, 1], "v": ["c", "a"]}),
                table_name="t", schema_name="rwdemo_tt", force_flush=True)
    conn.execute("DELETE FROM rwdemo_tt.t WHERE k = 1")
    conn.execute("UPDATE rwdemo_tt.t SET v = 'z' WHERE k = 2")
    return eng.sql(
        " UNION ALL ".join(
            f"SELECT {e} AS at_epoch, k, v "
            f"FROM rwdemo_tt.t FOR SYSTEM_TIME AS OF EPOCH {e}"
            for e in (1, 2, 3, 4)
        )
        + " ORDER BY at_epoch, k, v"
    )


@register(
    "avg_where_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('y', CAST(1 AS BIGINT), CAST(5.0 AS DOUBLE), 'Insert', CAST(3 AS BIGINT)),
        ('x', CAST(2 AS BIGINT), CAST(3.0 AS DOUBLE), 'UpdateDelete', CAST(5 AS BIGINT)),
        ('x', CAST(3 AS BIGINT), CAST(3.7 AS DOUBLE), 'UpdateInsert', CAST(5 AS BIGINT))
    ) AS t(p, n, a, op, rw_timestamp)
    """,
)
def avg_where_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 direct-refresh extension (VERDICT r9 #1): a
    round(avg())+WHERE MV — the reference demo's aggregate shape
    (/root/reference/demo.py:98-100) — takes the ZERO-JOB driver-side
    path (asserted), the Python fold filters delta rows with Spark's
    WHERE semantics, avg merges through its sum/count companions, and
    the emitted changelog matches the Spark paths' pair contract.
    Epoch 1 inserts a WHERE-filtered row (no visible change, no
    emission) plus a new group; epoch 2 moves an existing group's
    average. Returns the MV changelog."""
    conn, eng = _fresh_conn(spark, "rwdemo_avg")
    conn.execute("CREATE TABLE rwdemo_avg.ev (p STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"p": ["x", "x", "y"], "v": [2.0, 4.0, 0.5]}),
                table_name="ev", schema_name="rwdemo_avg", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_avg.agg AS "
        "SELECT p, count(*) AS n, round(avg(v), 1) AS a "
        "FROM rwdemo_avg.ev WHERE v >= 1 GROUP BY p"
    )
    st = eng.mvs["rwdemo_avg.agg"]
    assert st.inc_direct is not None, "avg+WHERE must arm the direct path"
    conn.execute(
        "CREATE SUBSCRIPTION rwdemo_avg.s FROM rwdemo_avg.agg WITH (retention = '86400s')"
    )
    conn.execute("DECLARE rwdemo_avg_cur subscription cursor for rwdemo_avg.s SINCE 0")
    # epoch: one filtered row (x stays untouched) + a brand-new group y
    conn.insert(pd.DataFrame({"p": ["x", "y"], "v": [0.25, 5.0]}),
                table_name="ev", schema_name="rwdemo_avg", force_flush=True)
    # epoch: x's average moves 3.0 -> round(11/3, 1) = 3.7
    conn.insert(pd.DataFrame({"p": ["x"], "v": [5.0]}),
                table_name="ev", schema_name="rwdemo_avg", force_flush=True)
    assert st.inc_direct is not None, "direct path lost mid-scenario"
    cols, rows = eng.fetch_cursor("rwdemo_avg_cur", 100)
    return spark.createDataFrame(
        sorted(rows, key=lambda r: (r[-1], str(r))),
        "p string, n bigint, a double, op string, rw_timestamp bigint",
    )


@register(
    "mv_time_travel_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS INT), 'x', CAST(1.0 AS DOUBLE)),
        (CAST(1 AS INT), 'x', CAST(1.0 AS DOUBLE)),
        (CAST(1 AS INT), 'y', CAST(2.0 AS DOUBLE)),
        (CAST(2 AS INT), 'x', CAST(4.0 AS DOUBLE)),
        (CAST(2 AS INT), 'y', CAST(2.0 AS DOUBLE))
    ) AS t(state, g, total)
    """,
)
def mv_time_travel_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 (VERDICT r9 #4): time travel over a MATERIALIZED VIEW
    via the reverse fold — current result minus the changelog suffix
    above the asked epoch. The creation state is readable (state 0,
    anchored at MVState.created_epoch: no snapshot copy is stored,
    the current table embeds it), each refresh state replays (states
    1-2), and the newest epoch equals the live view. One statement
    reads all three epochs through FOR SYSTEM_TIME AS OF EPOCH."""
    conn, eng = _fresh_conn(spark, "rwdemo_mvtt")
    conn.execute("CREATE TABLE rwdemo_mvtt.b (g STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"g": ["x"], "v": [1.0]}),
                table_name="b", schema_name="rwdemo_mvtt", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_mvtt.m AS "
        "SELECT g, sum(v) AS total FROM rwdemo_mvtt.b GROUP BY g"
    )
    e0 = eng.mvs["rwdemo_mvtt.m"].created_epoch
    conn.insert(pd.DataFrame({"g": ["y"], "v": [2.0]}),
                table_name="b", schema_name="rwdemo_mvtt", force_flush=True)
    e1 = eng.current_epoch
    conn.insert(pd.DataFrame({"g": ["x"], "v": [3.0]}),
                table_name="b", schema_name="rwdemo_mvtt", force_flush=True)
    e2 = eng.current_epoch
    return eng.sql(
        " UNION ALL ".join(
            f"SELECT {i} AS state, g, total "
            f"FROM rwdemo_mvtt.m FOR SYSTEM_TIME AS OF EPOCH {e}"
            for i, e in enumerate((e0, e1, e2))
        )
        + " ORDER BY state, g"
    )


@register(
    "stats_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('x', CAST(3.0 AS DOUBLE), CAST(2.0 AS DOUBLE), CAST(3 AS BIGINT)),
        ('y', CAST(10.0 AS DOUBLE), CAST(NULL AS DOUBLE), CAST(1 AS BIGINT))
    ) AS t(p, a, sd, n)
    """,
)
def stats_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 RECOMPUTE-ONLY incremental plan: an MV with
    non-mergeable deterministic aggregates (avg + stddev) stays on the
    Spark fast path for EVERY delta — inserts, UPDATE, DELETE — via
    touched-group re-aggregation from the pinned base
    (engine._refresh_incremental recompute branch), never a full
    snapshot-diff. Asserts the plan arms and survives; returns the
    final MV, which must equal a from-scratch evaluation."""
    conn, eng = _fresh_conn(spark, "rwdemo_rc")
    conn.execute("CREATE TABLE rwdemo_rc.t (p STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"p": ["x", "x", "y"], "v": [1.0, 3.0, 8.0]}),
                table_name="t", schema_name="rwdemo_rc", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_rc.m AS "
        "SELECT p, avg(v) AS a, stddev(v) AS sd, count(*) AS n "
        "FROM rwdemo_rc.t GROUP BY p"
    )
    st = eng.mvs["rwdemo_rc.m"]
    assert st.inc is not None and st.inc.get("recompute_only"), (
        "avg/stddev MV must arm the recompute-only incremental plan"
    )
    conn.insert(pd.DataFrame({"p": ["x", "z"], "v": [5.0, 2.0]}),
                table_name="t", schema_name="rwdemo_rc", force_flush=True)
    conn.execute("UPDATE rwdemo_rc.t SET v = 10.0 WHERE p = 'y'")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_rc.t WHERE p = 'z'")
    conn.execute("FLUSH")
    assert st.inc is not None, "recompute plan lost mid-scenario"
    cols, rows = conn._dispatch(
        "SELECT p, a, round(sd, 6) AS sd, n FROM rwdemo_rc.m ORDER BY p"
    )
    return spark.createDataFrame(
        rows, "p string, a double, sd double, n bigint"
    )


@register(
    "stats_join_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('eu', CAST(15.0 AS DOUBLE), CAST(2 AS BIGINT)),
        ('us', CAST(6.0 AS DOUBLE), CAST(1 AS BIGINT))
    ) AS t(region, aov, n)
    """,
)
def stats_join_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 RECOMPUTE-ONLY join+agg plan: avg-by-dimension over a
    fact ⋈ dimension join — THE canonical OLAP MV — stays on the
    incremental path for fact inserts, a late-arriving dimension,
    UPDATE, and DELETE (touched groups re-aggregated wholesale from
    the post-batch tables; engine._refresh_incremental_joinagg
    recompute branch). Asserts the plan arms and survives; returns the
    final MV, which must equal a from-scratch evaluation."""
    conn, eng = _fresh_conn(spark, "rwdemo_jrc")
    conn.execute("CREATE TABLE rwdemo_jrc.o (uid BIGINT, amt DOUBLE)")
    conn.execute("CREATE TABLE rwdemo_jrc.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "amt": [10.0, 20.0, 5.0]}),
                table_name="o", schema_name="rwdemo_jrc", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["eu", "us"]}),
                table_name="u", schema_name="rwdemo_jrc", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_jrc.m AS "
        "SELECT u.region AS region, avg(o.amt) AS aov, count(*) AS n "
        "FROM rwdemo_jrc.o o JOIN rwdemo_jrc.u u ON o.uid = u.uid "
        "GROUP BY u.region"
    )
    st = eng.mvs["rwdemo_jrc.m"]
    assert st.inc_joinagg is not None and st.inc_joinagg.get(
        "recompute_only"
    ), "avg-by-dimension MV must arm the recompute-only join+agg plan"
    # orphan fact row, then its dimension arrives (group materializes)
    conn.insert(pd.DataFrame({"uid": [3, 9], "amt": [7.0, 99.0]}),
                table_name="o", schema_name="rwdemo_jrc", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [9], "region": ["ap"]}),
                table_name="u", schema_name="rwdemo_jrc", force_flush=True)
    conn.execute("UPDATE rwdemo_jrc.o SET amt = amt + 1 WHERE uid = 2")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_jrc.o WHERE uid = 9")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "join+agg recompute plan lost"
    cols, rows = conn._dispatch(
        "SELECT region, round(aov, 6) AS aov, n FROM rwdemo_jrc.m "
        "ORDER BY region"
    )
    return spark.createDataFrame(rows, "region string, aov double, n bigint")


@register(
    "tumble_inc_mv_scenario",
    oracle="""
    WITH x AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS ts,
               CAST(CASE WHEN i % 7 = 0 THEN 1 ELSE i % 7 END AS BIGINT) AS v
        FROM range(0, 540) t(i)
    )
    SELECT time_bucket(INTERVAL '15 seconds', ts) AS window_start,
           time_bucket(INTERVAL '15 seconds', ts)
               + INTERVAL '15 seconds' AS window_end,
           CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2 ORDER BY window_start
    """,
)
def tumble_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 Spark-side O(delta) path for WINDOWED MVs: a 600-row
    bulk delta (beyond DIRECT_MAX_DELTA_ROWS=512) on a tumble MV must
    refresh via the incremental merge — the armed plan is asserted
    before and after the bulk insert, UPDATE, and a whole-window
    DELETE (before round 11 this shape fell to O(base) snapshot-diff
    the moment the delta exceeded the direct cap)."""
    conn, eng = _fresh_conn(spark, "rwdemo_wt")
    conn.execute("CREATE TABLE rwdemo_wt.tick (ts TIMESTAMP, v BIGINT)")
    base = pd.Timestamp("2024-01-01 00:00:00")
    seed = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=i) for i in range(10)],
        "v": [i % 7 for i in range(10)],
    })
    conn.insert(seed, table_name="tick", schema_name="rwdemo_wt",
                force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_wt.m AS "
        "SELECT window_start, window_end, sum(v) AS s, count(*) AS n "
        "FROM tumble(rwdemo_wt.tick, ts, interval '15 seconds') "
        "GROUP BY window_start, window_end"
    )
    st = eng.mvs["rwdemo_wt.m"]
    assert st.inc is not None and st.inc["derive_tpl"], (
        "tumble MV must arm the Spark incremental path"
    )
    bulk = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=i) for i in range(10, 600)],
        "v": [i % 7 for i in range(10, 600)],
    })
    conn.insert(bulk, table_name="tick", schema_name="rwdemo_wt",
                force_flush=True)
    assert st.inc is not None, "bulk delta demoted the tumble MV"
    conn.execute("UPDATE rwdemo_wt.tick SET v = 1 WHERE v = 0")
    conn.execute("FLUSH")
    conn.execute(
        "DELETE FROM rwdemo_wt.tick WHERE ts >= TIMESTAMP '2024-01-01 00:09:00'"
    )
    conn.execute("FLUSH")
    assert st.inc is not None, "DML demoted the tumble MV"
    cols, rows = conn._dispatch(
        "SELECT window_start, window_end, s, n FROM rwdemo_wt.m "
        "ORDER BY window_start"
    )
    return spark.createDataFrame(
        rows, "window_start timestamp, window_end timestamp, s bigint, n bigint"
    )


@register(
    "hop_inc_mv_scenario",
    oracle="""
    WITH x AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND AS ts,
               CAST(i % 5 AS BIGINT) AS v
        FROM range(0, 120) t(i) WHERE i < 90 OR i % 5 <> 4
    ), w AS (
        SELECT time_bucket(INTERVAL '15 seconds', ts)
                   - k * INTERVAL '15 seconds' AS window_start, v
        FROM x CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, window_start + INTERVAL '30 seconds' AS window_end,
           CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
    FROM w GROUP BY 1 ORDER BY window_start
    """,
)
def hop_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11: hop (sliding-window) MVs arm the same Spark O(delta)
    path via the per-row multi-window explode inside the derive
    template — each delta row contributes to size/slide windows, and
    a DELETE re-aggregates only the touched windows."""
    conn, eng = _fresh_conn(spark, "rwdemo_wh")
    conn.execute("CREATE TABLE rwdemo_wh.tick (ts TIMESTAMP, v BIGINT)")
    base = pd.Timestamp("2024-01-01 00:00:00")
    seed = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=i) for i in range(30)],
        "v": [i % 5 for i in range(30)],
    })
    conn.insert(seed, table_name="tick", schema_name="rwdemo_wh",
                force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_wh.m AS "
        "SELECT window_start, window_end, count(*) AS n, sum(v) AS s "
        "FROM hop(rwdemo_wh.tick, ts, interval '15 seconds', "
        "interval '30 seconds') GROUP BY window_start, window_end"
    )
    st = eng.mvs["rwdemo_wh.m"]
    assert st.inc is not None and st.inc["derive_tpl"], (
        "hop MV must arm the Spark incremental path"
    )
    more = pd.DataFrame({
        "ts": [base + pd.Timedelta(seconds=i) for i in range(30, 120)],
        "v": [i % 5 for i in range(30, 120)],
    })
    conn.insert(more, table_name="tick", schema_name="rwdemo_wh",
                force_flush=True)
    assert st.inc is not None, "insert delta demoted the hop MV"
    conn.execute(
        "DELETE FROM rwdemo_wh.tick WHERE v = 4 "
        "AND ts >= TIMESTAMP '2024-01-01 00:01:30'"
    )
    conn.execute("FLUSH")
    assert st.inc is not None, "DELETE demoted the hop MV"
    cols, rows = conn._dispatch(
        "SELECT window_start, window_end, n, s FROM rwdemo_wh.m "
        "ORDER BY window_start"
    )
    return spark.createDataFrame(
        rows, "window_start timestamp, window_end timestamp, n bigint, s bigint"
    )


@register(
    "having_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('b', CAST(3 AS BIGINT), CAST(45 AS BIGINT))
    ) AS t(p, n, s)
    """,
)
def having_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11: HAVING MVs arm the recompute-only incremental plan
    with publication-time gating — 'b' crosses INTO the predicate
    (Insert emitted), 'a' drops OUT via DELETE (Delete emitted), and
    the UPDATE leg revises a still-qualifying group, all without a
    snapshot-diff."""
    conn, eng = _fresh_conn(spark, "rwdemo_hv")
    conn.execute("CREATE TABLE rwdemo_hv.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"] * 3 + ["b"] * 2,
                              "v": [1, 2, 3, 4, 5]}),
                table_name="t", schema_name="rwdemo_hv", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_hv.m AS "
        "SELECT p, count(*) AS n, sum(v) AS s FROM rwdemo_hv.t "
        "GROUP BY p HAVING count(*) > 2"
    )
    st = eng.mvs["rwdemo_hv.m"]
    assert st.inc is not None and st.inc["having"], (
        "HAVING MV must arm the recompute-only plan"
    )
    conn.insert(pd.DataFrame({"p": ["b"], "v": [6]}),
                table_name="t", schema_name="rwdemo_hv", force_flush=True)
    conn.execute("DELETE FROM rwdemo_hv.t WHERE p = 'a' AND v > 1")
    conn.execute("FLUSH")
    conn.execute("UPDATE rwdemo_hv.t SET v = v + 10 WHERE p = 'b'")
    conn.execute("FLUSH")
    assert st.inc is not None, "HAVING plan lost mid-scenario"
    ops = [r["op"] for r in
           eng.changelog_table("rwdemo_hv.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops, (
        "publication gate must emit Insert/Delete on threshold crossings"
    )
    cols, rows = conn._dispatch(
        "SELECT p, n, s FROM rwdemo_hv.m ORDER BY p"
    )
    return spark.createDataFrame(rows, "p string, n bigint, s bigint")


@register(
    "distinct_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('a', CAST(2 AS BIGINT), CAST(33 AS BIGINT)),
        ('b', CAST(1 AS BIGINT), CAST(30 AS BIGINT))
    ) AS t(p, users, s)
    """,
)
def distinct_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11: count(DISTINCT) MVs arm the recompute-only plan — a
    duplicate user arriving in the delta must NOT bump the distinct
    count (wholesale touched-group re-aggregation keeps distinctness
    exact), and UPDATE/DELETE legs stay incremental."""
    conn, eng = _fresh_conn(spark, "rwdemo_dc")
    conn.execute("CREATE TABLE rwdemo_dc.t (p STRING, u BIGINT, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "u": [1, 1, 2],
                              "v": [10, 20, 30]}),
                table_name="t", schema_name="rwdemo_dc", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dc.m AS "
        "SELECT p, count(DISTINCT u) AS users, sum(v) AS s "
        "FROM rwdemo_dc.t GROUP BY p"
    )
    st = eng.mvs["rwdemo_dc.m"]
    assert st.inc is not None and st.inc["kinds"]["users"] == "recompute", (
        "count(DISTINCT) MV must arm the recompute-only plan"
    )
    # u=1 again (duplicate) + u=3 (new) in one delta
    conn.insert(pd.DataFrame({"p": ["a", "a"], "u": [1, 3], "v": [1, 2]}),
                table_name="t", schema_name="rwdemo_dc", force_flush=True)
    conn.execute("UPDATE rwdemo_dc.t SET u = 9 WHERE p = 'b'")
    conn.execute("FLUSH")
    assert st.inc is not None, "distinct plan lost mid-scenario"
    cols, rows = conn._dispatch(
        "SELECT p, users, s FROM rwdemo_dc.m ORDER BY p"
    )
    return spark.createDataFrame(rows, "p string, users bigint, s bigint")


@register(
    "interval_join_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(7 AS BIGINT),
         TIMESTAMP '2024-03-01 12:00:00', TIMESTAMP '2024-03-01 12:05:00'),
        (CAST(6 AS BIGINT), CAST(2 AS BIGINT), CAST(7 AS BIGINT),
         TIMESTAMP '2024-03-01 12:02:00', TIMESTAMP '2024-03-01 12:05:00')
    ) AS t(click_id, purchase_id, uid, click_ts, purchase_ts)
    """,
)
def interval_join_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 (#7): an interval-join MV — equi key + time-bound
    residual ON terms, as a SELF join on the event table — arms the
    incremental join plan (ΔA⋈B ∪ A_old⋈ΔB; time bounds are exact
    within touched equi keys) and survives inserts in both delta
    directions, an UPDATE that moves a purchase outside the bound
    (pair retracts), and a DELETE."""
    conn, eng = _fresh_conn(spark, "rwdemo_ij")
    conn.execute(
        "CREATE TABLE rwdemo_ij.ev (event_id BIGINT, user_id BIGINT, "
        "et STRING, ts TIMESTAMP)"
    )
    t0 = pd.Timestamp("2024-03-01 12:00:00")
    conn.insert(pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [7, 7, 8, 8],
        "et": ["click", "purchase", "click", "purchase"],
        "ts": [t0, t0 + pd.Timedelta(minutes=5),
               t0, t0 + pd.Timedelta(minutes=25)],
    }), table_name="ev", schema_name="rwdemo_ij", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_ij.m AS "
        "SELECT c.event_id AS click_id, p.event_id AS purchase_id, "
        "c.user_id AS uid, c.ts AS click_ts, p.ts AS purchase_ts "
        "FROM rwdemo_ij.ev c JOIN rwdemo_ij.ev p "
        "ON c.user_id = p.user_id AND c.et = 'click' "
        "AND p.et = 'purchase' AND p.ts >= c.ts "
        "AND p.ts <= c.ts + INTERVAL 10 MINUTE"
    )
    st = eng.mvs["rwdemo_ij.m"]
    assert st.inc_join is not None, (
        "interval join must arm the incremental join plan"
    )
    conn.insert(pd.DataFrame({
        "event_id": [5, 6], "user_id": [8, 7],
        "et": ["purchase", "click"],
        "ts": [t0 + pd.Timedelta(minutes=8), t0 + pd.Timedelta(minutes=2)],
    }), table_name="ev", schema_name="rwdemo_ij", force_flush=True)
    assert st.inc_join is not None, "insert delta demoted the interval join"
    conn.execute(
        "UPDATE rwdemo_ij.ev SET ts = TIMESTAMP '2024-03-01 13:00:00' "
        "WHERE event_id = 5"
    )
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_ij.ev WHERE event_id = 3")
    conn.execute("FLUSH")
    assert st.inc_join is not None, "DML demoted the interval join MV"
    cols, rows = conn._dispatch(
        "SELECT click_id, purchase_id, uid, click_ts, purchase_ts "
        "FROM rwdemo_ij.m ORDER BY click_id"
    )
    return spark.createDataFrame(
        rows, "click_id bigint, purchase_id bigint, uid bigint, "
              "click_ts timestamp, purchase_ts timestamp"
    )


@register(
    "joinagg_having_distinct_scenario",
    oracle="""
    SELECT * FROM (VALUES
        ('eu', CAST(2 AS BIGINT), CAST(39.0 AS DOUBLE))
    ) AS t(region, buyers, s)
    """,
)
def joinagg_having_distinct_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11: HAVING + count(DISTINCT) on the N-way join+agg MV arm
    the recompute-only plan — the publication gate admits 'us' when a
    second order arrives and deletes it when its orders drop back to
    one, while count(DISTINCT o.uid) stays exact through a duplicate
    buyer in the delta."""
    conn, eng = _fresh_conn(spark, "rwdemo_jhd")
    conn.execute("CREATE TABLE rwdemo_jhd.o (uid BIGINT, amt DOUBLE)")
    conn.execute("CREATE TABLE rwdemo_jhd.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "amt": [10.0, 20.0, 5.0]}),
                table_name="o", schema_name="rwdemo_jhd", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2, 3], "region": ["eu", "us", "eu"]}),
                table_name="u", schema_name="rwdemo_jhd", force_flush=True)
    sel = ("SELECT u.region AS region, count(DISTINCT o.uid) AS buyers, "
           "sum(o.amt) AS s FROM rwdemo_jhd.o o JOIN rwdemo_jhd.u u "
           "ON o.uid = u.uid GROUP BY u.region HAVING count(*) > 1")
    conn.execute(f"CREATE MATERIALIZED VIEW rwdemo_jhd.m AS {sel}")
    st = eng.mvs["rwdemo_jhd.m"]
    assert st.inc_joinagg is not None and st.inc_joinagg["having"], (
        "HAVING+DISTINCT join+agg MV must arm the recompute-only plan"
    )
    # us crosses INTO the gate; eu gains a second distinct buyer
    conn.insert(pd.DataFrame({"uid": [2, 3], "amt": [7.0, 9.0]}),
                table_name="o", schema_name="rwdemo_jhd", force_flush=True)
    # us drops back OUT (its second order deleted) → Delete emitted
    conn.execute("DELETE FROM rwdemo_jhd.o WHERE amt = 7.0")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "join+agg gate plan lost"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_jhd.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT region, buyers, s FROM rwdemo_jhd.m ORDER BY region"
    )
    return spark.createDataFrame(rows, "region string, buyers bigint, s double")


@register(
    "datetrunc_inc_mv_scenario",
    oracle="""
    WITH x AS (
        SELECT TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 MINUTE AS ts,
               'r' || CAST(i % 3 AS VARCHAR) AS region,
               CAST(CASE WHEN i % 11 = 0 THEN 5 ELSE i % 11 END AS BIGINT) AS v
        FROM range(0, 540) t(i)
    )
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, region,
           CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2 ORDER BY hr, region
    """,
)
def datetrunc_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: EXPRESSION group keys stay incremental. ``GROUP BY
    date_trunc('day'|'hour', ts), dim`` is the most common real MV
    shape after plain columns (VERDICT r11 'what's missing' #1); the
    derive-template mechanism generalizes from the rewriter-emitted
    tumble/hop forms to any deterministic scalar GROUP BY expression
    selected under an alias. Legs: bulk insert past the 512-row direct
    cap, UPDATE, and a range DELETE — the armed plan must survive all
    three and the result must be bit-equal to a recompute."""
    conn, eng = _fresh_conn(spark, "rwdemo_dtk")
    conn.execute(
        "CREATE TABLE rwdemo_dtk.tick (ts TIMESTAMP, region STRING, v BIGINT)"
    )
    base = pd.Timestamp("2024-01-01 00:00:00")
    seed = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=i) for i in range(10)],
        "region": [f"r{i % 3}" for i in range(10)],
        "v": [i % 11 for i in range(10)],
    })
    conn.insert(seed, table_name="tick", schema_name="rwdemo_dtk",
                force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dtk.m AS "
        "SELECT date_trunc('HOUR', ts) AS hr, region, "
        "sum(v) AS s, count(*) AS n "
        "FROM rwdemo_dtk.tick GROUP BY date_trunc('HOUR', ts), region"
    )
    st = eng.mvs["rwdemo_dtk.m"]
    assert st.inc is not None and st.inc["derive_tpl"], (
        "expression-group-key MV must arm the Spark incremental path"
    )
    assert not st.inc["recompute_only"], (
        "sum/count with expression keys stays in the MERGEABLE regime"
    )
    bulk = pd.DataFrame({
        "ts": [base + pd.Timedelta(minutes=i) for i in range(10, 600)],
        "region": [f"r{i % 3}" for i in range(10, 600)],
        "v": [i % 11 for i in range(10, 600)],
    })
    conn.insert(bulk, table_name="tick", schema_name="rwdemo_dtk",
                force_flush=True)
    assert st.inc is not None, "bulk delta demoted the expression-key MV"
    conn.execute("UPDATE rwdemo_dtk.tick SET v = 5 WHERE v = 0")
    conn.execute("FLUSH")
    conn.execute(
        "DELETE FROM rwdemo_dtk.tick "
        "WHERE ts >= TIMESTAMP '2024-01-01 09:00:00'"
    )
    conn.execute("FLUSH")
    assert st.inc is not None, "DML demoted the expression-key MV"
    cols, rows = conn._dispatch(
        "SELECT hr, region, s, n FROM rwdemo_dtk.m ORDER BY hr, region"
    )
    return spark.createDataFrame(
        rows, "hr timestamp, region string, s bigint, n bigint"
    )


@register(
    "nway_join_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(5 AS BIGINT), 'A', 'x'),
        (2, 10, 7, 'b', 'x'),
        (2, 20, 9, 'b', 'y'),
        (3, 10, 100, 'c', 'x'),
        (3, 20, 200, 'c', 'y')
    ) AS t(k1, k2, amt, name1, name2) ORDER BY k1, k2
    """,
)
def nway_join_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: N-way PLAIN-join MVs (no aggregate) stay incremental —
    the 3-table enrichment view (VERDICT r11 'what's missing' #3) via
    the SIGNED telescoping delta rule (ℤ-bag algebra: each side's
    Δ⁺/Δ⁻ term joins new-prefix × old-suffix; net Insert = P ∸ N).
    Legs: fact append, dim UPDATE (delete+insert through the same
    rule), fact DELETE, and LATE DIM ARRIVAL (fact rows invisible
    under the inner join until their dim row lands)."""
    conn, eng = _fresh_conn(spark, "rwdemo_jn")
    conn.execute("CREATE TABLE rwdemo_jn.f (k1 BIGINT, k2 BIGINT, amt BIGINT)")
    conn.execute("CREATE TABLE rwdemo_jn.d1 (k1 BIGINT, name1 STRING)")
    conn.execute("CREATE TABLE rwdemo_jn.d2 (k2 BIGINT, name2 STRING)")
    conn.insert(pd.DataFrame({"k1": [1, 2], "name1": ["a", "b"]}),
                table_name="d1", schema_name="rwdemo_jn", force_flush=True)
    conn.insert(pd.DataFrame({"k2": [10, 20], "name2": ["x", "y"]}),
                table_name="d2", schema_name="rwdemo_jn", force_flush=True)
    conn.insert(
        pd.DataFrame({"k1": [1, 1, 2], "k2": [10, 20, 10], "amt": [5, 6, 7]}),
        table_name="f", schema_name="rwdemo_jn", force_flush=True,
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_jn.m AS "
        "SELECT f.k1 AS k1, f.k2 AS k2, f.amt AS amt, "
        "d1.name1 AS name1, d2.name2 AS name2 "
        "FROM rwdemo_jn.f f "
        "JOIN rwdemo_jn.d1 d1 ON f.k1 = d1.k1 "
        "JOIN rwdemo_jn.d2 d2 ON f.k2 = d2.k2"
    )
    st = eng.mvs["rwdemo_jn.m"]
    assert st.inc_join_nway is not None, (
        "3-table plain-join MV must arm the N-way telescoping path"
    )
    conn.insert(pd.DataFrame({"k1": [2], "k2": [20], "amt": [9]}),
                table_name="f", schema_name="rwdemo_jn", force_flush=True)
    conn.execute("UPDATE rwdemo_jn.d1 SET name1 = 'A' WHERE k1 = 1")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_jn.f WHERE amt = 6")
    conn.execute("FLUSH")
    assert st.inc_join_nway is not None, "DML demoted the N-way join MV"
    # late dim arrival: the k1=3 fact rows must surface only when d1
    # gets its row — dim-side Δ⁺ joined against the fact is the
    # telescoping term that produces them
    conn.insert(pd.DataFrame({"k1": [3, 3], "k2": [10, 20],
                              "amt": [100, 200]}),
                table_name="f", schema_name="rwdemo_jn", force_flush=True)
    conn.insert(pd.DataFrame({"k1": [3], "name1": ["c"]}),
                table_name="d1", schema_name="rwdemo_jn", force_flush=True)
    assert st.inc_join_nway is not None, "late dim arrival demoted the MV"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_jn.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT k1, k2, amt, name1, name2 FROM rwdemo_jn.m ORDER BY k1, k2"
    )
    return spark.createDataFrame(
        rows, "k1 bigint, k2 bigint, amt bigint, name1 string, name2 string"
    )


@register(
    "session_inc_mv_scenario",
    oracle="""
    WITH x AS (
        SELECT * FROM (VALUES
            (TIMESTAMP '2024-01-01 00:00:00', CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
            (TIMESTAMP '2024-01-01 00:05:00', 1, 2),
            (TIMESTAMP '2024-01-01 00:40:00', 1, 3),
            (TIMESTAMP '2024-01-01 00:45:00', 1, 4),
            (TIMESTAMP '2024-01-01 00:55:00', 1, 7),
            (TIMESTAMP '2024-01-01 05:00:00', 3, 8),
            (TIMESTAMP '2024-01-01 05:20:00', 3, 6)
        ) AS v(ts, uid, v)
    ), flagged AS (
        SELECT uid, ts, v,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 20 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM x WINDOW w AS (PARTITION BY uid ORDER BY ts)
    ), numbered AS (
        SELECT uid, ts, v,
               SUM(is_new) OVER (PARTITION BY uid ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT uid, MIN(ts) AS s_start, MAX(ts) + INTERVAL 20 MINUTE AS s_end,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv
    FROM numbered GROUP BY uid, sid ORDER BY uid, s_start
    """,
)
def session_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: SESSION-window MVs get an incremental path (VERDICT
    r11 'what's missing' #2) — per-key touched-span recompute: delta
    rows can only affect sessions intersecting [ts−gap, ts+gap]; one
    expansion to those sessions' extents closes the region, which is
    re-sessionized from a PRUNED base scan (the global span is a
    pushable ts-range predicate) and bag-diffed for retractions.
    Legs: a bridge row MERGING two sessions, a DELETE SPLITTING them
    back, session extension, a new key with an EXACT-GAP pair (Spark
    merges at distance == gap — the oracle's `>` is_new rule pins
    it), a whole-session DELETE, and a value UPDATE."""
    conn, eng = _fresh_conn(spark, "rwdemo_sw")
    conn.execute(
        "CREATE TABLE rwdemo_sw.ev (ts TIMESTAMP, uid BIGINT, v BIGINT)"
    )
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mins(*m):
        return [base + pd.Timedelta(minutes=x) for x in m]

    conn.insert(pd.DataFrame({"ts": mins(0, 5, 40, 45, 100),
                              "uid": [1, 1, 1, 1, 2],
                              "v": [1, 2, 3, 4, 5]}),
                table_name="ev", schema_name="rwdemo_sw", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_sw.m AS "
        "SELECT uid, session_window.start AS s_start, "
        "session_window.end AS s_end, count(*) AS n, sum(v) AS sv "
        "FROM rwdemo_sw.ev GROUP BY session_window(ts, '20 minutes'), uid"
    )
    st = eng.mvs["rwdemo_sw.m"]
    assert st.inc_session is not None, (
        "session-window MV must arm the touched-span incremental path"
    )
    # bridge row merges [00:00,00:25] and [00:40,01:05] into one
    conn.insert(pd.DataFrame({"ts": mins(22), "uid": [1], "v": [9]}),
                table_name="ev", schema_name="rwdemo_sw", force_flush=True)
    assert st.inc_session is not None, "merge leg demoted the session MV"
    # deleting the bridge splits them back
    conn.execute("DELETE FROM rwdemo_sw.ev WHERE v = 9")
    conn.execute("FLUSH")
    assert st.inc_session is not None, "split leg demoted the session MV"
    # extend uid1's second session; uid3 lands an EXACT-GAP pair
    conn.insert(pd.DataFrame({"ts": mins(55, 300, 320),
                              "uid": [1, 3, 3], "v": [7, 8, 6]}),
                table_name="ev", schema_name="rwdemo_sw", force_flush=True)
    # whole-session delete (uid2) and a value-only UPDATE
    conn.execute("DELETE FROM rwdemo_sw.ev WHERE uid = 2")
    conn.execute("FLUSH")
    conn.execute("UPDATE rwdemo_sw.ev SET v = 100 WHERE v = 1")
    conn.execute("FLUSH")
    assert st.inc_session is not None, "DML demoted the session MV"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_sw.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT uid, s_start, s_end, n, sv FROM rwdemo_sw.m "
        "ORDER BY uid, s_start"
    )
    return spark.createDataFrame(
        rows,
        "uid bigint, s_start timestamp, s_end timestamp, n bigint, sv bigint",
    )


@register(
    "datetrunc_join_inc_mv_scenario",
    oracle="""
    WITH o AS (
        SELECT * FROM (VALUES
            (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
            (1, 2, 20), (3, 2, 40), (4, 1, 50), (5, 2, 60),
            (30, 1, 7), (31, 2, 8), (32, 1, 9)
        ) AS t(h, uid, amt)
    ), u AS (
        SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'eu'),
                              (CAST(2 AS BIGINT), 'apac')) AS t(uid, region)
    )
    SELECT CAST(date_trunc('day', TIMESTAMP '2024-01-01 00:00:00'
                + o.h * INTERVAL 1 HOUR) AS TIMESTAMP) AS d,
           u.region AS region, CAST(sum(o.amt) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM o JOIN u ON o.uid = u.uid
    GROUP BY 1, 2 ORDER BY d, region
    """,
)
def datetrunc_join_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: expression GROUP BY keys on the JOIN+AGG fast path —
    ``GROUP BY date_trunc('day', o.ts), u.region`` over a star join
    derives the expression on the flat joined relation (the same
    template rule as the single-table path). Legs: fact append, dim
    UPDATE (touched-key retraction with a derived key), fact DELETE —
    plan must survive all three in the MERGEABLE regime."""
    conn, eng = _fresh_conn(spark, "rwdemo_dtj")
    conn.execute("CREATE TABLE rwdemo_dtj.o (ts TIMESTAMP, uid BIGINT, amt BIGINT)")
    conn.execute("CREATE TABLE rwdemo_dtj.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["eu", "us"]}),
                table_name="u", schema_name="rwdemo_dtj", force_flush=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=i) for i in range(6)],
        "uid": [1, 2, 1, 2, 1, 2],
        "amt": [10, 20, 30, 40, 50, 60],
    }), table_name="o", schema_name="rwdemo_dtj", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dtj.m AS "
        "SELECT date_trunc('DAY', o.ts) AS d, u.region AS region, "
        "sum(o.amt) AS s, count(*) AS n "
        "FROM rwdemo_dtj.o o JOIN rwdemo_dtj.u u ON o.uid = u.uid "
        "GROUP BY date_trunc('DAY', o.ts), u.region"
    )
    st = eng.mvs["rwdemo_dtj.m"]
    assert st.inc_joinagg is not None and st.inc_joinagg["derive_tpl"], (
        "join+agg expression-key MV must arm with a derive template"
    )
    assert not st.inc_joinagg["recompute_only"]
    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=30 + i) for i in range(3)],
        "uid": [1, 2, 1], "amt": [7, 8, 9],
    }), table_name="o", schema_name="rwdemo_dtj", force_flush=True)
    assert st.inc_joinagg is not None, "fact append demoted the MV"
    conn.execute("UPDATE rwdemo_dtj.u SET region = 'apac' WHERE uid = 2")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_dtj.o WHERE amt = 30")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "DML demoted the expression-key MV"
    cols, rows = conn._dispatch(
        "SELECT d, region, s, n FROM rwdemo_dtj.m ORDER BY d, region"
    )
    return spark.createDataFrame(
        rows, "d timestamp, region string, s bigint, n bigint"
    )


@register(
    "outer_interval_join_inc_mv_scenario",
    oracle="""
    WITH i AS (
        SELECT * FROM (VALUES
            (TIMESTAMP '2024-01-01 00:00:00', CAST(1 AS BIGINT), CAST(100 AS BIGINT)),
            (TIMESTAMP '2024-01-01 00:10:00', 1, 101),
            (TIMESTAMP '2024-01-01 00:30:00', 2, 102),
            (TIMESTAMP '2024-01-01 00:40:00', 2, 103)
        ) AS t(ts, uid, imp_id)
    ), c AS (
        SELECT * FROM (VALUES
            (TIMESTAMP '2024-01-01 00:12:00', CAST(1 AS BIGINT), CAST(901 AS BIGINT))
        ) AS t(cts, cuid, clk_id)
    )
    SELECT i.imp_id AS imp_id, i.ts AS ts, c.clk_id AS clk_id, c.cts AS cts
    FROM i LEFT JOIN c ON i.uid = c.cuid
        AND c.cts >= i.ts AND c.cts <= i.ts + INTERVAL 8 MINUTE
    ORDER BY imp_id
    """,
)
def outer_interval_join_inc_mv_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-12: OUTER interval-join MVs stay incremental (VERDICT r11
    'what's missing' #4) — LEFT JOIN with residual time-bound ON terms
    arms with every batch routed through the touched-key retraction
    branch, which is exact for pads under residuals (an output row
    depends only on same-equi-key rows; residuals filter within them).
    Legs: the PAD FLIP the insert-only pad rule cannot see (a new
    click under an EXISTING key newly satisfying the time bound), a
    padded insert, pad RESURRECTION on click delete, and an
    impression-timestamp UPDATE that moves its match window."""
    conn, eng = _fresh_conn(spark, "rwdemo_oij")
    conn.execute(
        "CREATE TABLE rwdemo_oij.imp (ts TIMESTAMP, uid BIGINT, imp_id BIGINT)"
    )
    conn.execute(
        "CREATE TABLE rwdemo_oij.clk (cts TIMESTAMP, cuid BIGINT, clk_id BIGINT)"
    )
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mins(*x):
        return [base + pd.Timedelta(minutes=i) for i in x]

    conn.insert(pd.DataFrame({"ts": mins(0, 10, 20),
                              "uid": [1, 1, 2],
                              "imp_id": [100, 101, 102]}),
                table_name="imp", schema_name="rwdemo_oij", force_flush=True)
    conn.insert(pd.DataFrame({"cts": mins(5), "cuid": [1], "clk_id": [900]}),
                table_name="clk", schema_name="rwdemo_oij", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_oij.m AS "
        "SELECT i.imp_id AS imp_id, i.ts AS ts, c.clk_id AS clk_id, "
        "c.cts AS cts FROM rwdemo_oij.imp i LEFT JOIN rwdemo_oij.clk c "
        "ON i.uid = c.cuid AND c.cts >= i.ts "
        "AND c.cts <= i.ts + INTERVAL 8 MINUTE"
    )
    st = eng.mvs["rwdemo_oij.m"]
    assert st.inc_join is not None and st.inc_join["force_retract"], (
        "outer interval-join MV must arm the forced-retraction plan"
    )
    # pad flip: click 901 lands under EXISTING key uid=1, newly
    # matching imp 101's window — no new key appears
    conn.insert(pd.DataFrame({"cts": mins(12), "cuid": [1],
                              "clk_id": [901]}),
                table_name="clk", schema_name="rwdemo_oij", force_flush=True)
    assert st.inc_join is not None, "pad-flip leg demoted the MV"
    conn.insert(pd.DataFrame({"ts": mins(40), "uid": [2], "imp_id": [103]}),
                table_name="imp", schema_name="rwdemo_oij", force_flush=True)
    conn.execute("DELETE FROM rwdemo_oij.clk WHERE clk_id = 900")
    conn.execute("FLUSH")
    conn.execute(
        "UPDATE rwdemo_oij.imp SET ts = TIMESTAMP '2024-01-01 00:30:00' "
        "WHERE imp_id = 102"
    )
    conn.execute("FLUSH")
    assert st.inc_join is not None, "DML demoted the outer interval MV"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_oij.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT imp_id, ts, clk_id, cts FROM rwdemo_oij.m ORDER BY imp_id"
    )
    return spark.createDataFrame(
        rows, "imp_id bigint, ts timestamp, clk_id bigint, cts timestamp"
    )


@register(
    "star_left_join_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST('carol' AS VARCHAR),
         CAST(NULL AS VARCHAR)),
        (3, 7, NULL, NULL),
        (4, 8, 'carol', 'gizmo')
    ) AS t(ok, qty, cname, pname) ORDER BY ok
    """,
)
def star_left_join_inc_mv_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-12: N-way LEFT-join enrichment MVs stay incremental — the
    fact LEFT JOIN dims serving view (facts kept when dims are
    missing) arms the STAR touched-fact-recompute mode: every ON binds
    only {fact, that dim}, so each output row derives from exactly one
    fact row, and restricting the old/new evaluation to fact rows
    touched by the batch (dim-key probes + fact-delta values) yields
    an exact bag diff — the telescoping rule alone cannot maintain
    pads. Legs: late dim arrival (pad flip under an existing fact),
    all-dims-missing fact append, dim UPDATE rippling to several fact
    rows, dim DELETE resurrecting pads, fact join-key UPDATE, fact
    DELETE, and a multi-side flush."""
    conn, eng = _fresh_conn(spark, "rwdemo_sn")
    conn.execute(
        "CREATE TABLE rwdemo_sn.f (ok BIGINT, ck BIGINT, pk BIGINT, "
        "qty BIGINT)"
    )
    conn.execute("CREATE TABLE rwdemo_sn.c (ck BIGINT, cname STRING)")
    conn.execute("CREATE TABLE rwdemo_sn.p (pk BIGINT, pname STRING)")
    conn.insert(pd.DataFrame({"ok": [1, 2, 3], "ck": [10, 10, 99],
                              "pk": [100, 200, 100], "qty": [5, 6, 7]}),
                table_name="f", schema_name="rwdemo_sn", force_flush=True)
    conn.insert(pd.DataFrame({"ck": [10], "cname": ["alice"]}),
                table_name="c", schema_name="rwdemo_sn", force_flush=True)
    conn.insert(pd.DataFrame({"pk": [100], "pname": ["widget"]}),
                table_name="p", schema_name="rwdemo_sn", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_sn.m AS "
        "SELECT f.ok AS ok, f.qty AS qty, c.cname AS cname, "
        "p.pname AS pname FROM rwdemo_sn.f f "
        "LEFT JOIN rwdemo_sn.c c ON f.ck = c.ck "
        "LEFT JOIN rwdemo_sn.p p ON f.pk = p.pk"
    )
    st = eng.mvs["rwdemo_sn.m"]
    assert st.inc_join_nway is not None and (
        st.inc_join_nway["mode"] == "star"
    ), "LEFT-join enrichment MV must arm the star N-way plan"
    # late dim arrival: ok=2's pname pad flips under an existing fact
    conn.insert(pd.DataFrame({"pk": [200], "pname": ["gadget"]}),
                table_name="p", schema_name="rwdemo_sn", force_flush=True)
    assert st.inc_join_nway is not None, "pad-flip leg demoted the MV"
    # fact append with BOTH dims missing: a double-pad row
    conn.insert(pd.DataFrame({"ok": [4], "ck": [50], "pk": [300],
                              "qty": [8]}),
                table_name="f", schema_name="rwdemo_sn", force_flush=True)
    # dim UPDATE ripples to every fact row carrying ck=10
    conn.execute("UPDATE rwdemo_sn.c SET cname = 'alicia' WHERE ck = 10")
    conn.execute("FLUSH")
    # dim DELETE: pname pads resurrect on ok=1 and ok=3
    conn.execute("DELETE FROM rwdemo_sn.p WHERE pk = 100")
    conn.execute("FLUSH")
    # fact join-key UPDATE: ok=1 moves from ck=10 to ck=50
    conn.execute("UPDATE rwdemo_sn.f SET ck = 50 WHERE ok = 1")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_sn.f WHERE ok = 2")
    conn.execute("FLUSH")
    assert st.inc_join_nway is not None, "DML demoted the star MV"
    # multi-side flush: carol fills ok=1/ok=4 cname pads, gizmo fills
    # ok=4's pname pad — one batch, two delta sides
    conn.insert(pd.DataFrame({"ck": [50], "cname": ["carol"]}),
                table_name="c", schema_name="rwdemo_sn", force_flush=False)
    conn.insert(pd.DataFrame({"pk": [300], "pname": ["gizmo"]}),
                table_name="p", schema_name="rwdemo_sn", force_flush=True)
    assert st.inc_join_nway is not None, "multi-side flush demoted the MV"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_sn.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT ok, qty, cname, pname FROM rwdemo_sn.m ORDER BY ok"
    )
    return spark.createDataFrame(
        rows, "ok bigint, qty bigint, cname string, pname string"
    )


@register(
    "union_all_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(25 AS BIGINT), CAST('web' AS VARCHAR)),
        (1, 50, 'web2x'),
        (2, 20, 'web'),
        (2, 40, 'web2x'),
        (4, 40, 'web'),
        (4, 80, 'web2x'),
        (6, 60, 'store'),
        (7, 70, 'web'),
        (7, 140, 'web2x')
    ) AS t(uid, amount, src) ORDER BY uid, amount
    """,
)
def union_all_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: UNION ALL MVs stay incremental — the consolidation
    view stacking per-source SELECTs arms the linear bag-sum plan
    (Δout = Σ branchᵢ(Δᵢ⁺) − Σ branchᵢ(Δᵢ⁻); each branch's own
    projection/filter runs over that branch's delta only — exact
    under arbitrary DML, branches over the SAME table included).
    Legs: an append hitting two branches of one table, a
    filtered-out append (no output change), an UPDATE crossing a
    branch filter, a source DELETE, and a multi-side flush. Plain
    UNION (distinct) and aggregate branches refuse (structural
    analyzer check, not a name list)."""
    conn, eng = _fresh_conn(spark, "rwdemo_un")
    conn.execute(
        "CREATE TABLE rwdemo_un.web (uid BIGINT, amt BIGINT, page STRING)"
    )
    conn.execute("CREATE TABLE rwdemo_un.store (uid BIGINT, amount BIGINT)")
    conn.insert(pd.DataFrame({"uid": [1, 2], "amt": [10, 20],
                              "page": ["a", "b"]}),
                table_name="web", schema_name="rwdemo_un", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [3], "amount": [30]}),
                table_name="store", schema_name="rwdemo_un",
                force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_un.m AS "
        "SELECT uid AS uid, amt AS amount, 'web' AS src FROM rwdemo_un.web "
        "WHERE amt > 5 "
        "UNION ALL SELECT uid, amount, 'store' FROM rwdemo_un.store "
        "UNION ALL SELECT uid, amt * 2, 'web2x' FROM rwdemo_un.web "
        "WHERE amt >= 20"
    )
    st = eng.mvs["rwdemo_un.m"]
    assert st.inc_union is not None, "UNION ALL MV must arm the linear plan"
    # append hitting both web branches in one delta
    conn.insert(pd.DataFrame({"uid": [4], "amt": [40], "page": ["c"]}),
                table_name="web", schema_name="rwdemo_un", force_flush=True)
    # filtered out everywhere: no output change, still incremental
    conn.insert(pd.DataFrame({"uid": [5], "amt": [3], "page": ["d"]}),
                table_name="web", schema_name="rwdemo_un", force_flush=True)
    # UPDATE crossing the second branch's filter (10 → 25)
    conn.execute("UPDATE rwdemo_un.web SET amt = 25 WHERE uid = 1")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_un.store WHERE uid = 3")
    conn.execute("FLUSH")
    assert st.inc_union is not None, "DML demoted the UNION ALL MV"
    # multi-side flush
    conn.insert(pd.DataFrame({"uid": [6], "amount": [60]}),
                table_name="store", schema_name="rwdemo_un",
                force_flush=False)
    conn.insert(pd.DataFrame({"uid": [7], "amt": [70], "page": ["e"]}),
                table_name="web", schema_name="rwdemo_un", force_flush=True)
    assert st.inc_union is not None, "multi-side flush demoted the MV"
    ops = [r["op"] for r in eng.changelog_table("rwdemo_un.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT uid, amount, src FROM rwdemo_un.m ORDER BY uid, amount"
    )
    return spark.createDataFrame(
        rows, "uid bigint, amount bigint, src string"
    )


@register(
    "left_joinagg_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST('A' AS VARCHAR), CAST(1 AS BIGINT),
         CAST(100 AS BIGINT)),
        (2, 'b', 0, NULL),
        (4, 'd', 2, 11),
        (5, 'e', 0, NULL)
    ) AS t(ck, cname, n, total) ORDER BY ck
    """,
)
def left_joinagg_inc_mv_scenario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12: LEFT join+agg MVs stay incremental — the
    counts-including-zero reporting view (dim LEFT JOIN fact GROUP BY
    dim keys) arms the recompute-only regime: a fact insert can flip a
    zero-count pad with no retraction for the merge rule to see, so
    every batch re-aggregates touched groups wholesale, with touched
    keys derived through the PRESERVED side (and never narrowed by
    WHERE — an anti-join filter excludes exactly the groups a pad flip
    changes). Legs: fact insert flipping a zero group, fact delete
    restoring it, dim insert creating a zero group, dim group-key
    UPDATE, dim DELETE killing a group, and a multi-side flush.
    Padded-side GROUP BY keys refuse."""
    conn, eng = _fresh_conn(spark, "rwdemo_lja")
    conn.execute("CREATE TABLE rwdemo_lja.c (ck BIGINT, cname STRING)")
    conn.execute(
        "CREATE TABLE rwdemo_lja.o (ok BIGINT, ck BIGINT, amt BIGINT)"
    )
    conn.insert(pd.DataFrame({"ck": [1, 2, 3], "cname": ["a", "b", "c"]}),
                table_name="c", schema_name="rwdemo_lja", force_flush=True)
    conn.insert(pd.DataFrame({"ok": [10], "ck": [1], "amt": [100]}),
                table_name="o", schema_name="rwdemo_lja", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_lja.m AS "
        "SELECT c.ck AS ck, c.cname AS cname, count(o.ok) AS n, "
        "sum(o.amt) AS total FROM rwdemo_lja.c c "
        "LEFT JOIN rwdemo_lja.o o ON c.ck = o.ck GROUP BY c.ck, c.cname"
    )
    st = eng.mvs["rwdemo_lja.m"]
    assert st.inc_joinagg is not None and st.inc_joinagg["recompute_only"], (
        "LEFT join+agg MV must arm the recompute-only regime"
    )
    # zero-count pad flip: ck=2 gains its first order
    conn.insert(pd.DataFrame({"ok": [20], "ck": [2], "amt": [200]}),
                table_name="o", schema_name="rwdemo_lja", force_flush=True)
    assert st.inc_joinagg is not None, "pad-flip leg demoted the MV"
    # back to a zero group on delete
    conn.execute("DELETE FROM rwdemo_lja.o WHERE ok = 20")
    conn.execute("FLUSH")
    # new dim row: zero group appears
    conn.insert(pd.DataFrame({"ck": [4], "cname": ["d"]}),
                table_name="c", schema_name="rwdemo_lja", force_flush=True)
    # group-key update and group death
    conn.execute("UPDATE rwdemo_lja.c SET cname = 'A' WHERE ck = 1")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM rwdemo_lja.c WHERE ck = 3")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "DML demoted the LEFT join+agg MV"
    # multi-side flush: two orders for ck=4 plus a fresh zero group
    conn.insert(pd.DataFrame({"ok": [30, 31], "ck": [4, 4],
                              "amt": [5, 6]}),
                table_name="o", schema_name="rwdemo_lja", force_flush=False)
    conn.insert(pd.DataFrame({"ck": [5], "cname": ["e"]}),
                table_name="c", schema_name="rwdemo_lja", force_flush=True)
    assert st.inc_joinagg is not None, "multi-side flush demoted the MV"
    # padded-side GROUP BY key must refuse (sound fallback)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_lja.mg AS "
        "SELECT o.ck AS ck, count(*) AS n FROM rwdemo_lja.c c "
        "LEFT JOIN rwdemo_lja.o o ON c.ck = o.ck GROUP BY o.ck"
    )
    assert eng.mvs["rwdemo_lja.mg"].inc_joinagg is None
    ops = [r["op"] for r in eng.changelog_table("rwdemo_lja.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT ck, cname, n, total FROM rwdemo_lja.m ORDER BY ck"
    )
    return spark.createDataFrame(
        rows, "ck bigint, cname string, n bigint, total bigint"
    )


@register(
    "select_distinct_inc_mv_scenario",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST('c' AS VARCHAR)),
        (3, 'v'),
        (4, NULL)
    ) AS t(uid, etype) ORDER BY uid
    """,
)
def select_distinct_inc_mv_scenario(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-12: SELECT DISTINCT MVs stay incremental — the
    dimension-extraction view arms the touched-value membership plan:
    a value's membership depends only on rows projecting to it, every
    batch row projects into the touched set, and the STORED result is
    exactly the pre-batch membership — so the refresh is one
    semi-restricted projection scan plus set diffs, with no full
    distinct shuffle and no old-state reconstruction. Legs: duplicate
    insert (no change), partial delete (membership survives), last-row
    delete (membership dies), a value-moving UPDATE, and NULL-valued
    membership. Aggregates under DISTINCT refuse structurally."""
    conn, eng = _fresh_conn(spark, "rwdemo_dx")
    conn.execute(
        "CREATE TABLE rwdemo_dx.ev (uid BIGINT, etype STRING, amt BIGINT)"
    )
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "etype": ["c", "c", "v"],
                              "amt": [5, 6, 7]}),
                table_name="ev", schema_name="rwdemo_dx", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dx.m AS "
        "SELECT DISTINCT uid AS uid, etype AS etype FROM rwdemo_dx.ev "
        "WHERE amt > 0"
    )
    st = eng.mvs["rwdemo_dx.m"]
    assert st.inc_distinct is not None, (
        "SELECT DISTINCT MV must arm the membership plan"
    )
    # duplicate insert: no membership change, still incremental
    conn.insert(pd.DataFrame({"uid": [1], "etype": ["c"], "amt": [9]}),
                table_name="ev", schema_name="rwdemo_dx", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [3], "etype": ["c"], "amt": [1]}),
                table_name="ev", schema_name="rwdemo_dx", force_flush=True)
    # partial delete: (1,'c') keeps two backing rows
    conn.execute("DELETE FROM rwdemo_dx.ev WHERE amt = 5")
    conn.execute("FLUSH")
    # last-row delete: (2,'v') dies
    conn.execute("DELETE FROM rwdemo_dx.ev WHERE uid = 2")
    conn.execute("FLUSH")
    # value-moving update: (3,'c') -> (3,'v')
    conn.execute("UPDATE rwdemo_dx.ev SET etype = 'v' WHERE uid = 3")
    conn.execute("FLUSH")
    assert st.inc_distinct is not None, "DML demoted the DISTINCT MV"
    # NULL membership
    conn.insert(pd.DataFrame({"uid": [4], "etype": [None], "amt": [2]}),
                table_name="ev", schema_name="rwdemo_dx", force_flush=True)
    assert st.inc_distinct is not None
    # aggregate under DISTINCT refuses (structural check)
    conn.execute(
        "CREATE MATERIALIZED VIEW rwdemo_dx.mg AS "
        "SELECT DISTINCT max(amt) AS m FROM rwdemo_dx.ev"
    )
    assert eng.mvs["rwdemo_dx.mg"].inc_distinct is None
    ops = [r["op"] for r in eng.changelog_table("rwdemo_dx.m")
           .orderBy("rw_timestamp").collect()]
    assert "Insert" in ops and "Delete" in ops
    cols, rows = conn._dispatch(
        "SELECT uid, etype FROM rwdemo_dx.m ORDER BY uid"
    )
    return spark.createDataFrame(rows, "uid bigint, etype string")
