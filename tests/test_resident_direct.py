"""The direct tick path reads back nothing it just wrote: a direct MV's
merged result stays in memory with the relation record installed for
its generation (``MVState.direct_result``), and each changelog's newest
epoch file is served from the Arrow table ``_publish_epoch_dir`` wrote
(``SparkEngine._written``). A warm tick makes no parquet read, on the
inserting thread or in the subscriber's FETCH, and turns no stored row
into Python.

Every event that can change an MV's stored result behind the resident
copy (a Spark-path publication, another engine's refresh, RENAME, DROP
+ re-create, a new engine) must send the next refresh back to the disk
read; each is followed by a tick checked against a recompute and a
changelog replay. Files another engine joins into an epoch directory
are read from disk, and a cursor that read from memory receives the
same tuples, value types included, as one that reads from disk."""

from __future__ import annotations

import datetime as dt
import threading
import time
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from risingwave_py_spark.core import OutputFormat, RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from tests.test_relation_records import _assert_consistent, _bag
from conftest import drop_schema


@pytest.fixture
def conn(spark):
    schema = f"res_{uuid.uuid4().hex[:8]}"
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    drop_schema(spark, schema)


def _no_reads(counts) -> bool:
    return counts["read_table"] == counts["ParquetFile"] == 0


def _one_row_each(counts) -> bool:
    """Every column turned into Python held one value: a one-row
    tick's own row, never a stored result."""
    return counts["values"] == counts["conversions"]


def test_warm_tick_reads_nothing_back(spark, conn, parquet_reads):
    """The tick_stream shape: a tumble/round(avg) MV, a sum/count MV
    and a RAW subscriber thread on the table."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.tick (id BIGINT, symbol STRING, "
              "timestamp TIMESTAMP, close DOUBLE, volume BIGINT)")
    mvs = {
        f"{s}.tick_analytics":
            "SELECT window_start, window_end, symbol, "
            "round(avg(close)) AS avg_price "
            f"FROM tumble({s}.tick, timestamp, interval '10 seconds') "
            "GROUP BY window_start, window_end, symbol",
        f"{s}.tick_by_symbol":
            f"SELECT symbol, sum(volume) AS vol, count(*) AS n FROM {s}.tick "
            "GROUP BY symbol",
    }
    for fq, stmt in mvs.items():
        c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    got: dict[int, int] = {}  # tick id -> subscriber thread
    stop = threading.Event()

    def on_ticks(batch):
        for row in batch:
            got[row[0]] = threading.get_ident()

    consumer = threading.Thread(target=lambda: c.on_change(
        subscribe_from="tick", schema_name=s, handler=on_ticks,
        output_format=OutputFormat.RAW, _stop_event=stop), daemon=True)
    consumer.start()
    while not eng.cursors:
        time.sleep(0.01)

    def tick(i: int) -> None:
        c.insert_row("tick", schema_name=s, force_flush=True, id=i,
                     symbol=f"S{i % 3}",
                     timestamp=dt.datetime(2024, 1, 1)
                     + dt.timedelta(seconds=4 * i),
                     close=100.0 + i, volume=i)
        deadline = time.monotonic() + 10
        while i not in got and time.monotonic() < deadline:
            time.sleep(0.005)
        assert i in got, f"tick {i} not delivered"

    try:
        for i in range(12):  # warm, and more than one window stored
            tick(i)
        fallback = eng.direct_stats["fallback"]
        for i in range(12, 15):
            parquet_reads.start()
            tick(i)
            parquet_reads.stop()
            ins, sub = parquet_reads.of(), parquet_reads.of(got[i])
            assert _no_reads(ins) and _one_row_each(ins), ins
            assert _no_reads(sub) and _one_row_each(sub), sub
            # the subscriber's FETCH did run, on its own thread
            assert got[i] != threading.get_ident() and sub["values"] > 0
    finally:
        stop.set()
        consumer.join(timeout=10)
    assert eng.direct_stats["fallback"] == fallback
    for fq, stmt in mvs.items():
        assert spark.table(fq).count() > 1
        _assert_consistent(eng, fq, stmt)


def test_events_behind_the_resident_result(spark, conn, parquet_reads):
    """After each event the next direct tick reads the stored result
    from disk and stays consistent; the tick after it reads nothing."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    stmt = f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k"
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    seq = iter(range(1000))

    def tick(c, eng):
        i = next(seq)
        fallback = eng.direct_stats["fallback"]
        parquet_reads.start()
        c.insert_row("t", schema_name=s, force_flush=True, k=f"k{i % 4}", v=i)
        parquet_reads.stop()
        assert eng.direct_stats["fallback"] == fallback, "left the direct path"
        return parquet_reads.of()

    def check(c, eng, fq, stmt):
        first = tick(c, eng)
        assert first["read_table"] > 0, "the stale resident result was used"
        _assert_consistent(eng, fq, stmt)
        second = tick(c, eng)
        assert _no_reads(second) and _one_row_each(second), second
        _assert_consistent(eng, fq, stmt)

    for _ in range(5):
        tick(c, eng)
    warm = tick(c, eng)
    assert _no_reads(warm) and _one_row_each(warm), warm
    # a Spark-path publication: retractions leave the direct path
    c.execute(f"UPDATE {s}.t SET v = v + 10 WHERE k = 'k1'")
    c.execute(f"DELETE FROM {s}.t WHERE k = 'k2'")
    c.execute("FLUSH")
    check(c, eng, fq, stmt)
    # a second engine on the same SparkContext refreshes the same MV
    eng2 = SparkEngine(spark=spark, default_schema=s)
    RisingWaveConnection(eng2).execute("FLUSH")
    check(c, eng, fq, stmt)
    # RENAME
    c.execute(f"ALTER MATERIALIZED VIEW {fq} RENAME TO m2")
    fq = f"{s}.m2"
    check(c, eng, fq, stmt)
    # DROP + re-create under the old name with another SELECT
    c.execute(f"DROP MATERIALIZED VIEW {fq}")
    fq = f"{s}.m"
    stmt = f"SELECT k, count(*) AS n, max(v) AS hi FROM {s}.t GROUP BY k"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    initial = _bag(spark.table(fq).collect())  # not in its changelog
    assert tick(c, eng)["read_table"] > 0
    second = tick(c, eng)
    assert _no_reads(second) and _one_row_each(second), second
    _assert_consistent(eng, fq, stmt, initial)
    # a new engine on the same warehouse: its first FLUSH re-arms the
    # restored MV on a Spark path, the next tick is direct again
    eng3 = SparkEngine(spark=spark, default_schema=s)
    c3 = RisingWaveConnection(eng3)
    c3.insert_row("t", schema_name=s, force_flush=True, k="k0", v=100)
    assert eng3.mvs[fq].inc_direct is not None
    first = tick(c3, eng3)
    assert first["read_table"] > 0
    second = tick(c3, eng3)
    assert _no_reads(second) and _one_row_each(second), second
    _assert_consistent(eng3, fq, stmt, initial)


def test_shared_epoch_dir_and_fetch_types(spark, conn, parquet_reads):
    """Two engines with separate epoch counters publish into one epoch
    directory: the refresh and FETCH deliver both files' rows. Then a
    fresh engine's ``FETCH … SINCE 0`` returns tuples identical, types
    included, to what the live cursors received."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, d DECIMAL(10, 2), "
              "ts TIMESTAMP, v BIGINT)")
    stmt = (f"SELECT k, sum(d) AS sd, max(ts) AS hi, count(*) AS n "
            f"FROM {s}.t GROUP BY k")
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    for rel in ("t", "m"):
        c.execute(f"CREATE SUBSCRIPTION {s}.{rel}_sub FROM {s}.{rel} "
                  "WITH (retention = '86400s')")
        c.execute(f"DECLARE {s}_{rel}_c SUBSCRIPTION CURSOR FOR "
                  f"{s}.{rel}_sub SINCE 0")
    live: dict[str, list] = {"t": [], "m": []}

    def fetch_live() -> None:
        for rel in live:
            parquet_reads.start()
            live[rel].extend(c.fetch(f"FETCH 100 FROM {s}_{rel}_c"))
            parquet_reads.stop()
            assert _no_reads(parquet_reads.of()), (rel, parquet_reads.of())

    def row(i):
        return (f"k{i % 2}", Decimal(f"{i}.25"),
                dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), i)

    for i in range(3):
        k, d, ts, v = row(i)
        c.insert_row("t", schema_name=s, force_flush=True, k=k, d=d, ts=ts, v=v)
        fetch_live()
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("d", T.DecimalType(10, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    eng2 = SparkEngine(spark=spark, default_schema=f"{s}_b")
    try:
        for first, second in ((eng, eng2), (eng2, eng)):
            e = eng2._epoch = eng._epoch  # the counters issue one epoch
            assert first.insert_rows_local("t", [row(e)], schema, s) == e + 1
            assert second.insert_rows_local("t", [row(e + 50)], schema, s) == e + 1
            parquet_reads.start()
            c.execute("FLUSH")
            parquet_reads.stop()
            # the other engine's file is read from disk, this one's not
            assert parquet_reads.of()["read_table"] == 1, parquet_reads.of()
            before = len(live["t"])
            live["t"].extend(c.fetch(f"FETCH 100 FROM {s}_t_c"))
            live["m"].extend(c.fetch(f"FETCH 100 FROM {s}_m_c"))
            assert sorted(r[3] for r in live["t"][before:]) == [e, e + 50]
            assert {r[-1] for r in live["t"][before:]} == {e + 1}
            k, d, ts, v = row(e + 100)
            c.insert_row("t", schema_name=s, force_flush=True,
                         k=k, d=d, ts=ts, v=v)
            fetch_live()
    finally:
        drop_schema(spark, f"{s}_b")
    assert eng.direct_stats["fallback"] == 0
    _assert_consistent(eng, fq, stmt)
    fresh = SparkEngine(spark=spark, default_schema=s)
    for rel, rows in live.items():
        fresh.declare_cursor(f"{s}_{rel}_fresh", f"{s}.{rel}_sub", since=0)
        _, replay = fresh.fetch_cursor(f"{s}_{rel}_fresh", 100_000)
        typed = [[(type(v), v) for v in r] for r in rows]
        assert [[(type(v), v) for v in r] for r in replay] == typed, rel
        assert any(isinstance(v, Decimal) for v in rows[0])
        assert any(isinstance(v, dt.datetime) for v in rows[0])
