"""The engine's relation records (location, partition columns, schema)
on the one-row tick path: the catalog calls a warm tick may make, and
every way a record or a cached relation can go stale — Spark-path MV
publications, ALTER, DROP + re-CREATE, a second engine on the same
session, a catalog that refuses ``SET LOCATION``, and CACHE TABLE.
Each invalidation test checks the MV against a fresh recompute and a
replay of its changelog."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import SparkSession

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from conftest import drop_schema

ADD_OPS = ("Insert", "UpdateInsert")
DEL_OPS = ("Delete", "UpdateDelete")


@pytest.fixture
def conn(spark):
    schema = f"rrec_{uuid.uuid4().hex[:8]}"
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    drop_schema(spark, schema)


def _bag(rows) -> Counter:
    return Counter(tuple(r) for r in rows)


def _replay(eng: SparkEngine, fq: str) -> Counter:
    """Fold the MV's whole changelog; a row retracted more often than
    it was added stays negative so the comparison fails."""
    cl = eng.changelog_table(fq)
    cols = [c for c in cl.columns if c not in ("op", "rw_timestamp")]
    bag: Counter = Counter()
    for r in cl.collect():
        key = tuple(r[c] for c in cols)
        bag[key] += 1 if r["op"] in ADD_OPS else -1 if r["op"] in DEL_OPS else 0
    return Counter({k: v for k, v in bag.items() if v})


def _assert_consistent(eng: SparkEngine, fq: str, stmt: str,
                       initial: Counter | None = None) -> None:
    stored = _bag(eng.spark.table(fq).collect())
    assert stored == _bag(eng.sql(stmt).collect()), "MV != fresh recompute"
    replayed = _replay(eng, fq)
    replayed.update(initial or {})  # adds counts, keeps negative ones
    assert all(v >= 0 for v in replayed.values()), "a row retracted twice"
    assert +replayed == stored, "changelog replay != MV"


class _Calls:
    """Counts catalog statements and lookups while active, and the
    engine's direct catalog commits."""

    def __init__(self, monkeypatch, spark, eng: SparkEngine):
        self.n: Counter = Counter()
        self.sql: list[str] = []
        self.on = False
        calls = self
        orig_sql = SparkSession.sql

        def sql(self, q, *a, **k):
            if calls.on:
                calls.n["spark.sql"] += 1
                calls.sql.append(" ".join(q.split()))
            return orig_sql(self, q, *a, **k)

        monkeypatch.setattr(SparkSession, "sql", sql)
        orig_table = SparkSession.table

        def table(self, name):
            if calls.on:
                calls.n["spark.table"] += 1
            return orig_table(self, name)

        monkeypatch.setattr(SparkSession, "table", table)
        cat = type(spark.catalog)
        for m in [m for m in vars(cat) if not m.startswith("_")]:
            fn = getattr(cat, m)
            if not callable(fn):
                continue

            def wrap(fn=fn, m=m):
                def f(self, *a, **k):
                    if calls.on:
                        calls.n[f"spark.catalog.{m}"] += 1
                    return fn(self, *a, **k)
                return f

            monkeypatch.setattr(cat, m, wrap())
        set_location = eng._set_location

        def counted_set_location(*a, **k):
            if calls.on:
                calls.n["_set_location"] += 1
            return set_location(*a, **k)

        monkeypatch.setattr(eng, "_set_location", counted_set_location)


def _tick_shape(c: RisingWaveConnection, s: str) -> dict[str, str]:
    c.execute(f"CREATE TABLE {s}.tick (id BIGINT, symbol STRING, "
              "timestamp TIMESTAMP, close DOUBLE, volume BIGINT)")
    mvs = {
        f"{s}.tick_analytics":
            "SELECT window_start, window_end, symbol, round(avg(close)) AS avg_price "
            f"FROM tumble({s}.tick, timestamp, interval '10 seconds') "
            "GROUP BY window_start, window_end, symbol",
        f"{s}.tick_by_symbol":
            f"SELECT symbol, sum(volume) AS vol, count(*) AS n FROM {s}.tick "
            "GROUP BY symbol",
    }
    for fq, stmt in mvs.items():
        c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    c.execute(f"CREATE SUBSCRIPTION {s}.tick_sub FROM {s}.tick "
              "WITH (retention = '86400s')")
    c.execute(f"DECLARE {s}_cur SUBSCRIPTION CURSOR FOR {s}.tick_sub")
    return mvs


def _tick(c: RisingWaveConnection, s: str, i: int) -> list:
    import datetime

    c.insert_row("tick", schema_name=s, force_flush=True, id=i,
                 symbol=f"S{i % 3}",
                 timestamp=datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(seconds=3 * i),
                 close=100.0 + i, volume=i)
    return c.fetch(f"FETCH 10 FROM {s}_cur")


def test_warm_tick_catalog_statement_budget(spark, conn, monkeypatch,
                                            py4j_calls):
    c, eng, s = conn
    mvs = _tick_shape(c, s)
    for i in range(3):  # warm: records resolved, SET LOCATION probed
        assert len(_tick(c, s, i)) == 1
    for st in eng.mvs.values():
        assert st.inc_direct is not None and st.set_location_ok
    calls = _Calls(monkeypatch, spark, eng)
    fallback = eng.direct_stats["fallback"]
    calls.on = True
    py4j_calls.start()
    got = _tick(c, s, 3)
    py4j_calls.stop()
    calls.on = False
    assert [r[0] for r in got] == [3]
    # no SQL statement, spark.catalog call or spark.table, and no
    # partition registration (Spark registers changelog epochs when it
    # reads them): one swap per MV
    assert calls.n == Counter(_set_location=2), (calls.n, calls.sql)
    assert py4j_calls.methods["createPartitions"] == 0, py4j_calls.methods
    assert py4j_calls.n <= 30, (py4j_calls.n, py4j_calls.methods)
    assert eng.direct_stats["fallback"] == fallback
    for fq, stmt in mvs.items():
        _assert_consistent(eng, fq, stmt)


def test_spark_path_refresh_between_direct_refreshes(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    stmt = f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k"
    c.execute(f"CREATE MATERIALIZED VIEW {s}.m AS {stmt}")
    fq = f"{s}.m"
    c.insert_row("t", schema_name=s, force_flush=True, k="a", v=1)
    c.insert_row("t", schema_name=s, force_flush=True, k="b", v=2)
    assert eng.direct_stats["fallback"] == 0
    assert "__rwgen_" in eng._relation(fq)["loc"]
    _assert_consistent(eng, fq, stmt)
    # retractions take a Spark path, which republishes the MV
    c.execute(f"UPDATE {s}.t SET v = v + 10 WHERE k = 'a'")
    c.execute(f"DELETE FROM {s}.t WHERE k = 'b'")
    c.execute("FLUSH")
    assert eng.direct_stats["fallback"] > 0
    assert fq not in eng._records, "a Spark-path publication kept the record"
    _assert_consistent(eng, fq, stmt)
    fallback = eng.direct_stats["fallback"]
    c.insert_row("t", schema_name=s, force_flush=True, k="a", v=5)
    c.insert_row("t", schema_name=s, force_flush=True, k="c", v=7)
    assert eng.direct_stats["fallback"] == fallback, "direct path did not resume"
    _assert_consistent(eng, fq, stmt)


def test_alter_column_then_direct_ingest_and_fetch(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (a BIGINT, b STRING)")
    stmt = f"SELECT count(*) AS n, sum(a) AS sa FROM {s}.t"
    c.execute(f"CREATE MATERIALIZED VIEW {s}.m AS {stmt}")
    initial = _bag(spark.table(f"{s}.m").collect())  # (0, NULL): not logged
    c.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t WITH (retention = '86400s')")
    c.execute(f"DECLARE {s}_c SUBSCRIPTION CURSOR FOR {s}.sub")
    direct = []  # insert_rows_local results: None = left the direct path
    orig = eng.insert_rows_local

    def spy(*a, **k):
        direct.append(orig(*a, **k))
        return direct[-1]

    eng.insert_rows_local = spy

    c.insert_row("t", schema_name=s, force_flush=True, a=1, b="x")
    assert c.fetch(f"FETCH 10 FROM {s}_c")[0][:2] == (1, "x")
    c.execute(f"ALTER TABLE {s}.t ADD COLUMN c DOUBLE")
    c.insert_row("t", schema_name=s, force_flush=True, a=2, b="y", c=1.5)
    rows = c.fetch(f"FETCH 10 FROM {s}_c")
    assert [r[:3] for r in rows] == [(2, "y", 1.5)], rows
    c.execute(f"ALTER TABLE {s}.t DROP COLUMN b")
    c.insert_row("t", schema_name=s, force_flush=True, a=3, c=2.5)
    cols, rows = eng.fetch_cursor(f"{s}_c", 10)
    assert cols == ["a", "c", "op", "rw_timestamp"], cols
    assert [r[:2] for r in rows] == [(3, 2.5)], rows
    assert None not in direct, "an insert left the direct path"
    _assert_consistent(eng, f"{s}.m", stmt, initial)


def test_drop_and_recreate_mv_with_another_select(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS "
              f"SELECT k, sum(v) AS sv FROM {s}.t GROUP BY k")
    for i in range(3):
        c.insert_row("t", schema_name=s, force_flush=True, k=f"k{i % 2}", v=i)
    assert "__rwgen_" in eng._relation(fq)["loc"]
    c.execute(f"DROP MATERIALIZED VIEW {fq}")
    assert fq not in eng._records
    stmt = f"SELECT k, count(*) AS n, max(v) AS hi FROM {s}.t GROUP BY k"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    initial = _bag(spark.table(fq).collect())
    fallback = eng.direct_stats["fallback"]
    for i in range(3, 6):
        c.insert_row("t", schema_name=s, force_flush=True, k=f"k{i % 3}", v=i)
    assert eng.direct_stats["fallback"] == fallback
    assert spark.table(fq).columns == ["k", "n", "hi"]
    _assert_consistent(eng, fq, stmt, initial)


def test_two_engines_on_one_session_share_invalidation(spark, conn):
    c1, eng1, s = conn
    s2 = f"{s}_b"
    eng2 = SparkEngine(spark=spark, default_schema=s2)
    c2 = RisingWaveConnection(eng2)
    try:
        c1.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
        stmt = f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k"
        c1.execute(f"CREATE MATERIALIZED VIEW {s}.m AS {stmt}")
        c1.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t "
                   "WITH (retention = '86400s')")
        c1.execute(f"DECLARE {s}_c SUBSCRIPTION CURSOR FOR {s}.sub")
        c1.insert_row("t", schema_name=s, force_flush=True, k="a", v=1)
        assert len(c1.fetch(f"FETCH 10 FROM {s}_c")) == 1
        # the other engine changes the table's columns (each engine
        # keeps its own epoch counter, so only this one writes) ...
        c2.execute(f"ALTER TABLE {s}.t ADD COLUMN c DOUBLE")
        # ... and this engine's direct ingest and FETCH must see them
        c1 = RisingWaveConnection(eng1)  # fresh insert context
        c1.insert_row("t", schema_name=s, force_flush=True, k="a", v=3, c=1.5)
        cols, rows = eng1.fetch_cursor(f"{s}_c", 10)
        assert cols == ["k", "v", "c", "op", "rw_timestamp"], cols
        assert [r[:3] for r in rows] == [("a", 3, 1.5)], rows
        c2.execute(f"ALTER TABLE {s}.t DROP COLUMN c")
        c1 = RisingWaveConnection(eng1)
        c1.insert_row("t", schema_name=s, force_flush=True, k="c", v=4)
        cols, rows = eng1.fetch_cursor(f"{s}_c", 10)
        assert cols == ["k", "v", "op", "rw_timestamp"], cols
        assert [r[:2] for r in rows] == [("c", 4)], rows
        _assert_consistent(eng1, f"{s}.m", stmt)
    finally:
        drop_schema(spark, s2)


def test_catalog_refusing_set_location_falls_back_cleanly(spark, conn,
                                                         monkeypatch):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    stmt = f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k"
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    tries = []

    def set_location(fq, loc):
        tries.append((fq, loc))
        raise RuntimeError("catalog refuses SET LOCATION")

    monkeypatch.setattr(eng, "_set_location", set_location)
    for i in range(3):
        c.insert_row("t", schema_name=s, force_flush=True, k=f"k{i % 2}", v=i)
    assert eng.direct_stats["fallback"] == 3
    assert len(tries) == 1, "the refusal is recorded: probed once per arm"
    assert eng.mvs[fq].set_location_ok is False
    assert "__rwgen_" not in eng._relation(fq)["loc"]
    _assert_consistent(eng, fq, stmt)


def test_cached_relations_see_direct_commits(spark, conn):
    """CACHE TABLE on a base table and on a direct-path MV: a tick's
    direct catalog commits re-cache both, so the next SELECT sees the
    new row and the new MV value."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    stmt = f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k"
    c.execute(f"CREATE MATERIALIZED VIEW {s}.m AS {stmt}")
    for i in range(2):  # warm: records resolved, swap probed
        c.insert_row("t", schema_name=s, force_flush=True, k="a", v=1)
    fallback = eng.direct_stats["fallback"]
    try:
        for t in ("t", "m"):
            spark.sql(f"CACHE TABLE {s}.{t}")
        assert c.fetch(f"SELECT count(*) FROM {s}.t") == [(2,)]
        c.insert_row("t", schema_name=s, force_flush=True, k="a", v=5)
        assert c.fetch(f"SELECT count(*) FROM {s}.t") == [(3,)]
        assert c.fetch(f"SELECT k, sv, n FROM {s}.m") == [("a", 7, 3)]
    finally:
        for t in ("t", "m"):
            spark.sql(f"UNCACHE TABLE IF EXISTS {s}.{t}")
    assert eng.direct_stats["fallback"] == fallback, "left the direct path"
    _assert_consistent(eng, f"{s}.m", stmt)


def test_resolve_racing_a_clear_never_stores_a_stale_record(tmp_path):
    """Readers resolve a record while DDL moves the table and clears
    it: a resolve that read the old location before the clear must not
    store it after (no Spark: the catalog is a stub whose answer moves)."""
    import sys
    import threading
    import time

    from risingwave_py_spark.engine import _Records

    where = [str(tmp_path / "v0")]

    def catalog_entry(fq):
        loc = where[0]
        time.sleep(0.0005)  # the catalog answers after the table moved
        return loc, []

    eng = SparkEngine.__new__(SparkEngine)
    eng._records = _Records()
    eng._catalog_entry = catalog_entry

    def move(i):
        where[0] = str(tmp_path / f"v{i}")
        os.makedirs(where[0])  # the old dirs stay: isdir cannot tell
        eng._forget("db.t")

    os.makedirs(where[0])
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            eng._relation("db.t")

    readers = [threading.Thread(target=reader) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    stale = []
    try:
        for t in readers:
            t.start()
        for i in range(1, 61, 2):
            move(i)
            time.sleep(0.0002)  # readers are mid-resolve ...
            move(i + 1)  # ... when the table moves again
            time.sleep(0.003)
            rec = eng._records.get("db.t")
            if rec is not None and rec["loc"] != where[0]:
                stale.append((rec["loc"], where[0]))
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=10)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in readers)
    assert not stale, stale[:3]
