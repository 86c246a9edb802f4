"""The publication contract: every epoch the engine publishes — an MV
refresh on any Spark path, an emit-on-close MV, the snapshot-diff
fallback, or a write to a base table — gets its epoch number, its
changelog rows and its table write inside ONE outermost hold of the
engine lock. A reader that takes the lock (cursor polls, other
refreshes' delta reads) therefore never sees one without the others.
The published MV still equals a fresh recompute, and a replay of its
changelog equals the MV.

Also: a stage directory a crashed process left behind does not break
the next DROP COLUMN or changelog vacuum."""

from __future__ import annotations

import os
import re
import threading
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.readwriter import DataFrameWriter

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from tests.test_mv_arm import CASES, _insert, schema  # noqa: F401 — fixture
from tests.test_relation_records import _assert_consistent, _bag

# UPDATE + DELETE per base table of CASES: together they hit every
# shape's retraction (stage-and-swap) branch
DML = {
    "t": ["UPDATE {s}.t SET v = v + 10 WHERE k = 'a'",
          "DELETE FROM {s}.t WHERE k = 'b'"],
    "a": ["UPDATE {s}.a SET x = x + 1 WHERE id = 1",
          "DELETE FROM {s}.a WHERE id = 2"],
    "b": ["UPDATE {s}.b SET y = 'q' WHERE id = 3",
          "DELETE FROM {s}.b WHERE id = 1"],
    "c": ["UPDATE {s}.c SET z = z + 1 WHERE y = 'p'"],
    "ev": ["UPDATE {s}.ev SET v = v + 1 WHERE uid = 1",
           "DELETE FROM {s}.ev WHERE uid = 2"],
}


class _CountingLock:
    """A re-entrant lock that numbers each outermost hold."""

    def __init__(self):
        self._lock = threading.RLock()
        self._depth = 0
        self._owner = None
        self.holds = 0

    def __enter__(self):
        self._lock.acquire()
        if self._depth == 0:
            self.holds += 1
            self._owner = threading.get_ident()
        self._depth += 1
        return self

    def __exit__(self, *exc) -> None:
        self._depth -= 1
        if self._depth == 0:
            self._owner = None
        self._lock.release()

    def current(self) -> int | None:
        """The calling thread's hold number, None outside the lock."""
        return self.holds if self._owner == threading.get_ident() else None


class _Recorder:
    """Records the lock hold each epoch assignment, changelog write and
    table write of one engine runs in."""

    # the statement that writes a table: a stage swap
    _SQL = re.compile(r"ALTER TABLE \S+ RENAME TO (\S+)", re.I)

    def __init__(self, monkeypatch, eng: SparkEngine):
        self.lock = eng._lock = _CountingLock()
        self.epoch_hold: dict[int, int | None] = {}
        self.writes: dict[str, list] = defaultdict(list)  # table -> holds
        self.swaps: list[str] = []  # RENAME targets, in order
        rec = self
        next_epoch = eng.next_epoch

        def counted_next_epoch():
            e = next_epoch()
            rec.epoch_hold[e] = rec.lock.current()
            return e

        monkeypatch.setattr(eng, "next_epoch", counted_next_epoch)
        orig_sql = SparkSession.sql

        def sql(self_, q, *a, **k):
            m = rec._SQL.search(" ".join(q.split()))
            if m:
                rec.wrote(m.group(1))
                rec.swaps.append(m.group(1))
            return orig_sql(self_, q, *a, **k)

        monkeypatch.setattr(SparkSession, "sql", sql)
        # the direct paths' catalog commits: a partition commit writes
        # the changelog, a generation swap writes the table
        for meth in ("_commit_partition", "_set_location"):
            def commit(name, *a, _orig=getattr(eng, meth), **k):
                rec.wrote(name)
                return _orig(name, *a, **k)

            monkeypatch.setattr(eng, meth, commit)
        for meth in ("saveAsTable", "insertInto"):
            orig = getattr(DataFrameWriter, meth)

            def write(self_, name, *a, _orig=orig, **k):
                rec.wrote(name)
                return _orig(self_, name, *a, **k)

            monkeypatch.setattr(DataFrameWriter, meth, write)

    def wrote(self, name: str) -> None:
        self.writes[name].append(self.lock.current())

    def assert_one_hold(self, eng: SparkEngine, fq: str) -> list[int]:
        """Each epoch in ``fq``'s changelog was assigned, appended to the
        changelog and written to ``fq`` in one hold; returns them."""
        cl = eng.changelog_name(fq)
        eng.spark.catalog.refreshTable(cl)
        epochs = sorted(r[0] for r in eng.spark.table(cl)
                        .select("rw_timestamp").distinct().collect())
        assert epochs, f"{fq} published nothing"
        for e in epochs:
            hold = self.epoch_hold.get(e)
            assert hold is not None, f"{fq} epoch {e} assigned outside the lock"
            assert hold in self.writes[cl], (
                f"{fq} epoch {e}: changelog append outside its epoch's hold")
            assert hold in self.writes[fq], (
                f"{fq} epoch {e}: table write outside its epoch's hold")
        return epochs


def _engine(spark, schema: str, monkeypatch):
    eng = SparkEngine(spark=spark, default_schema=schema)
    return eng, RisingWaveConnection(eng), _Recorder(monkeypatch, eng)


@pytest.mark.parametrize("attr", list(CASES))
def test_every_shape_publishes_in_one_hold(spark, schema, monkeypatch, attr):
    ddl, seed, stmt, more = CASES[attr]
    eng, conn, rec = _engine(spark, schema, monkeypatch)
    for d in ddl:
        conn.execute(f"CREATE TABLE {schema}.{d}")
    _insert(conn, schema, seed)
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS {stmt}")
    fq = f"{schema}.m"
    st = eng.mvs[fq]
    initial = _bag(spark.table(fq).collect())
    _insert(conn, schema, more)
    swaps_before = len(rec.swaps)
    for tbl in seed:
        for q in DML[tbl]:
            conn.execute(q.format(s=schema))
    conn.execute("FLUSH")
    assert getattr(st, attr) is not None, (
        "the shape must stay armed through UPDATE and DELETE")
    assert fq in rec.swaps[swaps_before:], "the swap branch ran"
    rec.assert_one_hold(eng, fq)
    _assert_consistent(eng, fq, stmt, initial)


def test_emit_on_close_publishes_in_one_hold(spark, schema, monkeypatch):
    eng, conn, rec = _engine(spark, schema, monkeypatch)
    conn.execute(f"CREATE TABLE {schema}.w (ts TIMESTAMPTZ, k STRING, "
                 "WATERMARK FOR ts AS ts - INTERVAL '5 seconds')")
    stmt = ("SELECT window_start, window_end, k, count(*) AS n "
            f"FROM tumble({schema}.w, ts, interval '10 seconds') "
            "GROUP BY window_start, window_end, k")
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS {stmt} "
                 "EMIT ON WINDOW CLOSE")
    for sec in (2, 7, 16, 31):  # closes [0,10) at :16, [10,20) at :31
        conn.insert(pd.DataFrame({"ts": [pd.Timestamp(f"2024-06-01 00:00:{sec:02d}")],
                                  "k": ["x"]}),
                    table_name="w", schema_name=schema, force_flush=True)
    fq = f"{schema}.m"
    assert len(rec.assert_one_hold(eng, fq)) == 2
    closed = (f"SELECT * FROM ({stmt}) "
              "WHERE window_end <= TIMESTAMP '2024-06-01 00:00:26'")  # watermark
    _assert_consistent(eng, fq, closed)


def test_snapshot_diff_publishes_in_one_hold(spark, schema, monkeypatch):
    eng, conn, rec = _engine(spark, schema, monkeypatch)
    conn.execute(f"CREATE TABLE {schema}.t (k STRING, v BIGINT)")
    _insert(conn, schema, {"t": "('a', 1), ('a', 2), ('b', 3)"})
    stmt = f"SELECT k, v, sum(v) OVER (PARTITION BY k) AS tot FROM {schema}.t"
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS {stmt}")
    fq = f"{schema}.m"
    st = eng.mvs[fq]
    assert st.fastpath_blocked, "no shape accepts a window aggregate"
    initial = _bag(spark.table(fq).collect())
    _insert(conn, schema, {"t": "('a', 5), ('c', 1)"})
    conn.execute(f"UPDATE {schema}.t SET v = v + 1 WHERE k = 'b'")
    conn.execute(f"DELETE FROM {schema}.t WHERE k = 'c'")
    conn.execute("FLUSH")
    assert len(rec.assert_one_hold(eng, fq)) == 2
    _assert_consistent(eng, fq, stmt, initial)


def test_base_table_dml_publishes_in_one_hold(spark, schema, monkeypatch):
    eng, conn, rec = _engine(spark, schema, monkeypatch)
    conn.execute(f"CREATE TABLE {schema}.t (k STRING, v BIGINT)")
    fq = f"{schema}.t"
    eng.insert_df(fq, spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)],
                                            "k STRING, v BIGINT"))
    eng.update_rows(fq, [("v", "v * 10")], "k <> 'c'")
    eng.delete_rows(fq, "k = 'b'")
    epochs = rec.assert_one_hold(eng, fq)
    assert len(epochs) == 3
    # one changelog write per epoch: an UPDATE's UpdateDelete and
    # UpdateInsert halves land together
    cl_writes = rec.writes[eng.changelog_name(fq)]
    assert [cl_writes.count(rec.epoch_hold[e]) for e in epochs] == [1, 1, 1]
    _assert_consistent(eng, fq, f"SELECT * FROM {fq}")


def test_stage_write_clears_a_stale_directory(spark, schema):
    """A stage directory left by a crashed process (the catalog, which
    is in-memory, forgot the table) is cleared before the stage write:
    DROP COLUMN and changelog vacuum both go through."""
    eng = SparkEngine(spark=spark, default_schema=schema)
    conn = RisingWaveConnection(eng)
    conn.execute(f"CREATE TABLE {schema}.t (k STRING, v BIGINT, x BIGINT)")
    fq = f"{schema}.t"
    for i in range(2):
        eng.insert_df(fq, spark.createDataFrame([(f"k{i}", i, i)],
                                                "k STRING, v BIGINT, x BIGINT"))
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def plant(tbl: str) -> None:
        d = os.path.join(wh, f"{schema}.db", f"__rw_stage__{tbl}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000-crashed.parquet"), "w") as f:
            f.write("half-written")

    plant("t")
    eng.drop_column("t", "x")
    assert spark.table(fq).columns == ["k", "v"]
    assert sorted(spark.table(fq).collect()) == [("k0", 0), ("k1", 1)]

    cl = eng.changelog_name(fq)
    conn.execute(f"CREATE SUBSCRIPTION {schema}.s FROM {fq} "
                 "WITH (retention = '3600s')")
    first = min(eng._changelog_epochs(cl))
    eng.epoch_wall[first] -= 7200  # age the first insert out
    plant(cl.split(".", 1)[1])
    eng.vacuum_changelogs()
    spark.catalog.refreshTable(cl)
    assert sorted(r[0] for r in spark.table(cl).select("k").collect()) == ["k1"]
    assert eng.vacuum_floor[cl] == first
    shown = {r[0] for r in conn.fetch(f"SHOW TABLES FROM {schema}")}
    assert shown == {"t"}, "stage tables stay hidden"
