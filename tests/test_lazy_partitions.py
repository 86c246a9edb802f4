"""Lazy changelog registration: the direct paths publish an epoch by
renaming its directory into place and register nothing with Spark's
catalog; every Spark read of a changelog registers the missing epochs
first (SparkEngine._sync_changelog). Each test commits only direct
epochs (insert_rows_local, or a direct MV refresh), checks that Spark
has not registered them, then checks that a Spark reader sees every
one: a Spark-path MV refresh, a file sink, time travel, vacuum, DROP
COLUMN, a second and a restarted engine. A dot-named staging directory
never counts."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from tests.test_relation_records import _assert_consistent, _bag
from conftest import drop_schema


@pytest.fixture
def conn(spark):
    schema = f"lazy_{uuid.uuid4().hex[:8]}"
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    drop_schema(spark, schema)


def _direct(eng: SparkEngine, fq: str, rows: list[tuple]) -> list[int]:
    """Commit each row as one direct epoch, with no FLUSH."""
    schema = eng.spark.table(fq).schema
    eps = [eng.insert_rows_local(fq, [r], schema) for r in rows]
    assert None not in eps, "a row left the direct path"
    return eps


def _registered(eng: SparkEngine, fq: str) -> set[int]:
    rows = eng.spark.sql(f"SHOW PARTITIONS {eng.changelog_name(fq)}").collect()
    return {int(r[0].split("=", 1)[1]) for r in rows}


def _fetch_all(c: RisingWaveConnection, schema: str, sub: str) -> list[tuple]:
    cur = f"{schema}.c_{uuid.uuid4().hex[:6]}"
    c.execute(f"DECLARE {cur} SUBSCRIPTION CURSOR FOR {schema}.{sub} SINCE 0")
    return c.fetch(f"FETCH 1000 FROM {cur}")


def test_spark_path_refresh_sees_direct_epochs(conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    stmt = f"SELECT DISTINCT k FROM {s}.t"
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS {stmt}")
    assert eng.mvs[fq].inc_distinct is not None, "a Spark-path plan armed"
    eps = _direct(eng, f"{s}.t", [("a", 1), ("b", 2), ("a", 3), ("c", 4)])
    assert not set(eps) & _registered(eng, f"{s}.t")
    c.execute("FLUSH")
    assert eng.mvs[fq].inc_distinct is not None
    assert set(eps) <= _registered(eng, f"{s}.t")
    assert _bag(eng.spark.table(fq).collect()) == _bag([("a",), ("b",), ("c",)])
    _assert_consistent(eng, fq, stmt)


def test_file_sink_receives_every_direct_row(spark, conn, tmp_path):
    c, eng, s = conn
    out = str(tmp_path / "sink")
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    c.execute(f"CREATE SINK {s}.sk FROM {s}.t WITH (connector='filesystem', "
              f"path='{out}', format='parquet')")
    rows = [("a", 1), ("b", 2), ("c", 3)]
    _direct(eng, f"{s}.t", rows)
    eng.flush_sinks()
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == rows


def test_time_travel_at_direct_epochs(conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    fq = f"{s}.m"
    c.execute(f"CREATE MATERIALIZED VIEW {fq} AS "
              f"SELECT k, sum(v) AS sv, count(*) AS n FROM {s}.t GROUP BY k")
    states, fallback = [], eng.direct_stats["fallback"]
    for i, k in enumerate("aba"):
        c.insert_row("t", schema_name=s, force_flush=True, k=k, v=i + 1)
        states.append((eng.current_epoch, _bag(eng.spark.table(fq).collect())))
    assert eng.direct_stats["fallback"] == fallback, "left the direct path"
    assert not _registered(eng, fq), "the MV's epochs are direct commits"
    e1 = states[0][0]
    assert _bag(eng.table_asof(f"{s}.t", e1).collect()) == _bag([("a", 1)])
    for epoch, want in states[:2]:
        assert _bag(eng.table_asof(fq, epoch).collect()) == want


def test_vacuum_keeps_every_retained_direct_epoch(conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    c.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t "
              "WITH (retention = '3600s')")
    fq = f"{s}.t"
    eps = _direct(eng, fq, [("a", 1), ("b", 2), ("c", 3)])
    assert not set(eps) & _registered(eng, fq)
    eng.epoch_wall[eps[0]] -= 7200  # age the first epoch out
    eng.vacuum_changelogs()
    cl = eng.changelog_name(fq)
    assert eng.vacuum_floor[cl] == eps[0]
    assert eng._changelog_epochs(cl) == set(eps[1:])
    assert sorted(tuple(r) for r in eng.changelog_table(fq)
                  .select("k", "rw_timestamp").collect()) == [
        ("b", eps[1]), ("c", eps[2])]
    assert [r[0] for r in _fetch_all(c, s, "sub")] == ["b", "c"]


def test_drop_column_keeps_every_direct_changelog_row(conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT, x BIGINT)")
    c.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t "
              "WITH (retention = '3600s')")
    fq = f"{s}.t"
    eps = _direct(eng, fq, [("a", 1, 10), ("b", 2, 20), ("c", 3, 30)])
    c.execute(f"ALTER TABLE {fq} DROP COLUMN x")
    assert sorted(tuple(r) for r in eng.changelog_table(fq).collect()) == [
        ("a", 1, "Insert", eps[0]), ("b", 2, "Insert", eps[1]),
        ("c", 3, "Insert", eps[2])]
    assert [r[:2] for r in _fetch_all(c, s, "sub")] == [
        ("a", 1), ("b", 2), ("c", 3)]


def test_second_and_restarted_engines_see_every_direct_epoch(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    c.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t "
              "WITH (retention = '3600s')")
    fq = f"{s}.t"
    want = [("a", 1), ("b", 2)]
    _direct(eng, fq, want)
    # a restart in a new process starts with no relation records
    eng._forget(fq, eng.changelog_name(fq))
    restarted = SparkEngine(spark=spark, default_schema=s)
    eng2 = SparkEngine(spark=spark, default_schema=s)  # a second engine
    assert not _registered(eng, fq)
    for e in (restarted, eng2):
        got = _fetch_all(RisingWaveConnection(e), s, "sub")
        assert [r[:2] for r in got] == want
    # the first engine commits more after both came up
    more = [("c", 3)]
    _direct(eng, fq, more)
    want += more
    for e in (restarted, eng2):
        got = _fetch_all(RisingWaveConnection(e), s, "sub")
        assert [r[:2] for r in got] == want
        assert sorted(tuple(r) for r in e.changelog_table(fq)
                      .select("k", "v").collect()) == want
        assert sorted(tuple(r) for r in e.sql(
            f"SELECT k, v FROM {s}.__rw_changelog__t").collect()) == want


def test_staging_directory_never_counts(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (k STRING, v BIGINT)")
    c.execute(f"CREATE SUBSCRIPTION {s}.sub FROM {s}.t "
              "WITH (retention = '3600s')")
    fq = f"{s}.t"
    cl = eng.changelog_name(fq)
    eps = _direct(eng, fq, [("a", 1), ("b", 2)])
    # a crash after writing an epoch's staging directory, before its
    # rename: a complete file under the dot-name
    loc = eng._relation(cl)["loc"]
    staged = max(eps) + 100
    stage = os.path.join(loc, f".rw_timestamp={staged}")
    os.mkdir(stage)
    src = glob.glob(os.path.join(loc, f"rw_timestamp={eps[0]}", "*.parquet"))[0]
    shutil.copy(src, stage)
    eng._epoch_cache.pop(cl, None)  # force a listing
    assert eng._changelog_epochs(cl) == set(eps)
    assert [r[0] for r in _fetch_all(c, s, "sub")] == ["a", "b"]
    assert eng.changelog_table(fq).count() == 2
    restarted = SparkEngine(spark=spark, default_schema=s)
    assert max(eps) <= restarted.current_epoch < staged
    # the epoch is issued again: its publication clears the stale stage
    restarted._epoch = staged - 1
    assert _direct(restarted, fq, [("c", 3)]) == [staged]
    assert not os.path.exists(stage)
    assert [r[0] for r in _fetch_all(c, s, "sub")] == ["a", "b", "c"]
