"""One arm path for incremental MVs (SparkEngine._arm): CREATE
MATERIALIZED VIEW and the re-arm after an engine restart pick the same
plan for every shape, and the MV stays exact across both — equal to a
fresh recompute, and equal to a replay of its own changelog. An upsert
base blocks the MV at creation, for good. Refreshes leave the
session's current database as the caller set it."""

from __future__ import annotations

import shutil
import uuid

import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from tests.test_relation_records import _assert_consistent, _bag

# shape attribute -> (table DDL, seed rows, MV SQL, rows inserted
# after the restart); one base table ``t`` unless the DDL says more
T_DDL = ["t (k STRING, v BIGINT)"]
T_ROWS = {"t": "('a', 1), ('a', 2), ('b', 3), ('c', 4)"}
T_MORE = {"t": "('a', 5), ('d', 6)"}
J_DDL = ["a (id BIGINT, x BIGINT)", "b (id BIGINT, y STRING)"]
J_ROWS = {"a": "(1, 10), (2, 20), (3, 30)", "b": "(1, 'p'), (2, 'q')"}
J_MORE = {"a": "(3, 31), (1, 11)", "b": "(3, 'p')"}
CASES = {
    "inc": (T_DDL, T_ROWS,
            "SELECT k, sum(v) AS s, count(*) AS n FROM t GROUP BY k", T_MORE),
    "inc_direct": (T_DDL, T_ROWS,
                   "SELECT count(*) AS n, sum(v) AS s FROM t", T_MORE),
    "inc_topn": (T_DDL, T_ROWS,
                 "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
                 "(PARTITION BY k ORDER BY v DESC) AS rnk FROM t) "
                 "WHERE rnk <= 1", T_MORE),
    "inc_join": (J_DDL, J_ROWS,
                 "SELECT a.id AS id, a.x AS x, b.y AS y "
                 "FROM a a JOIN b b ON a.id = b.id", J_MORE),
    "inc_joinagg": (J_DDL, J_ROWS,
                    "SELECT b.y AS y, sum(a.x) AS s "
                    "FROM a a JOIN b b ON a.id = b.id GROUP BY b.y", J_MORE),
    "inc_join_nway": (
        J_DDL + ["c (y STRING, z BIGINT)"],
        {**J_ROWS, "c": "('p', 7), ('q', 8)"},
        "SELECT a.id AS id, a.x AS x, b.y AS y, c.z AS z FROM a a "
        "JOIN b b ON a.id = b.id JOIN c c ON b.y = c.y", J_MORE),
    "inc_session": (
        ["ev (ts TIMESTAMP, uid BIGINT, v BIGINT)"],
        {"ev": "(TIMESTAMP '2024-01-01 00:00:00', 1, 1), "
               "(TIMESTAMP '2024-01-01 00:05:00', 1, 2), "
               "(TIMESTAMP '2024-01-01 01:00:00', 2, 3)"},
        "SELECT uid, session_window.start AS s_start, "
        "session_window.end AS s_end, count(*) AS n, sum(v) AS sv "
        "FROM ev GROUP BY session_window(ts, '20 minutes'), uid",
        {"ev": "(TIMESTAMP '2024-01-01 00:15:00', 1, 4), "
               "(TIMESTAMP '2024-01-01 03:00:00', 2, 5)"}),
    "inc_union": (J_DDL, J_ROWS,
                  "SELECT id, x AS n FROM a WHERE x > 10 "
                  "UNION ALL SELECT id, id * 100 FROM b", J_MORE),
    "inc_distinct": (T_DDL, T_ROWS,
                     "SELECT DISTINCT k AS k FROM t WHERE v > 1", T_MORE),
}


@pytest.fixture
def schema(spark):
    name = f"arm_{uuid.uuid4().hex[:8]}"
    current = spark.catalog.currentDatabase()
    yield name
    # SparkEngine.sql (INSERT ... VALUES) switches to the engine's schema
    spark.catalog.setCurrentDatabase(current)
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/{name}.db", ignore_errors=True)


def _insert(conn: RisingWaveConnection, schema: str, rows: dict) -> None:
    for tbl, values in rows.items():
        conn.execute(f"INSERT INTO {schema}.{tbl} VALUES {values}")
    conn.execute("FLUSH")


@pytest.mark.parametrize("attr", list(CASES))
def test_create_and_restart_arm_the_same_plan(spark, schema, attr):
    ddl, seed, stmt, more = CASES[attr]
    eng = SparkEngine(spark=spark, default_schema=schema)
    conn = RisingWaveConnection(eng)
    for d in ddl:
        conn.execute(f"CREATE TABLE {schema}.{d}")
    _insert(conn, schema, seed)
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS {stmt}")
    fq = f"{schema}.m"
    assert getattr(eng.mvs[fq], attr) is not None, f"create must arm {attr}"
    initial = _bag(spark.table(fq).collect())

    eng2 = SparkEngine(spark=spark, default_schema=schema)
    st = eng2.mvs[fq]
    assert getattr(st, attr) is None and not st.fastpath_blocked
    _insert(RisingWaveConnection(eng2), schema, more)
    assert getattr(st, attr) is not None, f"restart must re-arm {attr}"
    _assert_consistent(eng2, fq, stmt, initial)


def test_upsert_base_blocks_at_create_and_never_rearms(spark, schema,
                                                       monkeypatch):
    eng = SparkEngine(spark=spark, default_schema=schema)
    conn = RisingWaveConnection(eng)
    conn.execute(
        f"CREATE TABLE {schema}.u (k STRING PRIMARY KEY, v BIGINT) "
        "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(v)"
    )
    _insert(conn, schema, {"u": "('a', 1), ('b', 2)"})
    stmt = f"SELECT k, sum(v) AS s FROM {schema}.u GROUP BY k"
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS {stmt}")
    st = eng.mvs[f"{schema}.m"]
    assert st.fastpath_blocked and st.inc is None and st.inc_direct is None
    initial = _bag(spark.table(f"{schema}.m").collect())

    def arm(state):
        raise AssertionError(f"_arm called for blocked {state.fq}")

    monkeypatch.setattr(eng, "_arm", arm)
    _insert(conn, schema, {"u": "('a', 5), ('c', 3)"})
    _insert(conn, schema, {"u": "('b', 9)"})
    _assert_consistent(eng, f"{schema}.m", stmt, initial)


def test_spark_path_refresh_keeps_the_callers_database(spark, schema):
    eng = SparkEngine(spark=spark, default_schema=schema)
    conn = RisingWaveConnection(eng)
    conn.execute(f"CREATE TABLE {schema}.t (k STRING, v BIGINT)")
    _insert(conn, schema, {"t": "('a', 1), ('b', 2)"})
    other = f"{schema}_other"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {other}")
    before = spark.catalog.currentDatabase()
    try:
        spark.catalog.setCurrentDatabase(other)
        eng.create_mv("m", "SELECT k, sum(v) AS s FROM t GROUP BY k")
        assert spark.catalog.currentDatabase() == other
        eng.mvs[f"{schema}.m"].inc_direct = None  # force the Spark path
        eng.update_rows("t", [("v", "7")], "k = 'a'")
        eng.flush()
        assert spark.catalog.currentDatabase() == other
        assert sorted(spark.table(f"{schema}.m").collect()) == [
            ("a", 7), ("b", 2)]
        # a caller's database dropped while current: nothing to return to
        spark.sql(f"DROP DATABASE {other} CASCADE")
        eng.update_rows("t", [("v", "8")], "k = 'a'")
        eng.flush()
        assert spark.catalog.currentDatabase() == schema
    finally:
        spark.catalog.setCurrentDatabase(before)
        spark.sql(f"DROP DATABASE IF EXISTS {other} CASCADE")


def test_overlapping_refresh_scopes_restore_the_database_once(spark, schema):
    """Concurrent refreshes overlap their default-schema blocks: each
    block sees the engine's schema throughout, and the caller's
    database comes back only when the last block ends."""
    import sys
    import threading

    eng = SparkEngine(spark=spark, default_schema=schema)
    before = spark.catalog.currentDatabase()
    seen: list[str] = []
    errors: list[BaseException] = []

    def worker():
        try:
            for _ in range(25):
                with eng._in_default_schema():
                    seen.append(spark.catalog.currentDatabase())
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert seen == [schema] * 200
    assert spark.catalog.currentDatabase() == before
