"""Driver-side cursor FETCH (engine `_fetch_cursor_direct`): epoch
partitions from the catalog, rows via pyarrow — zero Spark jobs per
poll. These tests pin exact value/ordering parity with the Spark read
path over mixed DML (insert fast path, SQL INSERT, UPDATE retraction
pairs, DELETE), type fidelity (timestamps, decimals, NULLs), the
whole-epoch batching rule, and SINCE resume.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from conftest import drop_schema


@pytest.fixture
def conn(spark):
    schema = f"cur_{uuid.uuid4().hex[:8]}"
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    drop_schema(spark, schema)


def _mixed_dml(c, schema):
    c.execute(
        f"CREATE TABLE {schema}.t "
        f"(k BIGINT, v DOUBLE, s VARCHAR, ts TIMESTAMP)"
    )
    # epoch 1: direct-ingest fast path
    c.insert_row("t", schema_name=schema, force_flush=True,
                 k=1, v=1.5, s="a", ts=dt.datetime(2024, 1, 1, 0, 0, 1))
    # epoch 2: SQL INSERT (Spark write path)
    c.execute(f"INSERT INTO {schema}.t VALUES "
              f"(2, 2.5, NULL, TIMESTAMP '2024-01-01 00:00:02')")
    # epoch 3: UPDATE — UpdateDelete + UpdateInsert in ONE epoch
    c.execute(f"UPDATE {schema}.t SET v = 9.5 WHERE k = 1")
    # epoch 4: DELETE
    c.execute(f"DELETE FROM {schema}.t WHERE k = 2")


def _fetch_all(c, eng, schema, name, n, force_spark=False):
    c.execute(f"CREATE SUBSCRIPTION {schema}.{name}_sub "
              f"FROM {schema}.t WITH (retention = '3600s')")
    c.execute(f"DECLARE {schema}.{name} SUBSCRIPTION CURSOR FOR "
              f"{schema}.{name}_sub SINCE 0")
    if force_spark:
        orig = eng._fetch_cursor_direct
        eng._fetch_cursor_direct = lambda *a, **kw: None
    try:
        batches = []
        while True:
            cols, rows = eng.fetch_cursor(f"{schema}.{name}", n)
            if not rows:
                break
            batches.append((cols, rows))
        return batches
    finally:
        if force_spark:
            eng._fetch_cursor_direct = orig


def test_direct_fetch_matches_spark_fetch_exactly(spark, conn):
    c, eng, schema = conn
    _mixed_dml(c, schema)
    direct = _fetch_all(c, eng, schema, "cd", 100)
    fallback = _fetch_all(c, eng, schema, "cs", 100, force_spark=True)
    assert len(direct) == len(fallback) == 1
    dcols, drows = direct[0]
    scols, srows = fallback[0]
    assert dcols == scols
    # within-epoch row order is unspecified on both paths — compare
    # as sorted multisets, which also pins exact value types (a
    # datetime-vs-string or Decimal-vs-float divergence breaks this)
    assert sorted(map(repr, drows)) == sorted(map(repr, srows))
    assert {r[-2] for r in drows} == {
        "Insert", "UpdateDelete", "UpdateInsert", "Delete"
    }


def test_whole_epoch_batching_and_since_resume(spark, conn):
    c, eng, schema = conn
    _mixed_dml(c, schema)
    # n=1: each FETCH delivers exactly one whole epoch (epoch 3 holds
    # the 2-row retraction pair and must not split)
    batches = _fetch_all(c, eng, schema, "cb", 1)
    sizes = [len(rows) for _, rows in batches]
    assert sizes == [1, 1, 2, 1]
    epochs = [
        sorted({r[-1] for r in rows}) for _, rows in batches
    ]
    assert all(len(e) == 1 for e in epochs)
    # SINCE resumes STRICTLY AFTER the given epoch (declare_cursor
    # contract): position just before the retraction epoch, so only it
    # and the delete arrive
    e3 = epochs[2][0]
    c.execute(f"DECLARE {schema}.cr SUBSCRIPTION CURSOR FOR "
              f"{schema}.cb_sub SINCE {e3 - 1}")
    cols, rows = eng.fetch_cursor(f"{schema}.cr", 100)
    assert sorted({r[-1] for r in rows}) == [e3, epochs[3][0]]


def test_idle_poll_runs_no_spark_job(spark, conn):
    c, eng, schema = conn
    _mixed_dml(c, schema)
    c.execute(f"CREATE SUBSCRIPTION {schema}.iz_sub FROM {schema}.t "
              f"WITH (retention = '3600s')")
    c.execute(f"DECLARE {schema}.iz SUBSCRIPTION CURSOR FOR "
              f"{schema}.iz_sub SINCE 0")
    eng.fetch_cursor(f"{schema}.iz", 1000)  # drain
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    cols, rows = eng.fetch_cursor(f"{schema}.iz", 1000)  # idle poll
    assert rows == []
    assert tracker.getJobIdsForGroup(None) == before
