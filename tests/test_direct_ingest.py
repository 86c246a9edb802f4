"""Direct row-group ingest for small local batches (engine
`insert_rows_local`): the buffered-insert client path lands rows as a
driver-side parquet row-group append + catalog partition commit —
zero Spark jobs — instead of two job dispatches. These tests pin that
the fast path actually engages (file fingerprint), that its rows are
indistinguishable from Spark-written rows for every reader (table,
changelog cursor, MV refresh), and that ineligible shapes fall back.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import uuid

import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine


@pytest.fixture
def conn(spark):
    schema = f"ing_{uuid.uuid4().hex[:8]}"
    current = spark.catalog.currentDatabase()
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    # SparkEngine.sql switches the session to the engine's schema;
    # later tests resolve unqualified names against the current one
    spark.catalog.setCurrentDatabase(current)
    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


def _rwfast_files(eng, fq):
    loc = eng._relation(fq)["loc"]
    return glob.glob(os.path.join(loc, "rwfast-*.parquet"))


def test_insert_row_takes_direct_path_and_reads_back(spark, conn):
    c, eng, schema = conn
    c.execute(
        f"CREATE TABLE {schema}.t "
        f"(k BIGINT, v DOUBLE, s VARCHAR, ts TIMESTAMP)"
    )
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5)
    c.insert_row("t", schema_name=schema, force_flush=True,
                 k=1, v=2.5, s="a", ts=t0)
    c.insert_row("t", schema_name=schema, force_flush=True,
                 k=2, v=None, s=None, ts=None)  # NULL fill survives
    fq = f"{schema}.t"
    # the fast path engaged: rows landed as direct row-group files
    assert len(_rwfast_files(eng, fq)) == 2
    rows = sorted(spark.table(fq).collect(), key=lambda r: r["k"])
    assert [(r["k"], r["v"], r["s"], r["ts"]) for r in rows] == [
        (1, 2.5, "a", t0), (2, None, None, None)
    ]
    # changelog carries the same rows with op + monotone epochs,
    # partition-pruned SINCE reads see exactly the suffix
    cl = eng.changelog_table(fq).orderBy("rw_timestamp").collect()
    assert [r["op"] for r in cl] == ["Insert", "Insert"]
    e1, e2 = (r["rw_timestamp"] for r in cl)
    assert e1 < e2
    since = eng.changelog_table(fq).filter(
        f"rw_timestamp > {e1}"
    ).collect()
    assert len(since) == 1 and since[0]["k"] == 2


def test_direct_rows_feed_mv_refresh(spark, conn):
    c, eng, schema = conn
    c.execute(f"CREATE TABLE {schema}.m (k BIGINT, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {schema}.mv AS "
        f"SELECT count(*) AS n, sum(v) AS s FROM {schema}.m"
    )
    for i in range(3):
        c.insert_row("m", schema_name=schema, force_flush=True,
                     k=i, v=float(i))
    assert c.fetch(f"SELECT n, s FROM {schema}.mv") == [(3, 3.0)]


def test_rename_invalidates_location_cache(spark, conn):
    """ALTER TABLE RENAME moves a managed table's directory; the next
    direct-ingest write must land in the NEW location, not a cached
    stale path."""
    c, eng, schema = conn
    c.execute(f"CREATE TABLE {schema}.r1 (k BIGINT, v DOUBLE)")
    c.insert_row("r1", schema_name=schema, force_flush=True, k=1, v=1.0)
    c.execute(f"ALTER TABLE {schema}.r1 RENAME TO r2")
    c.insert_row("r2", schema_name=schema, force_flush=True, k=2, v=2.0)
    assert sorted(
        (r["k"], r["v"]) for r in spark.table(f"{schema}.r2").collect()
    ) == [(1, 1.0), (2, 2.0)]
    # both rows physically live under the renamed table's directory
    assert len(_rwfast_files(eng, f"{schema}.r2")) == 2


def test_upsert_tables_fall_back_to_spark_path(spark, conn):
    c, eng, schema = conn
    c.execute(
        f"CREATE TABLE {schema}.u (k INT PRIMARY KEY, v INT, ver INT) "
        f"ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver)"
    )
    c.insert_row("u", schema_name=schema, force_flush=True, k=1, v=10, ver=1)
    c.insert_row("u", schema_name=schema, force_flush=True, k=1, v=20, ver=2)
    assert c.fetch(f"SELECT k, v, ver FROM {schema}.u") == [(1, 20, 2)]
    # the upsert LOG was written by Spark jobs, not the direct path
    assert not _rwfast_files(eng, eng.log_name(f"{schema}.u"))


def test_bucketed_tables_fall_back_to_spark_path(spark, conn):
    """A raw rwfast-*.parquet filename in a CLUSTERED BY directory
    breaks Spark's bucketed scan ('Invalid bucket file'); buffered
    inserts into bucketed tables must take the bucket-aware
    insertInto path."""
    c, eng, schema = conn
    c.execute(
        f"CREATE TABLE {schema}.b (k INT, v INT) "
        f"WITH (bucket_by = 'k', buckets = '4')"
    )
    c.insert_row("b", schema_name=schema, force_flush=True, k=1, v=10)
    c.insert_row("b", schema_name=schema, force_flush=True, k=2, v=20)
    assert not _rwfast_files(eng, f"{schema}.b")
    # the bucketed layout is still scannable (a corrupt bucket file
    # would throw here) and a bucket-key aggregation works
    assert c.fetch(
        f"SELECT k, sum(v) AS s FROM {schema}.b GROUP BY k ORDER BY k"
    ) == [(1, 10), (2, 20)]


def test_uncoercible_values_fall_back_with_type_error_parity(spark, conn):
    c, eng, schema = conn
    c.execute(f"CREATE TABLE {schema}.d (k BIGINT, d DECIMAL(10,2))")
    # a float into DECIMAL: pyarrow refuses -> Spark path, which
    # raises the same class of type error createDataFrame always did
    with pytest.raises(Exception):
        c.insert_row("d", schema_name=schema, force_flush=True, k=1, d=1.5)
    # (the failed row stays buffered — reference retry semantics — so
    # the Decimal case uses its own table)
    import decimal

    c.execute(f"CREATE TABLE {schema}.d2 (k BIGINT, d DECIMAL(10,2))")
    c.insert_row("d2", schema_name=schema, force_flush=True,
                 k=2, d=decimal.Decimal("1.50"))
    assert c.fetch(f"SELECT k, CAST(d AS DOUBLE) AS d FROM {schema}.d2") == [
        (2, 1.5)
    ]
    assert len(_rwfast_files(eng, f"{schema}.d2")) == 1
