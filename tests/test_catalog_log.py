"""The engine catalog log: every DDL commits the catalog doc as the
next numbered JSON file under ``<schema dir>/_rw_meta/``, and a new
engine restores the newest complete one (SparkEngine._persist_catalog,
_restore_catalog). A persist makes no JVM call; two engines never
overwrite each other's version; on the in-memory Spark catalog a doc
restores only in the SparkContext that wrote it."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
from pathlib import Path

import pytest

from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine
from conftest import drop_schema


@pytest.fixture
def schema(spark):
    name = f"clog_{uuid.uuid4().hex[:8]}"
    yield name
    drop_schema(spark, name)


def _docs(eng: SparkEngine) -> dict[int, dict]:
    out = {}
    for seq in eng._catalog_versions():
        with open(os.path.join(eng._catalog_dir(), f"{seq}.json")) as f:
            out[seq] = json.load(f)
    return out


class _Jobs:
    """Spark jobs the calling thread launches inside the block, counted
    under a job group of its own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = f"clog_{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.group, "catalog log test")
        return self

    def __exit__(self, *a):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def n(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def test_persist_makes_no_jvm_call(spark, schema, py4j_calls):
    eng = SparkEngine(spark=spark, default_schema=schema)
    RisingWaveConnection(eng).execute(f"CREATE TABLE {schema}.t (k INT)")
    before = eng._catalog_versions()
    py4j_calls.start()
    eng._persist_catalog()
    py4j_calls.stop()
    assert py4j_calls.n == 0, py4j_calls.methods
    after = eng._catalog_versions()
    assert after[-1] == before[-1] + 1
    assert len(after) == SparkEngine._CATALOG_VERSIONS_KEPT


def test_subscription_ddl_and_restoring_init_run_no_jobs(spark, schema):
    conn = RisingWaveConnection(SparkEngine(spark=spark, default_schema=schema))
    conn.execute(f"CREATE TABLE {schema}.t (k INT, v DOUBLE)")
    conn.execute(f"INSERT INTO {schema}.t VALUES (1, 2.0)")
    conn.execute(f"CREATE MATERIALIZED VIEW {schema}.m AS "
                 f"SELECT k, sum(v) AS s FROM {schema}.t GROUP BY k")
    with _Jobs(spark) as jobs:
        conn.execute(f"CREATE SUBSCRIPTION {schema}.sub FROM {schema}.t "
                     f"WITH (retention = '3600s')")
    assert jobs.n == 0
    with _Jobs(spark) as jobs:
        e2 = SparkEngine(spark=spark, default_schema=schema)
    assert jobs.n == 0
    assert f"{schema}.m" in e2.mvs and f"{schema}.sub" in e2.subscriptions


def test_alternating_engines_never_lose_each_others_last_write(spark, schema):
    e1 = SparkEngine(spark=spark, default_schema=schema)
    e2 = SparkEngine(spark=spark, default_schema=schema)
    e1.subscriptions["mark"] = {"rel": "e1"}
    e2.subscriptions["mark"] = {"rel": "e2"}

    def writers():
        return [d["subscriptions"]["mark"]["rel"] for _, d in sorted(_docs(e1).items())]

    for _ in range(3):
        e1._persist_catalog()
        e2._persist_catalog()
        assert writers() == ["e1", "e2"]
        e2._persist_catalog()
        e1._persist_catalog()
        assert writers() == ["e2", "e1"]

    # A race: e2 lists the log before e1's write lands, so both pick
    # the same next version. Exclusive create moves e2 to the one
    # after it instead of overwriting e1's.
    stale = e2._catalog_versions()
    e2._catalog_versions = lambda: list(stale)
    e1._persist_catalog()
    e1_last = e1._catalog_versions()[-1]
    e2._persist_catalog()
    del e2._catalog_versions
    assert e1._catalog_versions() == [e1_last, e1_last + 1]
    assert writers() == ["e1", "e2"], "e2 overwrote e1's last version"
    assert SparkEngine(spark=spark, default_schema=schema) \
        .subscriptions["mark"] == {"rel": "e2"}, "the last writer wins"


def test_a_doc_from_another_spark_context_is_debris(spark, schema):
    """On the in-memory catalog a doc stamped by another SparkContext
    names tables that died with that context's catalog: it restores
    nothing and its log is cleared."""
    eng = SparkEngine(spark=spark, default_schema=schema)
    eng.subscriptions[f"{schema}.sub"] = {"rel": f"{schema}.t", "retention_s": 60}
    eng._persist_catalog()
    path = os.path.join(eng._catalog_dir(), f"{eng._catalog_versions()[-1]}.json")
    with open(path) as f:
        doc = json.load(f)
    assert doc["app"] == spark.sparkContext.applicationId
    doc["app"] = "local-0-dead"
    with open(path, "w") as f:
        json.dump(doc, f)
    e2 = SparkEngine(spark=spark, default_schema=schema)
    assert e2.subscriptions == {}
    assert e2._catalog_versions() == []


def test_log_lives_in_the_default_databases_own_directory(spark):
    """Spark's `default` database is the warehouse directory itself,
    not <warehouse>/default.db: the log goes where the schema is."""
    import shutil

    loc = spark._jsparkSession.sessionState().catalog() \
        .getDatabaseMetadata("default").locationUri().getPath()
    eng = SparkEngine(spark=spark, default_schema="default")
    try:
        eng.subscriptions["mark"] = {"rel": "default"}
        eng._persist_catalog()
        assert eng._catalog_dir() == os.path.join(loc, "_rw_meta")
        assert SparkEngine(spark=spark, default_schema="default") \
            .subscriptions["mark"] == {"rel": "default"}
    finally:
        shutil.rmtree(eng._catalog_dir(), ignore_errors=True)


def _run(tmp_path: Path, body: str) -> str:
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
        from risingwave_py_spark.session import build_session
        from risingwave_py_spark.engine import SparkEngine
        from risingwave_py_spark.core import RisingWaveConnection
        spark = build_session(
            "catalog-log-test", shuffle_partitions=2,
            warehouse_dir={str(tmp_path / "warehouse")!r},
        )
        assert spark.conf.get("spark.sql.catalogImplementation") == "in-memory"
        conn = RisingWaveConnection(SparkEngine(spark))
        """
    ) + textwrap.dedent(body) + "\nspark.stop()\n"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout + "\n" + proc.stderr
    return proc.stdout


DDL = """
conn.execute("CREATE TABLE t (k INT, v DOUBLE)")
conn.execute("INSERT INTO t VALUES (1, 1.5)")
conn.execute("CREATE MATERIALIZED VIEW m AS SELECT k, sum(v) AS s FROM t GROUP BY k")
conn.execute("CREATE SUBSCRIPTION sub FROM t WITH (retention = '3600s')")
conn.execute("FLUSH")
print("ROWS", conn.fetch("SELECT k, s FROM m"))
"""


def test_new_process_on_in_memory_catalog_restores_nothing(tmp_path):
    """Parity with Spark's in-memory catalog: a second process over the
    same warehouse sees none of the first one's tables, so it restores
    none of its engine objects either, and can create the same names."""
    out = _run(tmp_path, DDL)
    assert "ROWS [(1, 1.5)]" in out
    out = _run(tmp_path, """
eng = conn.engine
print("RESTORED", sorted(eng.mvs), sorted(eng.subscriptions))
""" + DDL)
    assert "RESTORED [] []" in out
    assert "ROWS [(1, 1.5)]" in out
