"""Cross-PROCESS catalog durability via the opt-in persistent-
metastore session mode (session.py build_session(persistent_metastore
=True) / SPARK_GRAFT_METASTORE=derby).

The default engine session uses Spark's in-memory catalog: same-
process restarts restore from the persisted JSON doc, but a NEW
process previously had to replay that doc against a cold catalog.
With the embedded Derby Hive metastore next to the warehouse, table/
view definitions survive the process natively and the doc only
re-attaches the semantics Spark's catalog cannot hold (MV state,
subscriptions, upsert metadata). These tests spawn REAL separate
python processes — the only honest way to test process death.

Reference scope note: the reference SDK delegates all durability to
its server (/root/reference/risingwave/core.py connects over
PG-wire); this mode is the Spark-native equivalent of that server's
persistent catalog. On a cluster, Hive/Glue plays Derby's role.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow


def _run(tmp_path, body: str) -> str:
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {str(__import__('pathlib').Path(__file__).resolve().parents[1])!r})
        os.chdir({str(tmp_path)!r})  # derby.log + relative paths land here
        from risingwave_py_spark.session import build_session
        from risingwave_py_spark.engine import SparkEngine
        from risingwave_py_spark.core import RisingWaveConnection
        import pandas as pd
        spark = build_session(
            "metastore-test", shuffle_partitions=4,
            persistent_metastore=True,
            warehouse_dir={str(tmp_path / "warehouse")!r},
        )
        """
    ) + textwrap.dedent(body)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stdout + "\n" + proc.stderr
    return proc.stdout


def test_engine_catalog_survives_process_restart(tmp_path):
    out_a = _run(tmp_path, """
        conn = RisingWaveConnection(SparkEngine(spark))
        conn.execute("CREATE TABLE ms_t (k INT, v DOUBLE)")
        conn.insert(pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]}),
                    table_name="ms_t", force_flush=True)
        conn.execute("CREATE MATERIALIZED VIEW ms_mv AS "
                     "SELECT count(*) AS n, sum(v) AS s FROM ms_t")
        print("A_ROWS", conn.fetch("SELECT n, s FROM ms_mv"))
        spark.stop()
    """)
    assert "A_ROWS [(2, 4.0)]" in out_a

    # a brand-new PROCESS over the same warehouse: tables and views
    # come back from the Derby metastore, engine semantics (MV
    # registration, epochs) from the catalog doc — and the restored
    # MV keeps refreshing on new DML
    out_b = _run(tmp_path, """
        eng = SparkEngine(spark)
        assert "public.ms_mv" in eng.mvs, sorted(eng.mvs)
        conn = RisingWaveConnection(eng)
        print("B_RESTORED", conn.fetch("SELECT n, s FROM ms_mv"))
        conn.insert(pd.DataFrame({"k": [3], "v": [3.0]}),
                    table_name="ms_t", force_flush=True)
        print("B_AFTER", conn.fetch("SELECT n, s FROM ms_mv"))
        spark.stop()
    """)
    assert "B_RESTORED [(2, 4.0)]" in out_b
    assert "B_AFTER [(3, 7.0)]" in out_b


def test_index_compaction_crash_sweep_under_hive_catalog(tmp_path):
    """The index-store stage-then-swap relies on ``ALTER TABLE …
    RENAME TO``; under the Hive (Derby) catalog a managed-table rename
    MOVES the data directory, which the in-memory-catalog crash sweep
    never exercises. Re-run the full sweep — crash injected at every
    DDL position inside ``_compact`` — in a real persistent-metastore
    process and require identical recovery semantics."""
    out = _run(tmp_path, """
        from pyspark.sql import functions as F
        from risingwave_py_spark.functions import index_store as ixs

        name = "default.__ms_ix__"

        def corpus(ids):
            return spark.createDataFrame(
                [(i, i * 10) for i in ids], "id bigint, v bigint")

        def mk(c):
            def make_rows(new_ids):
                return c.join(new_ids, "id", "left_semi").withColumn(
                    "payload", F.col("v") + 1)
            return make_rows

        def tombed_state():
            c1 = corpus(range(12))
            ixs.refresh_stored_index(spark, name, c1.select("id"), "id", mk(c1))
            c2 = c1.filter(F.col("id") >= 2)
            ixs.refresh_stored_index(spark, name, c2.select("id"), "id", mk(c2))
            assert spark.catalog.tableExists(ixs.tomb_name(name))
            return c2

        class CrashingSpark:
            def __init__(self, real, fail_at):
                self._real, self._n, self._fail_at = real, 0, fail_at
            def __getattr__(self, a):
                return getattr(self._real, a)
            def sql(self, *a, **kw):
                self._n += 1
                if self._n == self._fail_at:
                    raise RuntimeError("injected compaction crash")
                return self._real.sql(*a, **kw)

        def live():
            return sorted(r["id"] for r in
                          ixs.live_index(spark, name, "id").select("id").collect())

        tombed_state()
        probe = CrashingSpark(spark, 0)
        ixs._compact(probe, name, "id")
        n_calls = probe._n
        assert spark.table(name).count() == 10
        ixs.drop_stored_index(spark, name)
        for k in range(1, n_calls + 1):
            c2 = tombed_state()
            try:
                ixs._compact(CrashingSpark(spark, k), name, "id")
            except RuntimeError:
                pass
            ixs.recover_stored_index(spark, name)
            assert live() == list(range(2, 12)), f"crash at {k}"
            ixs.refresh_stored_index(spark, name, c2.select("id"), "id", mk(c2))
            assert live() == list(range(2, 12)), f"crash at {k}"
            if spark.catalog.tableExists(ixs.tomb_name(name)):
                ixs._compact(spark, name, "id")
            assert spark.table(name).count() == 10, f"crash at {k}"
            for remnant in (ixs.tomb_name(name), ixs._stage_name(name),
                            ixs._pre_name(name)):
                assert not spark.catalog.tableExists(remnant), (k, remnant)
            ixs.drop_stored_index(spark, name)
        print("IX_SWEEP_OK", n_calls)
        spark.stop()
    """)
    assert "IX_SWEEP_OK" in out


def test_upsert_log_compaction_under_hive_catalog(tmp_path):
    """Upsert-log compaction uses the same rename-aside swap; drive an
    upsert table past UPSERT_COMPACT_BATCHES flushes in a persistent-
    metastore process and require the log to physically shrink to the
    winner set while the latest-by-version view stays correct."""
    out = _run(tmp_path, """
        eng = SparkEngine(spark)
        conn = RisingWaveConnection(eng)
        conn.execute(
            "CREATE TABLE ms_up (k INT PRIMARY KEY, v INT, ver INT) "
            "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver)")
        n = eng.UPSERT_COMPACT_BATCHES + 1
        for i in range(n):
            conn.insert(pd.DataFrame({"k": [1, 2], "v": [i, i],
                                      "ver": [i, i]}),
                        table_name="ms_up", force_flush=True)
        rows = sorted(conn.fetch("SELECT k, v, ver FROM ms_up"))
        assert rows == [(1, n - 1, n - 1), (2, n - 1, n - 1)], rows
        log_rows = spark.table(eng.log_name("public.ms_up")).count()
        assert log_rows <= 4, log_rows  # winners + post-compact appends
        print("UPSERT_COMPACT_OK", log_rows)
        spark.stop()
    """)
    assert "UPSERT_COMPACT_OK" in out


def test_direct_fast_paths_under_hive_catalog(tmp_path):
    """The round-8/9 driver-side fast paths — direct row-group ingest
    (insert_rows_local), direct cursor FETCH, the no-op MV refresh, and
    the direct MV refresh's SET LOCATION generation swap — all parse
    DESC FORMATTED locations and commit via ADD PARTITION / SET
    LOCATION, which are exactly the semantics a Hive catalog changes.
    Run the core cases of tests/test_direct_ingest.py,
    test_cursor_direct.py and test_direct_mv.py in a REAL Derby
    persistent-metastore process, then restart the process and require
    the swapped MV location plus the whole loop to survive."""
    out_a = _run(tmp_path, """
        import glob, os
        eng = SparkEngine(spark)
        conn = RisingWaveConnection(eng)
        conn.execute("CREATE TABLE ms_ev (k BIGINT, v BIGINT)")
        conn.execute("CREATE MATERIALIZED VIEW ms_agg AS "
                     "SELECT count(*) AS n, sum(v) AS s FROM ms_ev")
        assert eng.mvs["public.ms_agg"].inc_direct is not None
        conn.insert_row("ms_ev", force_flush=True, k=1, v=10)
        # 1) ingest took the direct path (rwfast files on disk)
        loc = eng._relation("public.ms_ev")["loc"]
        assert glob.glob(os.path.join(loc, "rwfast-*.parquet")), loc
        # 2) steady state is Spark-job-free under Hive too
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        conn.insert_row("ms_ev", force_flush=True, k=2, v=20)
        assert tracker.getJobIdsForGroup(None) == before, "jobs dispatched"
        assert eng.mvs["public.ms_agg"].inc_direct is not None
        # 3) direct cursor FETCH delivers both epochs driver-side
        conn.execute("CREATE SUBSCRIPTION ms_sub FROM ms_ev "
                     "WITH (retention = '3600s')")
        conn.execute("DECLARE ms_cur SUBSCRIPTION CURSOR FOR ms_sub SINCE 0")
        cols, rows = eng.fetch_cursor("ms_cur", 100)
        assert [r[:3] for r in rows] == [(1, 10, "Insert"), (2, 20, "Insert")], rows
        # 4) the MV table is being served from a generation dir
        mv_loc = eng._relation("public.ms_agg")["loc"]
        print("MV_LOC_GEN", "__rwgen_" in mv_loc)
        print("A_MV", conn.fetch("SELECT n, s FROM ms_agg"))
        spark.stop()
    """)
    assert "MV_LOC_GEN True" in out_a
    assert "A_MV [(2, 30)]" in out_a

    out_b = _run(tmp_path, """
        eng = SparkEngine(spark)
        conn = RisingWaveConnection(eng)
        # the SET LOCATION swap persisted in Derby: the restored MV
        # reads the generation dir, re-arms, and keeps refreshing
        print("B_RESTORED", conn.fetch("SELECT n, s FROM ms_agg"))
        conn.insert_row("ms_ev", force_flush=True, k=3, v=30)
        print("B_AFTER", conn.fetch("SELECT n, s FROM ms_agg"))
        assert eng.mvs["public.ms_agg"].inc_direct is not None
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        conn.insert_row("ms_ev", force_flush=True, k=4, v=40)
        assert tracker.getJobIdsForGroup(None) == before, "jobs dispatched"
        print("B_FINAL", conn.fetch("SELECT n, s FROM ms_agg"))
        spark.stop()
    """)
    assert "B_RESTORED [(2, 30)]" in out_b
    assert "B_AFTER [(3, 60)]" in out_b
    assert "B_FINAL [(4, 100)]" in out_b
