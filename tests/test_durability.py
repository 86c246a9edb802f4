"""Engine-catalog durability: a NEW engine over the same warehouse
restores MVs, upsert tables, subscriptions, UDFs, and the epoch
high-water mark — the reference server's persistent-catalog contract
(previously everything but plain tables died with the engine object)."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow


from risingwave_py_spark import RisingWave
from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine


def test_catalog_survives_engine_restart(spark):
    tag = uuid.uuid4().hex[:8]
    t, mv, sub = f"dur_t_{tag}", f"dur_mv_{tag}", f"dur_sub_{tag}"
    rw1 = RisingWave(spark=spark)
    rw1.insert(pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0]}),
               table_name=t, force_flush=True)
    rw1.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                f"SELECT k, sum(v) AS s FROM {t} GROUP BY k")
    rw1.execute(f"CREATE SUBSCRIPTION {sub} FROM {mv} WITH (retention = '3600s')")
    rw1.execute("CREATE FUNCTION dur_double(x INT) RETURNS INT LANGUAGE python AS "
                "$$def dur_double(x):\n    return x * 2$$")
    epoch_before = rw1.engine._epoch
    assert epoch_before > 0

    # A brand-new engine over the same warehouse (simulated restart).
    e2 = SparkEngine(spark)
    fq_mv = f"public.{mv}"
    assert fq_mv in e2.mvs and "GROUP BY" in e2.mvs[fq_mv].stmt.upper()
    assert f"public.{sub}" in e2.subscriptions
    assert "dur_double" in e2.udfs
    assert e2._epoch >= epoch_before  # epochs never repeat

    # The restored engine keeps maintaining the MV.
    rw2 = RisingWaveConnection(e2)
    rw2.insert(pd.DataFrame({"k": [2], "v": [7.0]}), table_name=t,
               force_flush=True)
    got = {r[0]: r[1] for r in spark.table(fq_mv).collect()}
    assert got == {1: 3.0, 2: 10.0}

    # restored UDF is callable
    assert e2.sql("SELECT dur_double(21) AS x").collect()[0][0] == 42

    e2.drop_subscription(sub)
    e2.drop_mv(mv)
    e2.drop_table(t)

    # a third engine sees the drops (catalog doc was rewritten)
    e3 = SparkEngine(spark)
    assert fq_mv not in e3.mvs and f"public.{sub}" not in e3.subscriptions


def test_upsert_table_survives_restart(spark):
    tag = uuid.uuid4().hex[:8]
    t = f"dur_up_{tag}"
    rw1 = RisingWave(spark=spark)
    rw1.execute(
        f"CREATE TABLE {t} (k INT PRIMARY KEY, v VARCHAR, ver BIGINT) "
        f"ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver)"
    )
    rw1.execute(f"INSERT INTO {t} (k, v, ver) VALUES (1, 'a', 1)")

    e2 = SparkEngine(spark)
    fq = f"public.{t}"
    assert fq in e2.upsert_meta and e2.upsert_meta[fq]["version_col"] == "ver"
    rw2 = RisingWaveConnection(e2)
    rw2.execute(f"INSERT INTO {t} (k, v, ver) VALUES (1, 'b', 5)")
    rw2.execute(f"INSERT INTO {t} (k, v, ver) VALUES (1, 'stale', 2)")
    assert rw2.fetch(f"SELECT * FROM {t}") == [(1, "b", 5)]
    e2.drop_table(t)


def test_sink_and_udf_drop_survive_restart(spark, tmp_path):
    """Review regressions: a restored sink keeps its writer options
    (flush works after restart), and a DROPPED function must NOT
    resurrect on restore."""
    import pandas as pd

    tag = uuid.uuid4().hex[:8]
    t, sink = f"dur_st_{tag}", f"dur_sk_{tag}"
    out = str(tmp_path / "sinkout")
    rw1 = RisingWave(spark=spark)
    rw1.insert(pd.DataFrame({"k": [1]}), table_name=t, force_flush=True)
    rw1.execute(f"CREATE SINK {sink} FROM {t} WITH (connector='filesystem', "
                f"path='{out}', format='parquet')")
    rw1.execute("CREATE FUNCTION dur_gone(x INT) RETURNS INT LANGUAGE python AS "
                "$$def dur_gone(x):\n    return x$$")
    rw1.execute("DROP FUNCTION dur_gone")

    e2 = SparkEngine(spark)
    assert "dur_gone" not in e2.udfs  # dropped UDF stays dropped
    fq = f"public.{sink}"
    assert fq in e2.sinks and isinstance(e2.sinks[fq].get("opts"), dict)
    # restored sink still forwards new epochs on flush
    rw2 = RisingWaveConnection(e2)
    rw2.insert(pd.DataFrame({"k": [2]}), table_name=t, force_flush=True)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert 2 in got
    e2.drop_sink(sink)
    e2.drop_table(t)


def test_epoch_recovery_covers_all_schemas(spark):
    """Epochs written only to a non-default schema's changelog must
    still floor the restored counter. The guarantee is collision
    freedom with DELIVERED rows: the restored counter must be at
    least the highest rw_timestamp in ANY schema's changelog (the
    in-memory counter itself may sit higher after zero-row epochs,
    which stamp nothing — documented as benign)."""
    import pandas as pd
    from pyspark.sql import functions as F

    tag = uuid.uuid4().hex[:8]
    sch = f"dur_s2_{tag}"
    rw1 = RisingWave(spark=spark)
    rw1.execute(f"CREATE SCHEMA {sch}")
    rw1.insert(pd.DataFrame({"k": [1, 2]}), table_name="t",
               schema_name=sch, force_flush=True)
    hiwater = (
        rw1.engine.changelog_table(f"{sch}.t")
        .agg(F.max("rw_timestamp"))
        .first()[0]
    )
    assert hiwater and hiwater > 0
    e2 = SparkEngine(spark)
    assert e2._epoch >= hiwater
    e2.drop_table(f"{sch}.t")
    rw1.execute(f"DROP SCHEMA {sch}")


def test_epoch_wall_times_survive_restart(spark):
    """Epoch→wall-time stamps persist with the catalog: after an engine
    restart, PRE-restart epochs still age out of a retention window on
    schedule (previously their age was unknown forever, so they were
    never vacuumed)."""
    tag = uuid.uuid4().hex[:8]
    t, sub = f"durw_t_{tag}", f"durw_s_{tag}"
    rw1 = RisingWave(spark=spark)
    eng1 = rw1.engine
    for batch in ([1], [2]):
        rw1.insert(pd.DataFrame({"k": batch}), table_name=t, force_flush=True)
    rw1.execute(f"CREATE SUBSCRIPTION {sub} FROM {t} WITH (retention = '60s')")
    eng1.declare_cursor("durw_probe", sub, since=0)
    _, rows = eng1.fetch_cursor("durw_probe", 100)
    epochs = [r[-1] for r in rows]
    assert len(epochs) == 2
    # age both epochs past the window, then persist (any DDL persists;
    # do it explicitly to model 'stamps written before the crash')
    for e in epochs:
        eng1.epoch_wall[e] -= 3600
    eng1._persist_catalog()

    e2 = SparkEngine(spark)  # restart
    assert all(e in e2.epoch_wall for e in epochs), "stamps not restored"
    e2.vacuum_changelogs()
    e2.declare_cursor("durw_cur", sub, since=0)
    _, rows2 = e2.fetch_cursor("durw_cur", 100)
    assert rows2 == [], "pre-restart epochs must vacuum on schedule"
    e2.drop_subscription(sub)
    e2.drop_table(t)


def test_fast_paths_rearm_after_restart(spark):
    """After an engine restart the IVM plans are gone (MVState
    restores with inc/inc_join/inc_joinagg = None). The FIRST refresh
    re-arms them from a freshly pinned induction base
    (SparkEngine._arm, the same path CREATE MATERIALIZED VIEW takes);
    subsequent flushes — DML included — run incrementally and stay
    exact."""
    tag = uuid.uuid4().hex[:8]
    t, f_, d = f"ra_t_{tag}", f"ra_f_{tag}", f"ra_d_{tag}"
    agg_mv, join_mv, ja_mv = f"ra_am_{tag}", f"ra_jm_{tag}", f"ra_jam_{tag}"
    rw1 = RisingWave(spark=spark)
    rw1.insert(pd.DataFrame({"p": ["a", "b"], "v": [1, 2]}),
               table_name=t, force_flush=True)
    rw1.insert(pd.DataFrame({"uid": [1, 2], "qty": [3, 5]}),
               table_name=f_, force_flush=True)
    rw1.insert(pd.DataFrame({"uid": [1], "region": ["na"]}),
               table_name=d, force_flush=True)
    rw1.execute(f"CREATE MATERIALIZED VIEW {agg_mv} AS "
                f"SELECT p, sum(v) AS total, count(*) AS n FROM {t} GROUP BY p")
    rw1.execute(f"CREATE MATERIALIZED VIEW {join_mv} AS "
                f"SELECT f.uid AS uid, d.region AS region, f.qty AS qty "
                f"FROM {f_} f LEFT JOIN {d} d ON f.uid = d.uid")
    rw1.execute(f"CREATE MATERIALIZED VIEW {ja_mv} AS "
                f"SELECT d.region AS region, sum(f.qty) AS total "
                f"FROM {f_} f JOIN {d} d ON f.uid = d.uid GROUP BY d.region")
    for mv in (agg_mv, join_mv, ja_mv):
        st = rw1.engine.mvs[f"public.{mv}"]
        assert (st.inc, st.inc_join, st.inc_joinagg) != (None, None, None)

    e2 = SparkEngine(spark)
    conn2 = RisingWaveConnection(e2)
    states = {mv: e2.mvs[f"public.{mv}"] for mv in (agg_mv, join_mv, ja_mv)}
    for st in states.values():
        assert st.inc is None and st.inc_join is None and st.inc_joinagg is None
        assert not st.fastpath_blocked

    # First refresh after restart: snapshot-diff publishes, then the
    # fast path re-arms with a pinned watermark.
    conn2.insert(pd.DataFrame({"p": ["a"], "v": [7]}),
                 table_name=t, force_flush=True)
    conn2.insert(pd.DataFrame({"uid": [2], "region": ["eu"]}),
                 table_name=d, force_flush=True)
    assert states[agg_mv].inc is not None, "agg MV must re-arm"
    assert states[join_mv].inc_join is not None, "join MV must re-arm"
    assert states[ja_mv].inc_joinagg is not None, "join-agg MV must re-arm"

    # DML now runs on the retraction-capable fast paths and stays exact.
    conn2.execute(f"UPDATE {t} SET v = 9 WHERE p = 'b'")
    conn2.execute(f"DELETE FROM {d} WHERE region = 'na'")
    conn2.execute("FLUSH")
    assert states[agg_mv].inc is not None
    assert states[join_mv].inc_join is not None
    assert states[ja_mv].inc_joinagg is not None
    assert sorted(conn2._dispatch(f"SELECT * FROM {agg_mv}")[1]) == sorted(
        conn2._dispatch(
            f"SELECT p, sum(v) AS total, count(*) AS n FROM {t} GROUP BY p"
        )[1]
    )
    assert sorted(conn2._dispatch(f"SELECT * FROM {join_mv}")[1], key=str) == sorted(
        conn2._dispatch(
            f"SELECT f.uid AS uid, d.region AS region, f.qty AS qty "
            f"FROM {f_} f LEFT JOIN {d} d ON f.uid = d.uid"
        )[1],
        key=str,
    )
    assert sorted(conn2._dispatch(f"SELECT * FROM {ja_mv}")[1]) == sorted(
        conn2._dispatch(
            f"SELECT d.region AS region, sum(f.qty) AS total "
            f"FROM {f_} f JOIN {d} d ON f.uid = d.uid GROUP BY d.region"
        )[1]
    )

    # avg re-arms as the RECOMPUTE-ONLY plan since round 10; a
    # genuinely ineligible shape (order-dependent aggregate) blocks
    # after ONE probe, not retrying forever.
    avg_mv = f"ra_avg_{tag}"
    rw1.execute(f"CREATE MATERIALIZED VIEW {avg_mv} AS "
                f"SELECT p, avg(v) AS av FROM {t} GROUP BY p")
    blk_mv = f"ra_blk_{tag}"
    rw1.execute(f"CREATE MATERIALIZED VIEW {blk_mv} AS "
                f"SELECT p, first(v) AS fv FROM {t} GROUP BY p")
    e3 = SparkEngine(spark)
    conn3 = RisingWaveConnection(e3)
    st_avg = e3.mvs[f"public.{avg_mv}"]
    st_blk = e3.mvs[f"public.{blk_mv}"]
    conn3.insert(pd.DataFrame({"p": ["c"], "v": [4]}),
                 table_name=t, force_flush=True)
    assert st_avg.inc is not None and st_avg.inc.get("recompute_only")
    assert sorted(conn3._dispatch(f"SELECT * FROM {avg_mv}")[1]) == sorted(
        conn3._dispatch(f"SELECT p, avg(v) AS av FROM {t} GROUP BY p")[1]
    )
    assert st_blk.inc is None and st_blk.fastpath_blocked
    for mv in (agg_mv, join_mv, ja_mv, avg_mv, blk_mv):
        conn3.execute(f"DROP MATERIALIZED VIEW IF EXISTS {mv}")
    for tb in (t, f_, d):
        conn3.execute(f"DROP TABLE IF EXISTS {tb}")


def test_restore_prefers_newest_doc_after_crash_mid_swap(spark):
    """Crash in the persist drop→rename window with an OLDER foreign
    stage present: the restore must pick the highest-stamped readable
    doc — never whatever listTables yields first — GC the stale stage,
    and re-commit the recovered doc to the live catalog."""
    import json

    from pyspark.sql import functions as F  # noqa: F401

    tag = uuid.uuid4().hex[:8]
    t, mv = f"durc_t_{tag}", f"durc_mv_{tag}"
    rw1 = RisingWave(spark=spark)
    rw1.insert(pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}), table_name=t,
               force_flush=True)
    rw1.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                f"SELECT k, sum(v) AS s FROM {t} GROUP BY k")
    eng1 = rw1.engine
    cat = eng1._catalog_fq()

    # A long-dead engine's leftover stage: a low-stamp doc that lacks
    # the MV created above. Before the stamped-selection fix, restore
    # could pick this one and silently roll the catalog back.
    stale = json.loads(spark.table(cat).first()[0])
    stale["persist_seq"] = 1
    stale["mvs"] = {}
    spark.createDataFrame([(json.dumps(stale),)], "doc string") \
        .write.format("parquet").saveAsTable(f"{cat}stage_deadbeef__")

    # Simulate the crash mid-swap: the live catalog is gone and the
    # newest doc lives ONLY in the crashing engine's stage.
    crashed = f"{cat}stage_feedface__"
    spark.sql(f"ALTER TABLE {cat} RENAME TO {crashed}")

    e2 = SparkEngine(spark)
    assert f"public.{mv}" in e2.mvs, "newest (staged) doc must win restore"
    assert spark.catalog.tableExists(cat), "recovered doc re-committed"
    assert not spark.catalog.tableExists(f"{cat}stage_deadbeef__"), \
        "superseded foreign stage must be GC'd"
    assert not spark.catalog.tableExists(crashed), \
        "crashed stage must be GC'd once the doc is re-committed"
    # the restored engine still maintains the MV
    conn2 = RisingWaveConnection(e2)
    conn2.insert(pd.DataFrame({"k": [2], "v": [5.0]}), table_name=t,
                 force_flush=True)
    got = {r[0]: r[1] for r in spark.table(f"public.{mv}").collect()}
    assert got == {1: 1.0, 2: 7.0}
    e2.drop_mv(mv)
    e2.drop_table(t)


def test_epoch_wall_pruned_at_vacuum(spark):
    """Stamps at/below every subscribed changelog's vacuum floor are
    dropped at vacuum time (previously the map — re-persisted after
    every DDL — grew one entry per flush forever), and pre-floor
    epochs still never resurrect through a SINCE-0 cursor."""
    tag = uuid.uuid4().hex[:8]
    t, sub = f"durp_t_{tag}", f"durp_s_{tag}"
    rw = RisingWave(spark=spark)
    eng = rw.engine
    for batch in ([1], [2], [3]):
        rw.insert(pd.DataFrame({"k": batch}), table_name=t, force_flush=True)
    rw.execute(f"CREATE SUBSCRIPTION {sub} FROM {t} WITH (retention = '60s')")
    cl = eng.changelog_name(f"public.{t}")
    epochs = sorted(
        r[0] for r in
        spark.table(cl).select("rw_timestamp").distinct().collect()
    )
    assert len(epochs) == 3
    n_before = len(eng.epoch_wall)
    for e in epochs[:2]:  # age the first two epochs past the window
        eng.epoch_wall[e] -= 3600
    # Restrict the engine to THIS test's subscription so leftover
    # subscriptions from other tests (floor 0) can't hold the prune
    # floor down; restored afterwards.
    saved_subs = dict(eng.subscriptions)
    eng.subscriptions = {
        k: v for k, v in saved_subs.items() if k == f"public.{sub}"
    }
    try:
        eng.vacuum_changelogs()
    finally:
        eng.subscriptions = saved_subs
    floor = eng.vacuum_floor[cl]
    assert floor >= epochs[1]
    assert all(e > floor for e in eng.epoch_wall), \
        "stamps at/below the floor must be pruned"
    assert len(eng.epoch_wall) < n_before
    assert epochs[2] in eng.epoch_wall, "live epoch keeps its stamp"
    # pre-floor epochs never resurrect
    eng.declare_cursor("durp_cur", sub, since=0)
    _, rows = eng.fetch_cursor("durp_cur", 100)
    assert [r[0] for r in rows] == [3]
    eng.drop_subscription(sub)
    eng.drop_table(t)


class _CrashingSpark:
    """SparkSession proxy that raises on the Nth .sql() call —
    simulates a crash at each DDL statement inside catalog persist
    (everything else delegates to the real session)."""

    def __init__(self, real, fail_at: int):
        self._real = real
        self._n = 0
        self._fail_at = fail_at

    def __getattr__(self, a):
        return getattr(self._real, a)

    def sql(self, *a, **kw):
        self._n += 1
        if self._n == self._fail_at:
            raise RuntimeError("injected persist crash")
        return self._real.sql(*a, **kw)


def test_persist_crash_recovery_at_every_sql_point(spark):
    """Atomicity sweep: inject a crash at EVERY sql-statement position
    inside a catalog persist. Whatever the crash point, a fresh engine
    must restore a consistent doc (objects committed by the previous
    successful persist are never lost), stay fully operational, and
    the stage tables crashes leave behind must all be GC'd by the end."""
    tag = uuid.uuid4().hex[:8]
    t, mv = f"pcr_t_{tag}", f"pcr_mv_{tag}"
    base = RisingWaveConnection(SparkEngine(spark))
    base.insert(pd.DataFrame({"k": [1], "v": [2.0]}), table_name=t,
                force_flush=True)
    base.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                 f"SELECT k, sum(v) AS s FROM {t} GROUP BY k")

    # count the sql statements one successful persist makes
    eng0 = SparkEngine(spark)
    probe = _CrashingSpark(spark, fail_at=0)  # 0 = never fires
    eng0.spark = probe
    eng0._persist_catalog()
    eng0.spark = spark
    n_calls = probe._n
    assert n_calls >= 2

    for k in range(1, n_calls + 1):
        eng = SparkEngine(spark)
        # a NEW object whose persist will crash mid-flight
        eng.subscriptions[f"public.pcr_sub_{tag}_{k}"] = {
            "rel": f"public.{t}", "retention_s": 60,
        }
        eng.spark = _CrashingSpark(spark, fail_at=k)
        try:
            eng._persist_catalog()
        except RuntimeError:
            pass  # the injected crash propagated — that's the scenario
        eng.spark = spark
        e2 = SparkEngine(spark)  # fresh restore after the "crash"
        assert f"public.{mv}" in e2.mvs, f"crash point {k} lost the MV"
        e2._persist_catalog()  # the survivor heals the catalog

    # cleanup: strip the fake subs, then assert no stage tables leaked
    fin = SparkEngine(spark)
    for name in [s for s in fin.subscriptions if f"pcr_sub_{tag}_" in s]:
        fin.subscriptions.pop(name)
    fin._persist_catalog()
    cat = fin._catalog_fq()
    db, tbl = cat.split(".", 1)
    leaks = [x.name for x in spark.catalog.listTables(db)
             if x.name.startswith(tbl + "stage_")]
    assert leaks == [], leaks
    fin.drop_mv(mv)
    fin.drop_table(t)


def test_upsert_compaction_crash_recovery_at_every_sql_point(spark):
    """Atomicity sweep for _compact_upsert_log: the append log is the
    upsert table's SOLE source of truth (not recomputable, unlike MV
    swaps) — inject a crash at every sql-statement position inside a
    compaction and assert a fresh engine restore heals the log (from
    the completed stage or the renamed-aside original), the view still
    resolves the right winners, and a clean re-compaction succeeds."""

    def build(tag):
        t = f"cxr_{tag}"
        conn = RisingWaveConnection(SparkEngine(spark))
        conn.execute(
            f"CREATE TABLE {t} (k INT PRIMARY KEY, v VARCHAR, ver BIGINT) "
            f"ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver)"
        )
        for ver, val in ((1, "a"), (3, "c"), (2, "b")):
            conn.execute(
                f"INSERT INTO {t} (k, v, ver) VALUES (1, '{val}', {ver})"
            )
        conn.execute(f"INSERT INTO {t} (k, v, ver) VALUES (2, 'x', 7)")
        return t, conn

    # count the sql statements one successful compaction makes
    tag0 = uuid.uuid4().hex[:8]
    t0, conn0 = build(tag0)
    eng0 = conn0.engine
    probe = _CrashingSpark(spark, fail_at=0)
    eng0.spark = probe
    eng0._compact_upsert_log(f"public.{t0}")
    eng0.spark = spark
    n_calls = probe._n
    assert n_calls >= 4
    assert sorted(conn0.fetch(f"SELECT * FROM {t0}")) == [
        (1, "c", 3), (2, "x", 7),
    ]
    eng0.drop_table(t0)

    for k in range(1, n_calls + 1):
        tag = uuid.uuid4().hex[:8]
        t, conn = build(tag)
        eng = conn.engine
        eng.spark = _CrashingSpark(spark, fail_at=k)
        try:
            eng._compact_upsert_log(f"public.{t}")
        except RuntimeError:
            pass  # the injected crash propagated — that's the scenario
        eng.spark = spark
        # the SAME engine retries (no restart): compaction self-heals
        # the swap window before compacting again
        eng._compact_upsert_log(f"public.{t}")
        assert sorted(conn.fetch(f"SELECT * FROM {t}")) == [
            (1, "c", 3), (2, "x", 7),
        ], f"crash point {k}: in-process retry did not heal"
        e2 = SparkEngine(spark)  # fresh restore after the "crash"
        rw2 = RisingWaveConnection(e2)
        assert sorted(rw2.fetch(f"SELECT * FROM {t}")) == [
            (1, "c", 3), (2, "x", 7),
        ], f"crash point {k} lost the upsert log"
        e2._compact_upsert_log(f"public.{t}")  # heals + compacts cleanly
        assert sorted(rw2.fetch(f"SELECT * FROM {t}")) == [
            (1, "c", 3), (2, "x", 7),
        ]
        log = e2.log_name(f"public.{t}")
        for leftover in (f"{log}__compact_stage", f"{log}__compact_pre"):
            assert not spark.catalog.tableExists(leftover), (k, leftover)
        e2.drop_table(t)
