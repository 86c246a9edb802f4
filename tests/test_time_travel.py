"""FOR SYSTEM_TIME AS OF EPOCH n (engine.table_asof + SQL rewrite).

The driver-gated time_travel_scenario pins the happy path (bag
multiplicity, deletes, update retraction pairs, multiple AS OF refs
in one statement); these tests pin the refusals and the equivalence
invariant the oracle can't express."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import drop_schema
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow



@pytest.fixture()
def conn_eng(spark):
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    drop_schema(spark, "tt_t")  # debris of an earlier run
    eng = SparkEngine(spark=spark, default_schema="tt_t")
    yield RisingWaveConnection(eng), eng
    drop_schema(spark, "tt_t")


def test_asof_latest_epoch_equals_current_table(conn_eng, spark):
    """Reconstruction at the newest epoch must equal the table itself
    — the fold over the full history IS the table, for any DML mix."""
    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.x (k BIGINT, v DOUBLE)")
    conn.insert(pd.DataFrame({"k": [1, 2, 2], "v": [1.0, 2.0, 2.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    conn.execute("DELETE FROM tt_t.x WHERE k = 1")
    conn.execute("UPDATE tt_t.x SET v = 9.0 WHERE k = 2")
    conn.insert(pd.DataFrame({"k": [5], "v": [5.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    latest = max(
        int(r[0].split("=", 1)[1])
        for r in spark.sql(
            f"SHOW PARTITIONS {eng.changelog_name('tt_t.x')}"
        ).collect()
    )
    got = sorted(tuple(r) for r in eng.table_asof("tt_t.x", latest).collect())
    want = sorted(tuple(r) for r in spark.table("tt_t.x").collect())
    assert got == want


def test_asof_epoch_zero_is_empty(conn_eng):
    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.x (k BIGINT, v DOUBLE)")
    conn.insert(pd.DataFrame({"k": [1], "v": [1.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    assert eng.table_asof("tt_t.x", 0).count() == 0


def test_vacuumed_history_is_refused(conn_eng):
    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.x (k BIGINT, v DOUBLE)")
    conn.insert(pd.DataFrame({"k": [1], "v": [1.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    eng.vacuum_floor[eng.changelog_name("tt_t.x")] = 1
    with pytest.raises(ValueError, match="vacuumed"):
        eng.table_asof("tt_t.x", 5)


def test_upsert_table_is_refused(conn_eng):
    conn, eng = conn_eng
    conn.execute(
        "CREATE TABLE tt_t.u (k BIGINT PRIMARY KEY, v BIGINT) "
        "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(v)"
    )
    with pytest.raises(ValueError, match="upsert"):
        eng.table_asof("tt_t.u", 1)


def test_non_engine_table_is_refused(conn_eng, spark):
    _conn, eng = conn_eng
    spark.sql("CREATE TABLE IF NOT EXISTS tt_t.plain (k BIGINT) USING PARQUET")
    with pytest.raises(ValueError, match="changelog"):
        eng.table_asof("tt_t.plain", 1)


def _mv_fixture(conn, eng):
    """b + MV m with three content states: creation {x:1}, epoch e1
    adds {y:2}, epoch e2 moves x to 4. Returns (e0, e1, e2)."""
    conn.execute("CREATE TABLE tt_t.b (g STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"g": ["x"], "v": [1.0]}),
                table_name="b", schema_name="tt_t", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW tt_t.m AS "
        "SELECT g, sum(v) AS total FROM tt_t.b GROUP BY g"
    )
    e0 = eng.mvs["tt_t.m"].created_epoch
    conn.insert(pd.DataFrame({"g": ["y"], "v": [2.0]}),
                table_name="b", schema_name="tt_t", force_flush=True)
    e1 = eng.current_epoch
    conn.insert(pd.DataFrame({"g": ["x"], "v": [3.0]}),
                table_name="b", schema_name="tt_t", force_flush=True)
    e2 = eng.current_epoch
    return e0, e1, e2


def test_mv_asof_reads_every_state_since_creation(conn_eng):
    """Round-10 (VERDICT r9 #4): MV time travel via the reverse fold —
    the creation snapshot is readable (it is embedded in the current
    result), every later refresh state is readable, and the newest
    epoch equals the table itself."""
    conn, eng = conn_eng
    e0, e1, e2 = _mv_fixture(conn, eng)
    assert e0 is not None
    asof = lambda n: sorted(  # noqa: E731
        tuple(r) for r in eng.table_asof("tt_t.m", n).collect()
    )
    assert asof(e0) == [("x", 1.0)], "creation-inclusive read"
    assert asof(e1) == [("x", 1.0), ("y", 2.0)]
    assert asof(e2) == [("x", 4.0), ("y", 2.0)]
    cur = sorted(tuple(r) for r in conn_eng[1].spark.table("tt_t.m").collect())
    assert asof(e2) == cur
    # and through the SQL surface
    rows = conn.fetch(
        f"SELECT g, total FROM tt_t.m FOR SYSTEM_TIME AS OF EPOCH {e1} "
        f"ORDER BY g"
    )
    assert rows == [("x", 1.0), ("y", 2.0)]


def test_mv_asof_precreation_is_refused(conn_eng):
    conn, eng = conn_eng
    e0, _e1, _e2 = _mv_fixture(conn, eng)
    with pytest.raises(ValueError, match="predates"):
        eng.table_asof("tt_t.m", e0 - 1)


def test_mv_asof_unknown_anchor_is_refused(conn_eng, spark):
    """An MV re-registered from a pre-anchor catalog has no creation
    epoch: refuse loudly rather than answer wrongly."""
    conn, eng = conn_eng
    _mv_fixture(conn, eng)
    eng.mvs["tt_t.m"].created_epoch = None
    with pytest.raises(ValueError, match="creation epoch is unknown"):
        eng.table_asof("tt_t.m", 99)


def test_mv_asof_vacuumed_suffix_is_refused_but_floor_ok(conn_eng):
    """The reverse fold needs only the suffix ABOVE the asked epoch:
    floor <= epoch still answers; floor > epoch refuses."""
    conn, eng = conn_eng
    _e0, e1, e2 = _mv_fixture(conn, eng)
    cl = eng.changelog_name("tt_t.m")
    eng.vacuum_floor[cl] = e1  # epochs <= e1 gone
    with pytest.raises(ValueError, match="vacuumed"):
        eng.table_asof("tt_t.m", e1 - 1)
    got = sorted(tuple(r) for r in eng.table_asof("tt_t.m", e2).collect())
    assert got == [("x", 4.0), ("y", 2.0)]


def test_asof_aliased_reference_resolves_table_not_alias(conn_eng):
    """FROM t AS x FOR SYSTEM_TIME … must time-travel t (the old raw
    substitution captured the alias x and failed)."""
    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.x (k BIGINT, v DOUBLE)")
    conn.insert(pd.DataFrame({"k": [1], "v": [1.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    conn.insert(pd.DataFrame({"k": [2], "v": [2.0]}),
                table_name="x", schema_name="tt_t", force_flush=True)
    rows = conn.fetch(
        "SELECT a.k FROM tt_t.x AS a FOR SYSTEM_TIME AS OF EPOCH 1 "
        "ORDER BY a.k"
    )
    assert rows == [(1,)]
    rows = conn.fetch(
        "SELECT a.k FROM tt_t.x a FOR SYSTEM_TIME AS OF EPOCH 2 "
        "ORDER BY a.k"
    )
    assert rows == [(1,), (2,)]


def test_mv_asof_crash_redelivery_dedup_keyed(conn_eng, spark):
    """Round-11 (ADVICE r10): commit order is changelog-first /
    table-second, so a crash between them leaves an ORPHAN epoch in
    the MV changelog that the next snapshot-diff re-emits. For a
    KEYED MV, identical adjacent epochs across the restart boundary
    are impossible legitimately, so the fold must EXCLUDE the orphan
    — time travel below it stays exact."""
    import pyspark.sql.functions as F

    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.b (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="b", schema_name="tt_t", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW tt_t.m AS "
        "SELECT p, sum(v) AS s FROM tt_t.b GROUP BY p"
    )
    st = eng.mvs["tt_t.m"]
    e_created = eng.current_epoch
    s0 = sorted(conn.fetch("SELECT * FROM tt_t.m"))

    # the applied refresh delta (epoch E')
    conn.insert(pd.DataFrame({"p": ["a"], "v": [4]}),
                table_name="b", schema_name="tt_t", force_flush=True)
    cl = eng.changelog_table("tt_t.m")
    e_applied = cl.agg(F.max("rw_timestamp")).first()[0]
    delta = cl.filter(
        F.col("rw_timestamp") == e_applied
    ).drop("rw_timestamp").localCheckpoint(eager=True)

    # fabricate the ORPHAN: the same delta committed at a lower epoch
    # that the table never absorbed (the crash window), then mark the
    # restart boundary the restore path would record
    e_orphan = e_applied - 1
    with eng._lock:
        eng._append_changelog_tagged("tt_t.m", delta, e_orphan)
    st.recovered_epoch = e_orphan

    got = sorted(
        tuple(r) for r in eng.table_asof("tt_t.m", e_created).collect()
    )
    assert got == s0, (
        "orphan epoch must be excluded from the reverse fold "
        f"(got {got}, want {s0})"
    )
    # after the dedup probe, travel to the latest epoch still works
    latest = sorted(
        tuple(r)
        for r in eng.table_asof("tt_t.m", eng.current_epoch).collect()
    )
    assert latest == sorted(conn.fetch("SELECT * FROM tt_t.m"))


def test_mv_asof_crash_redelivery_refused_for_bag_mv(conn_eng, spark):
    """For a BAG (non-keyed) MV, adjacent identical epochs are ALSO a
    legal double-insert — indistinguishable from redelivery, so the
    travel must refuse loudly rather than answer wrongly."""
    import pyspark.sql.functions as F

    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.b2 (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="b2", schema_name="tt_t", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW tt_t.mb AS "
        "SELECT p, v FROM tt_t.b2 WHERE v < 100"
    )
    st = eng.mvs["tt_t.mb"]
    e_created = eng.current_epoch
    conn.insert(pd.DataFrame({"p": ["z"], "v": [7]}),
                table_name="b2", schema_name="tt_t", force_flush=True)
    cl = eng.changelog_table("tt_t.mb")
    e_applied = cl.agg(F.max("rw_timestamp")).first()[0]
    delta = cl.filter(
        F.col("rw_timestamp") == e_applied
    ).drop("rw_timestamp").localCheckpoint(eager=True)
    with eng._lock:
        eng._append_changelog_tagged("tt_t.mb", delta, e_applied - 1)
    st.recovered_epoch = e_applied - 1
    assert st.key_cols is None
    with pytest.raises(ValueError, match="redelivery|identical"):
        eng.table_asof("tt_t.mb", e_created)


def test_mv_asof_unconfirmed_restore_max_is_refused(conn_eng, spark):
    """Round-12 (ADVICE r11): when the restore-time changelog max has
    NO successor epoch and no refresh has completed since the restore,
    it may be an unabsorbed crash orphan — the fold must refuse
    rather than silently un-apply a delta the table never absorbed.
    One FLUSH re-emits a real orphan (dup probe excludes it) or
    proves absorption (travel works again)."""
    import pyspark.sql.functions as F

    conn, eng = conn_eng
    conn.execute("CREATE TABLE tt_t.b3 (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="b3", schema_name="tt_t", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW tt_t.m3 AS "
        "SELECT p, sum(v) AS s FROM tt_t.b3 GROUP BY p"
    )
    st = eng.mvs["tt_t.m3"]
    e_created = eng.current_epoch
    s0 = sorted(conn.fetch("SELECT * FROM tt_t.m3"))
    # fabricate a TRUE orphan at the changelog max: emitted to the
    # log, never applied to the table (the crash window), restart
    # boundary recorded, no refresh since
    orphan = spark.createDataFrame(
        [("zz", 999, "Insert")], "p STRING, s BIGINT, op STRING"
    )
    with eng._lock:
        e_orphan = eng.next_epoch()
        eng._append_changelog_tagged("tt_t.m3", orphan, e_orphan)
    st.recovered_epoch = e_orphan
    st.post_restore_refreshed = False
    with pytest.raises(ValueError, match="orphan|confirmed"):
        eng.table_asof("tt_t.m3", e_created)
    # one refresh re-emits / confirms; travel below is exact again
    conn.execute("FLUSH")
    got = sorted(
        tuple(r) for r in eng.table_asof("tt_t.m3", e_created).collect()
    )
    assert got == s0
