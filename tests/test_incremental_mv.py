"""Incremental (delta-merge) MV maintenance — the append-only fast
path: refresh folds only the base-changelog delta into the stored
result (O(delta + touched groups), never rescanning the base), and
demotes itself to snapshot-diff the moment the base stops being
append-only. Results must stay bit-identical to a from-scratch
recompute at every step."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import drop_schema
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow



@pytest.fixture()
def eng_conn(spark):
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    drop_schema(spark, "inct")  # debris of an earlier run
    eng = SparkEngine(spark=spark, default_schema="inct")
    yield RisingWaveConnection(eng), eng
    drop_schema(spark, "inct")


def _mv_rows(conn):
    return sorted(conn._dispatch("SELECT * FROM inct.m")[1])


def _recompute(conn):
    return sorted(
        conn._dispatch(
            "SELECT p, sum(v) AS total, count(*) AS n, min(v) AS lo, max(v) AS hi "
            "FROM inct.t WHERE v < 100 GROUP BY p"
        )[1]
    )


def test_incremental_mv_fast_path_and_demotion(eng_conn):
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "b"], "v": [1, 2]}),
                table_name="t", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m AS "
        "SELECT p, sum(v) AS total, count(*) AS n, min(v) AS lo, max(v) AS hi "
        "FROM inct.t WHERE v < 100 GROUP BY p"
    )
    st = eng.mvs["inct.m"]
    assert st.inc is not None, "simple agg over append-only base must be incremental"

    # Delta touching an existing group, creating a new one, and one
    # row the WHERE clause filters out.
    conn.insert(pd.DataFrame({"p": ["a", "c", "a"], "v": [5, 7, 200]}),
                table_name="t", schema_name="inct", force_flush=True)
    eng.flush()
    rows = _mv_rows(conn)
    assert rows == [("a", 6, 2, 1, 5), ("b", 2, 1, 2, 2), ("c", 7, 1, 7, 7)]
    assert rows == _recompute(conn)
    assert st.inc is not None

    # Fully-filtered delta: no result change, fast path persists.
    conn.insert(pd.DataFrame({"p": ["z"], "v": [999]}),
                table_name="t", schema_name="inct", force_flush=True)
    eng.flush()
    assert _mv_rows(conn) == rows and st.inc is not None

    # Changelog contract through the fast path (full replay from 0:
    # each refresh epoch carries the right op mix).
    conn.execute("CREATE SUBSCRIPTION inct.s FROM inct.m WITH (retention = '86400s')")
    conn.execute("DECLARE c1 subscription cursor for inct.s SINCE 0")
    conn.insert(pd.DataFrame({"p": ["b", "d"], "v": [10, 3]}),
                table_name="t", schema_name="inct", force_flush=True)
    cols, ch = eng.fetch_cursor("c1", 100)
    assert cols[-2:] == ["op", "rw_timestamp"]
    ops = sorted((r[0], r[-2]) for r in ch)
    assert ops == [
        ("a", "UpdateDelete"), ("a", "UpdateInsert"),
        ("b", "UpdateDelete"), ("b", "UpdateInsert"),
        ("c", "Insert"), ("d", "Insert"),
    ]
    # the two epochs replay in publication order
    epochs = [r[-1] for r in ch]
    assert epochs == sorted(epochs)

    # Retraction: UPDATE on the base STAYS on the fast path — the
    # touched groups re-aggregate from the base (O(delta + touched
    # groups)), never a full recompute.
    conn.execute("UPDATE inct.t SET v = 4 WHERE p = 'a' AND v = 1")
    eng.flush()
    assert st.inc is not None, "UPDATE on the base must NOT demote the MV"
    assert _mv_rows(conn) == _recompute(conn)
    cols, ch = eng.fetch_cursor("c1", 100)
    ops = sorted((r[0], r[-2]) for r in ch)
    assert ops == [("a", "UpdateDelete"), ("a", "UpdateInsert")]

    # DELETE emptying a whole group: the group's row leaves the MV
    # with a Delete op (GROUP BY semantics — empty group, no row).
    conn.execute("DELETE FROM inct.t WHERE p = 'c'")
    eng.flush()
    assert st.inc is not None, "DELETE on the base must NOT demote the MV"
    assert _mv_rows(conn) == _recompute(conn)
    cols, ch = eng.fetch_cursor("c1", 100)
    assert sorted((r[0], r[-2]) for r in ch) == [("c", "Delete")]

    # Mixed epoch: deletes + inserts into the SAME group plus an
    # insert into an untouched group, merged in one refresh.
    conn.execute("DELETE FROM inct.t WHERE p = 'b' AND v = 10")
    conn.insert(pd.DataFrame({"p": ["b", "e"], "v": [50, 1]}),
                table_name="t", schema_name="inct", force_flush=True)
    eng.flush()
    assert st.inc is not None
    assert _mv_rows(conn) == _recompute(conn)


def test_incremental_ineligibility_rules(eng_conn):
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.t2 (p STRING, v DOUBLE, w BIGINT)")
    # double-typed SUM → ineligible (incremental FP accumulation would
    # drift from recompute; SCALE.md exactness rule)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m2 AS "
        "SELECT p, sum(v) AS total FROM inct.t2 GROUP BY p"
    )
    assert eng.mvs["inct.m2"].inc is None
    # min/max over doubles are exact merges → eligible
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m3 AS "
        "SELECT p, min(v) AS lo, max(v) AS hi, count(*) AS n, sum(w) AS ws "
        "FROM inct.t2 GROUP BY p"
    )
    assert eng.mvs["inct.m3"].inc is not None
    # avg arms the RECOMPUTE-ONLY plan since round 10 (touched-group
    # re-aggregation — no merge rule ever runs)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m4 AS "
        "SELECT p, avg(w) AS aw FROM inct.t2 GROUP BY p"
    )
    assert eng.mvs["inct.m4"].inc is not None
    assert eng.mvs["inct.m4"].inc.get("recompute_only")
    # order-dependent aggregates and expression GROUP BY keys never do
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m4b AS "
        "SELECT p, first(w) AS fw FROM inct.t2 GROUP BY p"
    )
    assert eng.mvs["inct.m4b"].inc is None


def test_incremental_base_with_history_then_grows(eng_conn):
    """MV created over a base that ALREADY has rows: initial state must
    fold existing changelog history, then deltas merge on top."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.t3 (p STRING, v BIGINT)")
    for batch in ([("a", 1)], [("a", 2), ("b", 5)]):
        conn.insert(pd.DataFrame({"p": [k for k, _ in batch],
                                  "v": [v for _, v in batch]}),
                    table_name="t3", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m5 AS "
        "SELECT p, sum(v) AS total FROM inct.t3 GROUP BY p"
    )
    st = eng.mvs["inct.m5"]
    assert st.inc is not None and st.last_epoch > 0
    conn.insert(pd.DataFrame({"p": ["b"], "v": [7]}),
                table_name="t3", schema_name="inct", force_flush=True)
    eng.flush()
    rows = sorted(conn._dispatch("SELECT * FROM inct.m5")[1])
    assert rows == [("a", 3), ("b", 12)]
    assert st.inc is not None


def test_refresh_never_collects_delta_to_driver(eng_conn):
    """Scale invariant (round-2 fix): MV refresh publishes its delta as
    one op-tagged DataFrame written straight to the changelog — never
    via rows collected to the driver and re-created with
    createDataFrame (the round-1 pattern; a driver OOM when the first
    refresh after a bulk load produces delta = the entire result).
    Both the incremental and snapshot-diff paths are exercised with
    createDataFrame forbidden."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.nc (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "b"], "v": [1, 2]}),
                table_name="nc", schema_name="inct", force_flush=True)
    # incremental fast path
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.ncm AS "
        "SELECT p, sum(v) AS total FROM inct.nc GROUP BY p"
    )
    # snapshot-diff path (expression GROUP BY keys arm since round 12
    # — an ORDER-SENSITIVE aggregate is what still never arms)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.ncm2 AS "
        "SELECT upper(p) AS pu, any_value(v) AS av "
        "FROM inct.nc GROUP BY upper(p)"
    )
    assert eng.mvs["inct.ncm"].inc is not None
    assert eng.mvs["inct.ncm2"].inc is None
    conn.insert(pd.DataFrame({"p": ["a", "c"], "v": [10, 5]}),
                table_name="nc", schema_name="inct", force_flush=True)

    def forbidden(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("refresh_mv collected a delta to the driver")

    # the insert itself may use createDataFrame (pandas -> Spark input
    # path); only the REFRESH must not
    conn.insert(pd.DataFrame({"p": ["b"], "v": [100]}),
                table_name="nc", schema_name="inct", force_flush=False)
    eng.spark.catalog.refreshTable("inct.nc")
    orig = eng.spark.createDataFrame
    eng.spark.createDataFrame = forbidden
    try:
        eng.flush()
    finally:
        eng.spark.createDataFrame = orig
    rows = sorted(conn._dispatch("SELECT * FROM inct.ncm")[1])
    assert rows == [("a", 11), ("b", 102), ("c", 5)]


def test_incremental_join_mv_fast_path(spark):
    """Append-only INNER-join MV takes the delta path: ΔA⋈B ∪
    A_old⋈ΔB — a new fact for an old dim row, a new dim row, and a
    fact+dim pair arriving in the SAME flush, with no double count;
    an UPDATE on a base demotes to snapshot-diff and stays correct."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, mv = f"ijt_o_{tag}", f"ijt_u_{tag}", f"ijt_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1, 2], "amt": [10.0, 20.0]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1, 2, 3], "name": ["a", "b", "c"]}),
              table_name=u, force_flush=True)
    rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
               f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
               f"FROM {o} o JOIN {u} u ON o.uid = u.uid")
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (1, "a", 10.0), (2, "b", 20.0)]

    rw.insert(pd.DataFrame({"uid": [1], "amt": [5.0]}), table_name=o,
              force_flush=False)
    rw.insert(pd.DataFrame({"uid": [4], "name": ["d"]}), table_name=u,
              force_flush=False)
    rw.insert(pd.DataFrame({"uid": [4], "amt": [9.0]}), table_name=o,
              force_flush=True)
    assert st.inc_join is not None  # still on the fast path
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (1, "a", 5.0), (1, "a", 10.0), (2, "b", 20.0), (4, "d", 9.0)]

    # dup rows on the fact side keep bag semantics
    rw.insert(pd.DataFrame({"uid": [1, 1], "amt": [5.0, 5.0]}),
              table_name=o, force_flush=True)
    assert st.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")).count((1, "a", 5.0)) == 3

    # UPDATE on a base stays on the fast path (touched-key retraction)
    rw.execute(f"UPDATE {o} SET amt = 99 WHERE uid = 2")
    rw.execute("FLUSH")
    assert st.inc_join is not None, "UPDATE must NOT demote the join MV"
    assert (2, "b", 99.0) in rw.fetch(f"SELECT * FROM {mv}")
    assert (2, "b", 20.0) not in rw.fetch(f"SELECT * FROM {mv}")

    # DELETE on the dim side removes all of a key's join rows
    rw.execute(f"DELETE FROM {u} WHERE uid = 1")
    rw.execute("FLUSH")
    assert st.inc_join is not None, "DELETE must NOT demote the join MV"
    assert not any(r[0] == 1 for r in rw.fetch(f"SELECT * FROM {mv}"))
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (2, "b", 99.0), (4, "d", 9.0)]

    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_incremental_join_matches_snapshot_diff(spark):
    """The delta path and the snapshot-diff path produce identical MV
    contents for the same input sequence."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    def run(disable_fast: bool):
        tag = uuid.uuid4().hex[:8]
        rw = RisingWave(spark=spark)
        o, u, mv = f"ijx_o_{tag}", f"ijx_u_{tag}", f"ijx_mv_{tag}"
        rw.insert(pd.DataFrame({"uid": [1, 2, 2], "amt": [1.0, 2.0, 2.5]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [2, 3], "name": ["b", "c"]}),
                  table_name=u, force_flush=True)
        rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                   f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
                   f"FROM {o} o JOIN {u} u ON o.uid = u.uid")
        st = rw.engine.mvs[f"public.{mv}"]
        if disable_fast:
            st.inc_join = None
            st.fastpath_blocked = True  # keep the re-arm probe off
        rw.insert(pd.DataFrame({"uid": [3, 9], "amt": [7.0, 8.0]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [9], "name": ["z"]}),
                  table_name=u, force_flush=True)
        out = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        # retraction leg: mixed UPDATE/DELETE/insert in one flush must
        # match snapshot-diff exactly (dup fact rows included)
        rw.execute(f"UPDATE {o} SET amt = 50 WHERE uid = 2")
        rw.execute(f"DELETE FROM {u} WHERE uid = 3")
        rw.insert(pd.DataFrame({"uid": [2], "amt": [9.9]}),
                  table_name=o, force_flush=True)
        if not disable_fast:
            assert st.inc_join is not None, "DML demoted the join MV"
        out2 = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        rw.execute(f"DROP MATERIALIZED VIEW {mv}")
        rw.execute(f"DROP TABLE {o}")
        rw.execute(f"DROP TABLE {u}")
        return out, out2

    assert run(disable_fast=False) == run(disable_fast=True)


def test_incremental_left_join_mv_retracts_padded_rows(spark):
    """LEFT-join fast path: when a right match arrives for a
    previously-unmatched left row, the padded row is retracted
    (Delete) and the matched row inserted — in ONE epoch; a new
    unmatched left row still pads."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, mv = f"ljt_o_{tag}", f"ljt_u_{tag}", f"ljt_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1, 2], "amt": [10.0, 20.0]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1], "name": ["a"]}),
              table_name=u, force_flush=True)
    rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
               f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
               f"FROM {o} o LEFT JOIN {u} u ON o.uid = u.uid")
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_join is not None and st.inc_join["how"] == "left"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str) == [
        (1, "a", 10.0), (2, None, 20.0)]

    rw.insert(pd.DataFrame({"uid": [2], "name": ["b"]}),
              table_name=u, force_flush=True)
    assert st.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str) == [
        (1, "a", 10.0), (2, "b", 20.0)]
    ops = {(r.uid, r.name, r.op)
           for r in rw.engine.changelog_table(mv).collect()}
    assert (2, None, "Delete") in ops and (2, "b", "Insert") in ops

    rw.insert(pd.DataFrame({"uid": [5], "amt": [50.0]}),
              table_name=o, force_flush=True)
    assert st.inc_join is not None
    assert (5, None, 50.0) in rw.fetch(f"SELECT * FROM {mv}")

    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_incremental_left_join_matches_snapshot_diff(spark):
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    def run(disable_fast: bool):
        tag = uuid.uuid4().hex[:8]
        rw = RisingWave(spark=spark)
        o, u, mv = f"ljx_o_{tag}", f"ljx_u_{tag}", f"ljx_mv_{tag}"
        rw.insert(pd.DataFrame({"uid": [1, 2, 2], "amt": [1.0, 2.0, 2.5]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [2], "name": ["b"]}),
                  table_name=u, force_flush=True)
        rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                   f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
                   f"FROM {o} o LEFT JOIN {u} u ON o.uid = u.uid")
        st = rw.engine.mvs[f"public.{mv}"]
        if disable_fast:
            st.inc_join = None
            st.fastpath_blocked = True  # keep the re-arm probe off
        # same-flush: match arrives for uid 1 AND a brand-new pair 9
        rw.insert(pd.DataFrame({"uid": [9], "amt": [8.0]}),
                  table_name=o, force_flush=False)
        rw.insert(pd.DataFrame({"uid": [1, 9], "name": ["a", "z"]}),
                  table_name=u, force_flush=True)
        out = sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str)
        # retraction leg: a dim DELETE UN-matches left rows (pads must
        # reappear) and a fact UPDATE revises matched rows — both in
        # one flush, fast path must equal snapshot-diff
        rw.execute(f"DELETE FROM {u} WHERE uid = 2")
        rw.execute(f"UPDATE {o} SET amt = 3.5 WHERE uid = 1")
        rw.execute("FLUSH")
        if not disable_fast:
            assert st.inc_join is not None, "DML demoted the LEFT-join MV"
        out2 = sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str)
        rw.execute(f"DROP MATERIALIZED VIEW {mv}")
        rw.execute(f"DROP TABLE {o}")
        rw.execute(f"DROP TABLE {u}")
        return out, out2

    assert run(disable_fast=False) == run(disable_fast=True)


def test_join_mv_survives_consumed_vacuum_demotes_on_unconsumed(spark):
    """Vacuum semantics for the join fast path (weakened in round 3:
    partner state comes from pinned table snapshots, so only the
    un-consumed delta suffix is read from the changelog): a floor ≤
    last_epoch is harmless and the fast path SURVIVES; vacuuming
    epochs the MV has not consumed yet demotes for ONE flush
    (snapshot-diff stays correct), after which the re-arm probe
    recovers the fast path."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, mv = f"vjt_o_{tag}", f"vjt_u_{tag}", f"vjt_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1], "amt": [10.0]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1, 2], "name": ["a", "b"]}),
              table_name=u, force_flush=True)
    rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
               f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
               f"FROM {o} o JOIN {u} u ON o.uid = u.uid")
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_join is not None

    # retention-0 subscription on the RIGHT base + vacuum → floor > 0,
    # but every vacuumed epoch was already consumed (≤ last_epoch)
    rw.execute(f"CREATE SUBSCRIPTION vjt_s_{tag} FROM {u} WITH (retention = '0s')")
    rw.engine.vacuum_changelogs()
    floor = rw.engine.vacuum_floor.get(f"public.__rw_changelog__{u}", 0)
    assert 0 < floor <= st.last_epoch

    # fast path SURVIVES a consumed-prefix vacuum and stays exact
    rw.insert(pd.DataFrame({"uid": [2], "amt": [20.0]}),
              table_name=o, force_flush=True)
    assert st.inc_join is not None, "consumed-prefix vacuum must not demote"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (1, "a", 10.0), (2, "b", 20.0)]

    # now vacuum UN-consumed epochs: insert into u (epoch > last seen
    # by the MV — no flush), vacuum everything, then flush. The fast
    # path demotes (truncated delta), the SAME refresh falls back to
    # snapshot-diff AND the re-arm probe recovers the fast path from a
    # fresh induction base — all in one flush, results exact.
    rw.engine.insert_df(
        u, spark.createDataFrame([(3, "c")], "uid bigint, name string")
    )
    rw.engine.vacuum_changelogs()
    assert rw.engine.vacuum_floor.get(
        f"public.__rw_changelog__{u}", 0
    ) > st.last_epoch
    rw.execute("FLUSH")
    assert st.inc_join is not None, "same-flush re-arm must recover"
    assert not st.fastpath_blocked
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (1, "a", 10.0), (2, "b", 20.0)]

    # ...and subsequent DML runs incrementally against the new base
    rw.insert(pd.DataFrame({"uid": [3], "amt": [30.0]}),
              table_name=o, force_flush=True)
    assert st.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]

    rw.execute(f"DROP SUBSCRIPTION vjt_s_{tag}")
    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_incremental_right_and_full_join_mvs(spark):
    """RIGHT joins normalize to LEFT with swapped sides; FULL OUTER
    handles retractions on BOTH sides plus the same-flush ΔA⋈ΔB
    overlap without double-counting."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u = f"rfj_o_{tag}", f"rfj_u_{tag}"
    rw.insert(pd.DataFrame({"uid": [1, 2], "amt": [10.0, 20.0]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1, 3], "name": ["a", "c"]}),
              table_name=u, force_flush=True)

    rmv = f"rfj_rmv_{tag}"
    rw.execute(f"CREATE MATERIALIZED VIEW {rmv} AS "
               f"SELECT o.uid AS ouid, u.uid AS uuid, o.amt AS amt "
               f"FROM {o} o RIGHT JOIN {u} u ON o.uid = u.uid")
    st = rw.engine.mvs[f"public.{rmv}"]
    assert st.inc_join is not None and st.inc_join["how"] == "left"  # swapped
    assert sorted(rw.fetch(f"SELECT * FROM {rmv}"), key=str) == [
        (1, 1, 10.0), (None, 3, None)]
    rw.insert(pd.DataFrame({"uid": [3], "amt": [30.0]}),
              table_name=o, force_flush=True)
    assert st.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {rmv}"), key=str) == [
        (1, 1, 10.0), (3, 3, 30.0)]

    fmv = f"rfj_fmv_{tag}"
    rw.execute(f"CREATE MATERIALIZED VIEW {fmv} AS "
               f"SELECT o.uid AS ouid, u.uid AS uuid, o.amt AS amt "
               f"FROM {o} o FULL OUTER JOIN {u} u ON o.uid = u.uid")
    stf = rw.engine.mvs[f"public.{fmv}"]
    assert stf.inc_join is not None and stf.inc_join["how"] == "full"
    # same flush: brand-new matched pair, match for the left-pad (2),
    # and a new unmatched right row (9)
    rw.insert(pd.DataFrame({"uid": [7], "amt": [70.0]}),
              table_name=o, force_flush=False)
    rw.insert(pd.DataFrame({"uid": [7, 2, 9], "name": ["g", "b", "i"]}),
              table_name=u, force_flush=True)
    assert stf.inc_join is not None
    assert sorted(rw.fetch(f"SELECT * FROM {fmv}"), key=str) == [
        (1, 1, 10.0), (2, 2, 20.0), (3, 3, 30.0), (7, 7, 70.0),
        (None, 9, None)]
    # B-side pad retraction: order arrives for right-padded user 9
    rw.insert(pd.DataFrame({"uid": [9], "amt": [90.0]}),
              table_name=o, force_flush=True)
    assert stf.inc_join is not None
    assert (9, 9, 90.0) in rw.fetch(f"SELECT * FROM {fmv}")
    assert (None, 9, None) not in rw.fetch(f"SELECT * FROM {fmv}")

    for v in (rmv, fmv):
        rw.execute(f"DROP MATERIALIZED VIEW {v}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_incremental_full_join_matches_snapshot_diff(spark):
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    def run(disable_fast: bool):
        tag = uuid.uuid4().hex[:8]
        rw = RisingWave(spark=spark)
        o, u, mv = f"ffx_o_{tag}", f"ffx_u_{tag}", f"ffx_mv_{tag}"
        rw.insert(pd.DataFrame({"uid": [1, 2, 2], "amt": [1.0, 2.0, 2.5]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [2, 5], "name": ["b", "e"]}),
                  table_name=u, force_flush=True)
        rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
                   f"SELECT o.uid AS ouid, u.uid AS uuid, o.amt AS amt "
                   f"FROM {o} o FULL OUTER JOIN {u} u ON o.uid = u.uid")
        st = rw.engine.mvs[f"public.{mv}"]
        if disable_fast:
            st.inc_join = None
            st.fastpath_blocked = True  # keep the re-arm probe off
        rw.insert(pd.DataFrame({"uid": [5, 9], "amt": [7.0, 8.0]}),
                  table_name=o, force_flush=False)
        rw.insert(pd.DataFrame({"uid": [1, 9], "name": ["a", "z"]}),
                  table_name=u, force_flush=True)
        out = sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str)
        # retraction leg on a FULL join: deleting one side's last row
        # for a key resurrects the OTHER side's pad; an UPDATE revises
        # matched rows — fast path must equal snapshot-diff
        rw.execute(f"DELETE FROM {u} WHERE uid = 9")
        rw.execute(f"UPDATE {o} SET amt = 6.25 WHERE uid = 2")
        rw.execute("FLUSH")
        if not disable_fast:
            assert st.inc_join is not None, "DML demoted the FULL-join MV"
        out2 = sorted(rw.fetch(f"SELECT * FROM {mv}"), key=str)
        rw.execute(f"DROP MATERIALIZED VIEW {mv}")
        rw.execute(f"DROP TABLE {o}")
        rw.execute(f"DROP TABLE {u}")
        return out, out2

    assert run(disable_fast=False) == run(disable_fast=True)


def test_incremental_join_agg_mv(spark):
    """Star-join aggregate MV (join + GROUP BY) takes the composed
    fast path: join delta feeds the group-wise merge; a same-flush
    fact+dim pair lands once; UPDATE demotes and stays correct."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, mv = f"jat_o_{tag}", f"jat_u_{tag}", f"jat_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1, 1, 2], "qty": [2, 3, 5]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
              table_name=u, force_flush=True)
    rw.execute(
        f"CREATE MATERIALIZED VIEW {mv} AS "
        f"SELECT u.region AS region, sum(o.qty) AS total, count(*) AS n, "
        f"max(o.qty) AS hi "
        f"FROM {o} o JOIN {u} u ON o.uid = u.uid GROUP BY u.region")
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        ("eu", 5, 1, 5), ("na", 5, 2, 3)]

    rw.insert(pd.DataFrame({"uid": [1], "qty": [10]}), table_name=o,
              force_flush=False)
    rw.insert(pd.DataFrame({"uid": [9], "region": ["ap"]}), table_name=u,
              force_flush=False)
    rw.insert(pd.DataFrame({"uid": [9], "qty": [7]}), table_name=o,
              force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [
        ("ap", 7, 1, 7), ("eu", 5, 1, 5), ("na", 15, 3, 10)]
    ops = {(r.region, r.op) for r in
           rw.engine.changelog_table(mv)
           .filter("rw_timestamp > 4").collect()}
    assert ("na", "UpdateDelete") in ops and ("na", "UpdateInsert") in ops
    assert ("ap", "Insert") in ops

    def recompute():
        return sorted(rw.fetch(
            f"SELECT u.region AS region, sum(o.qty) AS total, count(*) AS n, "
            f"max(o.qty) AS hi FROM {o} o JOIN {u} u ON o.uid = u.uid "
            f"GROUP BY u.region"))

    # Retraction: UPDATE on the FACT stays on the fast path (touched
    # groups re-aggregate from the changelog folds).
    rw.execute(f"UPDATE {o} SET qty = 100 WHERE uid = 2")
    rw.execute("FLUSH")
    assert st.inc_joinagg is not None, "UPDATE must NOT demote join-agg MV"
    assert ("eu", 100, 1, 100) in rw.fetch(f"SELECT * FROM {mv}")
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    # DELETE on the DIM empties a group: its row leaves with Delete.
    rw.execute(f"DELETE FROM {u} WHERE region = 'ap'")
    rw.execute("FLUSH")
    assert st.inc_joinagg is not None, "DELETE must NOT demote join-agg MV"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()
    assert not any(r[0] == "ap" for r in rw.fetch(f"SELECT * FROM {mv}"))
    dels = {(r.region, r.op) for r in
            rw.engine.changelog_table(mv)
            .filter("op = 'Delete'").collect()}
    assert ("ap", "Delete") in dels

    # Mixed flush: delete + inserts consumed by one refresh; min/max
    # stay exact because touched groups re-aggregate, never un-merge.
    rw.execute(f"DELETE FROM {o} WHERE qty = 10")
    rw.insert(pd.DataFrame({"uid": [1, 3], "qty": [4, 9]}), table_name=o,
              force_flush=False)
    rw.insert(pd.DataFrame({"uid": [3], "region": ["sa"]}), table_name=u,
              force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_incremental_join_agg_matches_snapshot_diff(spark):
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    def run(disable_fast: bool):
        tag = uuid.uuid4().hex[:8]
        rw = RisingWave(spark=spark)
        o, u, mv = f"jax_o_{tag}", f"jax_u_{tag}", f"jax_mv_{tag}"
        rw.insert(pd.DataFrame({"uid": [1, 2, 2], "qty": [1, 2, 3]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                  table_name=u, force_flush=True)
        rw.execute(
            f"CREATE MATERIALIZED VIEW {mv} AS "
            f"SELECT u.region AS region, sum(o.qty) AS total, count(*) AS n "
            f"FROM {o} o JOIN {u} u ON o.uid = u.uid "
            f"WHERE o.qty > 1 GROUP BY u.region")
        st = rw.engine.mvs[f"public.{mv}"]
        if disable_fast:
            st.inc_joinagg = None
            st.fastpath_blocked = True  # keep the re-arm probe off
        rw.insert(pd.DataFrame({"uid": [1, 9], "qty": [8, 4]}),
                  table_name=o, force_flush=False)
        rw.insert(pd.DataFrame({"uid": [9], "region": ["na"]}),
                  table_name=u, force_flush=True)
        out = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        # retraction leg: DML on fact AND dim, mixed with inserts in
        # one flush — the fast path must match snapshot-diff exactly
        # (including the WHERE interplay and an emptied group)
        rw.execute(f"UPDATE {o} SET qty = 6 WHERE uid = 2 AND qty = 2")
        rw.execute(f"DELETE FROM {u} WHERE region = 'eu'")
        rw.insert(pd.DataFrame({"uid": [1], "qty": [2]}),
                  table_name=o, force_flush=True)
        if not disable_fast:
            assert st.inc_joinagg is not None, "DML demoted the join-agg MV"
        out2 = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        rw.execute(f"DROP MATERIALIZED VIEW {mv}")
        rw.execute(f"DROP TABLE {o}")
        rw.execute(f"DROP TABLE {u}")
        return out, out2

    assert run(disable_fast=False) == run(disable_fast=True)


def test_fast_path_guards_reject_unsafe_shapes(spark):
    """Parser guards from review: time/nondeterministic functions,
    alias-lookalikes inside string literals, and duplicate bare key
    names must keep a plan OFF (or correctly ON) the fast paths."""
    from risingwave_py_spark.engine import SparkEngine

    eng = SparkEngine(spark)
    # time-dependent WHERE is not incrementally maintainable
    assert eng._parse_simple_agg(
        "SELECT p, sum(v) AS t FROM s WHERE d >= current_date GROUP BY p"
    ) is None
    assert eng._parse_join_agg(
        "SELECT u.r AS r, sum(o.q) AS t FROM o o JOIN u u ON o.k = u.k "
        "WHERE o.d >= current_date GROUP BY u.r"
    ) is None
    # duplicate bare key names (GROUP BY o.r, u.r emitting one 'r')
    assert eng._parse_join_agg(
        "SELECT u.r AS r, sum(o.q) AS t FROM o o JOIN u u ON o.k = u.k "
        "GROUP BY o.r, u.r"
    ) is None
    # a string literal containing alias.word must survive untouched
    plan = eng._parse_join_agg(
        "SELECT u.r AS r, count(*) AS n FROM o o JOIN u u ON o.k = u.k "
        "WHERE u.note <> 'o.q' GROUP BY u.r"
    )
    assert plan is not None and "'o.q'" in plan["where"]
    assert "__o_q" not in plan["where"]
    # a string literal naming a NONEXISTENT alias.column must not
    # inject a phantom column into join_proj (the refs scan strips
    # literals before collecting qualified refs)
    plan = eng._parse_join_agg(
        "SELECT u.r AS r, count(*) AS n FROM o o JOIN u u ON o.k = u.k "
        "WHERE u.note <> 'o.nonexistent' GROUP BY u.r"
    )
    assert plan is not None and "o.nonexistent" not in plan["join_proj"]
    # time-dependent WHERE on the PLAIN-join fast path (same volatile
    # guard as the agg paths): must stay off the fast path
    assert eng._parse_simple_join(
        "SELECT o.x AS x, u.y AS y FROM o o JOIN u u ON o.k = u.k "
        "WHERE o.ts > now() - interval 1 hour"
    ) is None
    assert eng._parse_simple_join(
        "SELECT o.x AS x, u.y AS y FROM o o JOIN u u ON o.k = u.k "
        "WHERE o.d >= current_date"
    ) is None
    # ...but aliases merely NAMED like volatile functions are fine
    assert eng._parse_simple_join(
        "SELECT o.x AS uuid, u.y AS random FROM o o JOIN u u ON o.k = u.k"
    ) is not None


def test_incremental_agg_expression_args(eng_conn):
    """Aggregates over scalar EXPRESSIONS — including one nesting level,
    the revenue-MV shape sum(v * (w + 1)) — take the fast path and stay
    exact under arbitrary DML (the merge rule depends only on the agg
    function; the retraction re-agg evaluates the full select list)."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.te (p STRING, v BIGINT, w BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [1, 2, 3],
                              "w": [10, 20, 30]}),
                table_name="te", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.me AS "
        "SELECT p, sum(v * (w + 1)) AS rev, max(v + w) AS hi, count(*) AS n "
        "FROM inct.te WHERE v < 100 GROUP BY p"
    )
    st = eng.mvs["inct.me"]
    assert st.inc is not None, "expression-arg agg must take the fast path"

    def recompute():
        return sorted(conn._dispatch(
            "SELECT p, sum(v * (w + 1)) AS rev, max(v + w) AS hi, count(*) AS n "
            "FROM inct.te WHERE v < 100 GROUP BY p")[1])

    conn.insert(pd.DataFrame({"p": ["a", "c"], "v": [5, 7], "w": [1, 2]}),
                table_name="te", schema_name="inct", force_flush=True)
    assert st.inc is not None
    assert sorted(conn._dispatch("SELECT * FROM inct.me")[1]) == recompute()

    conn.execute("UPDATE inct.te SET w = 99 WHERE p = 'b'")
    conn.execute("DELETE FROM inct.te WHERE p = 'a' AND v = 1")
    conn.execute("FLUSH")
    assert st.inc is not None, "DML must not demote the expression-arg MV"
    assert sorted(conn._dispatch("SELECT * FROM inct.me")[1]) == recompute()


def test_incremental_joinagg_expression_args(eng_conn):
    """Join+agg fast path with expression aggregates over qualified
    refs (flattened namespace must rewrite inside the expression)."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.jef (uid BIGINT, qty BIGINT)")
    conn.execute("CREATE TABLE inct.jed (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "qty": [2, 3, 5]}),
                table_name="jef", schema_name="inct", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                table_name="jed", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.jem AS "
        "SELECT d.region AS region, sum(f.qty * (f.qty + 1)) AS s2, "
        "count(*) AS n "
        "FROM inct.jef f JOIN inct.jed d ON f.uid = d.uid GROUP BY d.region"
    )
    st = eng.mvs["inct.jem"]
    assert st.inc_joinagg is not None, (
        "expression-arg join agg must take the fast path"
    )

    def recompute():
        return sorted(conn._dispatch(
            "SELECT d.region AS region, sum(f.qty * (f.qty + 1)) AS s2, "
            "count(*) AS n "
            "FROM inct.jef f JOIN inct.jed d ON f.uid = d.uid "
            "GROUP BY d.region")[1])

    conn.insert(pd.DataFrame({"uid": [2], "qty": [7]}),
                table_name="jef", schema_name="inct", force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(conn._dispatch("SELECT * FROM inct.jem")[1]) == recompute()

    conn.execute("UPDATE inct.jef SET qty = 4 WHERE qty = 3")
    conn.execute("DELETE FROM inct.jed WHERE region = 'eu'")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None
    assert sorted(conn._dispatch("SELECT * FROM inct.jem")[1]) == recompute()


def test_incremental_three_way_join_agg_mv(spark):
    """N-way star join+agg IVM: fact ⋈ dim1 ⋈ dim2 GROUP BY dim keys
    takes the fast path; inserts on any side merge via the telescoping
    delta, and UPDATE/DELETE on ANY of the three sides stays on the
    fast path via touched-group re-aggregation."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, p, mv = f"tw_o_{tag}", f"tw_u_{tag}", f"tw_p_{tag}", f"tw_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1, 1, 2], "pid": [10, 11, 10],
                            "qty": [2, 3, 5]}),
              table_name=o, force_flush=True)
    rw.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
              table_name=u, force_flush=True)
    rw.insert(pd.DataFrame({"pid": [10, 11], "cat": ["x", "y"]}),
              table_name=p, force_flush=True)
    rw.execute(
        f"CREATE MATERIALIZED VIEW {mv} AS "
        f"SELECT u.region AS region, p.cat AS cat, sum(o.qty) AS total, "
        f"count(*) AS n, max(o.qty) AS hi "
        f"FROM {o} o JOIN {u} u ON o.uid = u.uid "
        f"JOIN {p} p ON o.pid = p.pid "
        f"GROUP BY u.region, p.cat"
    )
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_joinagg is not None, "3-way star join must take the fast path"
    assert len(st.inc_joinagg["sides"]) == 3

    def recompute():
        return sorted(rw.fetch(
            f"SELECT u.region AS region, p.cat AS cat, sum(o.qty) AS total, "
            f"count(*) AS n, max(o.qty) AS hi "
            f"FROM {o} o JOIN {u} u ON o.uid = u.uid "
            f"JOIN {p} p ON o.pid = p.pid "
            f"GROUP BY u.region, p.cat"))

    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    # inserts on every side in one flush (telescoping delta)
    rw.insert(pd.DataFrame({"uid": [3], "pid": [12], "qty": [7]}),
              table_name=o, force_flush=False)
    rw.insert(pd.DataFrame({"uid": [3], "region": ["na"]}),
              table_name=u, force_flush=False)
    rw.insert(pd.DataFrame({"pid": [12], "cat": ["x"]}),
              table_name=p, force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    # UPDATE on the fact
    rw.execute(f"UPDATE {o} SET qty = 9 WHERE uid = 1 AND pid = 11")
    rw.execute("FLUSH")
    assert st.inc_joinagg is not None, "fact UPDATE must not demote"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    # DELETE on dim2 (empties every group with cat 'y')
    rw.execute(f"DELETE FROM {p} WHERE cat = 'y'")
    rw.execute("FLUSH")
    assert st.inc_joinagg is not None, "dim2 DELETE must not demote"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()
    assert not any(r[1] == "y" for r in rw.fetch(f"SELECT * FROM {mv}"))

    # mixed flush: dim1 delete + fact insert + dim2 re-insert
    rw.execute(f"DELETE FROM {u} WHERE region = 'eu'")
    rw.insert(pd.DataFrame({"uid": [2], "pid": [11], "qty": [4]}),
              table_name=o, force_flush=False)
    rw.insert(pd.DataFrame({"pid": [11], "cat": ["y"]}),
              table_name=p, force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == recompute()

    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    for t in (o, u, p):
        rw.execute(f"DROP TABLE {t}")


def test_incremental_three_way_matches_snapshot_diff(spark):
    """Fast-path vs snapshot-diff equivalence for the 3-way star."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    def run(disable_fast: bool):
        tag = uuid.uuid4().hex[:8]
        rw = RisingWave(spark=spark)
        o, u, p, mv = (f"twx_o_{tag}", f"twx_u_{tag}", f"twx_p_{tag}",
                       f"twx_mv_{tag}")
        rw.insert(pd.DataFrame({"uid": [1, 2, 2], "pid": [10, 10, 11],
                                "qty": [1, 2, 3]}),
                  table_name=o, force_flush=True)
        rw.insert(pd.DataFrame({"uid": [1, 2], "region": ["na", "eu"]}),
                  table_name=u, force_flush=True)
        rw.insert(pd.DataFrame({"pid": [10, 11], "cat": ["x", "y"]}),
                  table_name=p, force_flush=True)
        rw.execute(
            f"CREATE MATERIALIZED VIEW {mv} AS "
            f"SELECT u.region AS region, p.cat AS cat, sum(o.qty) AS total, "
            f"min(o.qty) AS lo "
            f"FROM {o} o JOIN {u} u ON o.uid = u.uid "
            f"JOIN {p} p ON o.pid = p.pid "
            f"GROUP BY u.region, p.cat"
        )
        st = rw.engine.mvs[f"public.{mv}"]
        if disable_fast:
            st.inc_joinagg = None
            st.fastpath_blocked = True  # keep the re-arm probe off
        rw.insert(pd.DataFrame({"uid": [1], "pid": [11], "qty": [8]}),
                  table_name=o, force_flush=True)
        out = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        rw.execute(f"UPDATE {o} SET qty = 6 WHERE uid = 2 AND pid = 10")
        rw.execute(f"DELETE FROM {u} WHERE region = 'na'")
        rw.insert(pd.DataFrame({"uid": [3], "region": ["ap"]}),
                  table_name=u, force_flush=False)
        rw.insert(pd.DataFrame({"uid": [3], "pid": [10], "qty": [5]}),
                  table_name=o, force_flush=True)
        if not disable_fast:
            assert st.inc_joinagg is not None, "DML demoted the 3-way MV"
        out2 = sorted(rw.fetch(f"SELECT * FROM {mv}"))
        rw.execute(f"DROP MATERIALIZED VIEW {mv}")
        for t in (o, u, p):
            rw.execute(f"DROP TABLE {t}")
        return out, out2

    assert run(disable_fast=False) == run(disable_fast=True)


def test_join_mv_same_flush_insert_delete_reinsert_churn(spark):
    """Regression: a row value INSERTed, DELETEd, then re-INSERTed
    within ONE flush window has ins-count (2) > post-batch count (1)
    in the delta. Pre-batch state must be computed as
    (table + Δdel) − Δins — subtracting Δins first floors at zero and
    leaves a phantom pre-batch row, which made the retraction branch
    emit a spurious Delete and empty the MV."""
    import uuid

    import pandas as pd

    from risingwave_py_spark import RisingWave

    tag = uuid.uuid4().hex[:8]
    rw = RisingWave(spark=spark)
    o, u, mv = f"chn_o_{tag}", f"chn_u_{tag}", f"chn_mv_{tag}"
    rw.insert(pd.DataFrame({"uid": [1], "name": ["na"]}),
              table_name=u, force_flush=True)
    rw.execute(f"CREATE TABLE {o} (uid BIGINT, amt BIGINT)")
    rw.execute(f"CREATE MATERIALIZED VIEW {mv} AS "
               f"SELECT o.uid AS uid, u.name AS name, o.amt AS amt "
               f"FROM {o} o JOIN {u} u ON o.uid = u.uid")
    st = rw.engine.mvs[f"public.{mv}"]
    assert st.inc_join is not None

    # same-flush churn: insert (1,7), delete it, insert (1,7) again
    rw.insert(pd.DataFrame({"uid": [1], "amt": [7]}), table_name=o,
              force_flush=False)
    rw.execute(f"DELETE FROM {o} WHERE uid = 1")
    rw.insert(pd.DataFrame({"uid": [1], "amt": [7]}), table_name=o,
              force_flush=False)
    rw.execute("FLUSH")
    assert st.inc_join is not None, "churn flush must NOT demote"
    assert sorted(rw.fetch(f"SELECT * FROM {mv}")) == [(1, "na", 7)]
    # no spurious Delete in the MV changelog (breaks replay consumers)
    cl = rw.engine.changelog_table(mv)
    assert cl.filter("op = 'Delete'").count() == 0

    # same churn against the join+agg fast path
    mv2 = f"chn_mv2_{tag}"
    rw.execute(
        f"CREATE MATERIALIZED VIEW {mv2} AS "
        f"SELECT u.name AS name, sum(o.amt) AS total, count(*) AS n "
        f"FROM {o} o JOIN {u} u ON o.uid = u.uid GROUP BY u.name")
    st2 = rw.engine.mvs[f"public.{mv2}"]
    assert st2.inc_joinagg is not None
    rw.insert(pd.DataFrame({"uid": [1], "amt": [3]}), table_name=o,
              force_flush=False)
    rw.execute(f"DELETE FROM {o} WHERE amt = 3")
    rw.insert(pd.DataFrame({"uid": [1], "amt": [3]}), table_name=o,
              force_flush=False)
    rw.execute("FLUSH")
    assert st2.inc_joinagg is not None
    assert sorted(rw.fetch(f"SELECT * FROM {mv2}")) == [("na", 10, 2)]
    assert sorted(rw.fetch(
        f"SELECT u.name AS name, sum(o.amt) AS total, count(*) AS n "
        f"FROM {o} o JOIN {u} u ON o.uid = u.uid GROUP BY u.name"
    )) == [("na", 10, 2)]

    rw.execute(f"DROP MATERIALIZED VIEW {mv2}")
    rw.execute(f"DROP MATERIALIZED VIEW {mv}")
    rw.execute(f"DROP TABLE {o}")
    rw.execute(f"DROP TABLE {u}")


def test_cascade_mv_stays_incremental(spark):
    """MV-over-MV cascade (round-5 verdict item 5): MVs emit
    changelogs, so the downstream MV's delta source exists — both
    legs of a cascade must ARM the single-table agg fast path and
    STAY on it across INSERT / UPDATE / DELETE on the base table
    (the upstream's retraction pairs flow through the downstream's
    touched-group re-agg), with results bit-equal to a from-scratch
    recompute at every step."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS casct CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/casct.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="casct")
    conn = RisingWaveConnection(eng)

    conn.insert(pd.DataFrame({"p": ["x", "y", "x"], "g": [1, 1, 2],
                              "v": [1, 2, 3]}),
                table_name="t", schema_name="casct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW casct.m1 AS "
        "SELECT p, g, sum(v) AS total, count(*) AS c "
        "FROM casct.t GROUP BY p, g"
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW casct.m2 AS "
        "SELECT g, sum(total) AS grand, count(*) AS ng "
        "FROM casct.m1 GROUP BY g"
    )
    assert eng.mvs["casct.m1"].inc is not None, "upstream leg not armed"
    assert eng.mvs["casct.m2"].inc is not None, \
        "downstream leg (base is an MV) not armed"

    def check(stage):
        got = sorted(conn.fetch("SELECT * FROM casct.m2"))
        want = sorted(conn.fetch(
            "SELECT g, sum(total) AS grand, count(*) AS ng FROM ("
            "  SELECT p, g, sum(v) AS total FROM casct.t GROUP BY p, g"
            ") GROUP BY g"
        ))
        assert got == want, stage
        assert eng.mvs["casct.m1"].inc is not None, f"{stage}: m1 demoted"
        assert eng.mvs["casct.m2"].inc is not None, f"{stage}: m2 demoted"

    # INSERT (new group downstream)
    conn.insert(pd.DataFrame({"p": ["z"], "g": [3], "v": [10]}),
                table_name="t", schema_name="casct", force_flush=True)
    check("insert")
    # UPDATE: m1 emits UpdateDelete/UpdateInsert; m2's incremental
    # refresh must take the touched-group retraction branch
    conn.execute("UPDATE casct.t SET v = 100 WHERE p = 'x' AND g = 1")
    conn.execute("FLUSH")
    check("update")
    # DELETE emptying an m1 group: the Delete row must cascade
    conn.execute("DELETE FROM casct.t WHERE p = 'y'")
    conn.execute("FLUSH")
    check("delete")
    # DELETE emptying an entire downstream group
    conn.execute("DELETE FROM casct.t WHERE g = 3")
    conn.execute("FLUSH")
    check("delete-group")
    conn.execute("DROP MATERIALIZED VIEW casct.m2")
    conn.execute("DROP MATERIALIZED VIEW casct.m1")
    conn.execute("DROP TABLE casct.t")


def test_noop_refresh_runs_no_spark_job(eng_conn):
    """FLUSH refreshes EVERY registered MV; an MV whose base did not
    change must answer 'nothing to do' from changelog partition
    metadata alone — zero Spark jobs. With N MVs over quiet bases the
    per-insert flush cost would otherwise be N job dispatches."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.t (p STRING, v INT)")
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m AS "
        "SELECT p, sum(v) AS total FROM inct.t GROUP BY p"
    )
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="inct", force_flush=True)
    state = eng.mvs["inct.m"]
    assert state.inc is not None  # on the incremental fast path
    tracker = eng.spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    eng.refresh_mv(state)  # base unchanged since the flush
    assert tracker.getJobIdsForGroup(None) == before


RC_SEL = (
    "SELECT p, avg(v) AS a, stddev(v) AS sd, percentile(v, 0.5) AS med, "
    "sum(v) AS s FROM inct.rt GROUP BY p"
)


def _r6(rows):
    # stddev's parallel merge order is unspecified in Spark itself, so
    # the touched-group re-agg and a full-table recompute can differ in
    # the last ulp — compare at the engine's documented 6-dp contract
    return sorted(
        tuple(round(v, 6) if isinstance(v, float) else v for v in r)
        for r in rows
    )


def _rc_fixture(conn, eng):
    conn.execute("CREATE TABLE inct.rt (p STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [1.0, 3.0, 5.0]}),
                table_name="rt", schema_name="inct", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW inct.m AS {RC_SEL}")
    return eng.mvs["inct.m"]


def test_recompute_only_plan_arms_for_nonmergeable_aggs(eng_conn):
    """Round 10: avg/stddev/percentile MVs arm the RECOMPUTE-ONLY
    incremental plan (touched-group re-aggregation) instead of
    falling to full snapshot-diff."""
    conn, eng = eng_conn
    st = _rc_fixture(conn, eng)
    assert st.inc is not None
    assert st.inc.get("recompute_only") is True
    # double sum allowed here: no merge rule ever runs
    assert "s" in st.inc["kinds"]


def test_recompute_only_matches_recompute_through_dml(eng_conn):
    """Inserts (beyond the direct path's delta bound), UPDATE, and
    DELETE all keep the recompute-only MV armed and bit-equal to a
    from-scratch evaluation."""
    conn, eng = eng_conn
    st = _rc_fixture(conn, eng)
    big = pd.DataFrame({
        "p": ["a"] * (eng.DIRECT_MAX_DELTA_ROWS + 88) + ["c"] * 10,
        "v": [float(i) for i in range(eng.DIRECT_MAX_DELTA_ROWS + 98)],
    })
    conn.insert(big, table_name="rt", schema_name="inct", force_flush=True)
    assert st.inc is not None, "big insert delta must stay incremental"
    assert _r6(conn._dispatch("SELECT * FROM inct.m")[1]) == _r6(
        conn._dispatch(RC_SEL)[1]
    )
    conn.execute("UPDATE inct.rt SET v = v + 1 WHERE p = 'b'")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM inct.rt WHERE p = 'c'")
    conn.execute("FLUSH")
    assert st.inc is not None, "DML must stay incremental"
    got = _r6(conn._dispatch("SELECT * FROM inct.m")[1])
    want = _r6(conn._dispatch(RC_SEL)[1])
    assert got == want
    # emptied group c emits Delete; b's change emits the update pair
    ops = [r["op"] for r in eng.changelog_table("inct.m")
           .orderBy("rw_timestamp").collect()]
    assert "Delete" in ops and "UpdateDelete" in ops


def test_recompute_only_where_filters_touched_groups(eng_conn):
    """Delta rows failing the MV's WHERE must not touch (or create)
    groups; passing rows must."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.rt (p STRING, v DOUBLE)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [2.0]}),
                table_name="rt", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.m AS "
        "SELECT p, avg(v) AS a, count(*) AS n FROM inct.rt "
        "WHERE v >= 1 GROUP BY p"
    )
    st = eng.mvs["inct.m"]
    assert st.inc is not None and st.inc.get("recompute_only")
    big = pd.DataFrame({
        "p": ["a"] * 300 + ["x"] * 300,
        "v": [0.5] * 300 + [0.25] * 300,  # ALL filtered by WHERE
    })
    conn.insert(big, table_name="rt", schema_name="inct", force_flush=True)
    assert sorted(conn._dispatch("SELECT * FROM inct.m")[1]) == [("a", 2.0, 1)]
    conn.insert(pd.DataFrame({"p": ["x"], "v": [4.0]}),
                table_name="rt", schema_name="inct", force_flush=True)
    got = sorted(conn._dispatch("SELECT * FROM inct.m")[1])
    assert got == [("a", 2.0, 1), ("x", 4.0, 1)]
    assert st.inc is not None


def test_joinagg_recompute_only_avg_by_dimension(eng_conn):
    """Round 10: the star-join aggregate with non-mergeable aggregates
    (avg/stddev by dimension — THE canonical OLAP MV) arms the
    recompute-only join+agg plan and stays incremental through fact
    inserts, a late-arriving dimension, UPDATE, and DELETE."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.o (uid BIGINT, amt DOUBLE)")
    conn.execute("CREATE TABLE inct.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "amt": [10.0, 20.0, 5.0]}),
                table_name="o", schema_name="inct", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2, 3], "region": ["eu", "us", "eu"]}),
                table_name="u", schema_name="inct", force_flush=True)
    sel = ("SELECT u.region AS region, avg(o.amt) AS aov, count(*) AS n, "
           "stddev(o.amt) AS sd FROM inct.o o JOIN inct.u u "
           "ON o.uid = u.uid GROUP BY u.region")
    conn.execute(f"CREATE MATERIALIZED VIEW inct.m AS {sel}")
    st = eng.mvs["inct.m"]
    assert st.inc_joinagg is not None
    assert st.inc_joinagg.get("recompute_only") is True

    def check():
        got = _r6(conn._dispatch("SELECT * FROM inct.m")[1])
        want = _r6(conn._dispatch(sel)[1])
        assert got == want
        assert st.inc_joinagg is not None, "plan lost"

    conn.insert(pd.DataFrame({"uid": [3, 2], "amt": [7.0, 9.0]}),
                table_name="o", schema_name="inct", force_flush=True)
    check()
    # orphan fact, then its dimension arrives
    conn.insert(pd.DataFrame({"uid": [9], "amt": [99.0]}),
                table_name="o", schema_name="inct", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [9], "region": ["ap"]}),
                table_name="u", schema_name="inct", force_flush=True)
    check()
    conn.execute("UPDATE inct.o SET amt = amt + 1 WHERE uid = 1")
    conn.execute("FLUSH")
    check()
    conn.execute("DELETE FROM inct.o WHERE uid = 9")  # empties group ap
    conn.execute("FLUSH")
    check()
    ops = [r["op"] for r in eng.changelog_table("inct.m")
           .orderBy("rw_timestamp").collect()]
    assert "Delete" in ops and "UpdateDelete" in ops


# ---------------------------------------------------------------------
# Round 12: expression GROUP BY keys (derive-template generalization)
# and N-way plain-join MVs (signed telescoping rule)
# ---------------------------------------------------------------------


def test_expression_group_key_mv_stays_incremental(eng_conn):
    """GROUP BY date_trunc('day', ts), dim — the derive template must
    arm, survive bulk insert / UPDATE / DELETE, and stay bit-equal to
    a from-scratch recompute at every step."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.ek (ts TIMESTAMP, r STRING, v BIGINT)")
    base = pd.Timestamp("2024-03-01 00:00:00")
    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=i) for i in range(8)],
        "r": [f"g{i % 2}" for i in range(8)],
        "v": list(range(8)),
    }), table_name="ek", schema_name="inct", force_flush=True)
    sel = ("SELECT date_trunc('DAY', ts) AS d, r, sum(v) AS s, "
           "count(*) AS n FROM inct.ek GROUP BY date_trunc('DAY', ts), r")
    conn.execute(f"CREATE MATERIALIZED VIEW inct.mek AS {sel}")
    st = eng.mvs["inct.mek"]
    assert st.inc is not None and st.inc["derive_tpl"]
    assert not st.inc["recompute_only"]

    def check():
        assert sorted(conn._dispatch("SELECT * FROM inct.mek")[1]) == sorted(
            conn._dispatch(sel)[1]
        )
        assert st.inc is not None

    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=i) for i in range(8, 80)],
        "r": [f"g{i % 2}" for i in range(8, 80)],
        "v": list(range(8, 80)),
    }), table_name="ek", schema_name="inct", force_flush=True)
    check()
    conn.execute("UPDATE inct.ek SET v = 500 WHERE v = 3")
    conn.execute("FLUSH")
    check()
    conn.execute(
        "DELETE FROM inct.ek WHERE ts >= TIMESTAMP '2024-03-03 00:00:00'"
    )
    conn.execute("FLUSH")
    check()


def test_expression_key_unselected_or_colliding_falls_back(eng_conn):
    """Guards: an expression GROUP BY key NOT selected verbatim, and a
    derive alias colliding with a base column, must both fall back to
    snapshot-diff (never arm) — and still answer correctly."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.ek2 (ts TIMESTAMP, d STRING, v BIGINT)")
    conn.insert(pd.DataFrame({
        "ts": [pd.Timestamp("2024-03-01 05:00:00")], "d": ["x"], "v": [1],
    }), table_name="ek2", schema_name="inct", force_flush=True)
    # alias 'd' collides with base column d
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.mcol AS "
        "SELECT date_trunc('DAY', ts) AS d, sum(v) AS s "
        "FROM inct.ek2 GROUP BY date_trunc('DAY', ts)"
    )
    assert eng.mvs["inct.mcol"].inc is None
    # expression key selected under NO alias match (only count selected)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.mnosel AS "
        "SELECT count(*) AS n FROM inct.ek2 GROUP BY date_trunc('DAY', ts)"
    )
    assert eng.mvs["inct.mnosel"].inc is None
    conn.insert(pd.DataFrame({
        "ts": [pd.Timestamp("2024-03-02 07:00:00")], "d": ["y"], "v": [4],
    }), table_name="ek2", schema_name="inct", force_flush=True)
    assert sorted(conn._dispatch("SELECT * FROM inct.mcol")[1]) == sorted(
        conn._dispatch(
            "SELECT date_trunc('DAY', ts) AS d, sum(v) AS s "
            "FROM inct.ek2 GROUP BY date_trunc('DAY', ts)"
        )[1]
    )


def test_nway_join_mv_matches_recompute_through_dml(spark):
    """3-table plain-join MV on the signed telescoping rule: every DML
    mix (fact append, dim update, fact delete, same-batch churn, late
    dim arrival) must stay armed and bit-equal to a recompute."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS jnw CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/jnw.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="jnw")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE jnw.f (k1 BIGINT, k2 BIGINT, amt BIGINT)")
    conn.execute("CREATE TABLE jnw.d1 (k1 BIGINT, n1 STRING)")
    conn.execute("CREATE TABLE jnw.d2 (k2 BIGINT, n2 STRING)")
    conn.insert(pd.DataFrame({"k1": [1, 2], "n1": ["a", "b"]}),
                table_name="d1", schema_name="jnw", force_flush=True)
    conn.insert(pd.DataFrame({"k2": [10, 20], "n2": ["x", "y"]}),
                table_name="d2", schema_name="jnw", force_flush=True)
    conn.insert(pd.DataFrame({"k1": [1, 1, 2], "k2": [10, 20, 10],
                              "amt": [5, 5, 7]}),
                table_name="f", schema_name="jnw", force_flush=True)
    sel = ("SELECT f.k1 AS k1, f.k2 AS k2, f.amt AS amt, d1.n1 AS n1, "
           "d2.n2 AS n2 FROM jnw.f f JOIN jnw.d1 d1 ON f.k1 = d1.k1 "
           "JOIN jnw.d2 d2 ON f.k2 = d2.k2")
    conn.execute(f"CREATE MATERIALIZED VIEW jnw.m AS {sel}")
    st = eng.mvs["jnw.m"]
    assert st.inc_join_nway is not None

    def check():
        assert sorted(conn._dispatch("SELECT * FROM jnw.m")[1]) == sorted(
            conn._dispatch(sel)[1]
        ), "nway MV diverged from recompute"
        assert st.inc_join_nway is not None, "nway MV demoted"

    conn.insert(pd.DataFrame({"k1": [2], "k2": [20], "amt": [9]}),
                table_name="f", schema_name="jnw", force_flush=True)
    check()
    conn.execute("UPDATE jnw.d1 SET n1 = 'A' WHERE k1 = 1")
    conn.execute("FLUSH")
    check()
    # duplicate fact rows (bag semantics): delete ONE of the (1,10,5)
    # twins via amt rewrite, checking multiplicity handling
    conn.execute("UPDATE jnw.f SET amt = 6 WHERE k2 = 20 AND k1 = 1")
    conn.execute("FLUSH")
    check()
    conn.execute("DELETE FROM jnw.f WHERE amt = 6")
    conn.execute("FLUSH")
    check()
    # same-flush churn on a dim: delete + reinsert the same key
    conn.execute("DELETE FROM jnw.d2 WHERE k2 = 10")
    conn.execute("FLUSH")
    check()
    conn.insert(pd.DataFrame({"k2": [10], "n2": ["X"]}),
                table_name="d2", schema_name="jnw", force_flush=True)
    check()
    # late dim arrival
    conn.insert(pd.DataFrame({"k1": [3], "k2": [10], "amt": [50]}),
                table_name="f", schema_name="jnw", force_flush=True)
    conn.insert(pd.DataFrame({"k1": [3], "n1": ["c"]}),
                table_name="d1", schema_name="jnw", force_flush=True)
    check()


def test_nway_join_guards_reject_outer_and_nonequi(spark):
    """RIGHT/FULL N-way joins and equi-free ON clauses must NOT arm
    (pads that flip from the non-preserved side / nested loops break
    both delta rules). INNER+LEFT star mixes DO arm — on the "star"
    touched-fact plan, never the telescoping one (the correctness leg
    is test_star_left_nway_join_mv_matches_recompute)."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS jng CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/jng.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="jng")
    conn = RisingWaveConnection(eng)
    for t in ("a", "b", "c"):
        conn.execute(f"CREATE TABLE jng.{t} (k BIGINT, v BIGINT)")
        conn.insert(pd.DataFrame({"k": [1], "v": [1]}),
                    table_name=t, schema_name="jng", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW jng.mo AS "
        "SELECT a.k AS k, b.v AS bv, c.v AS cv "
        "FROM jng.a a JOIN jng.b b ON a.k = b.k "
        "LEFT JOIN jng.c c ON a.k = c.k"
    )
    nw = eng.mvs["jng.mo"].inc_join_nway
    assert nw is not None and nw["mode"] == "star"  # never telescoping
    conn.execute(
        "CREATE MATERIALIZED VIEW jng.mr AS "
        "SELECT a.k AS k, b.v AS bv, c.v AS cv "
        "FROM jng.a a JOIN jng.b b ON a.k = b.k "
        "RIGHT JOIN jng.c c ON a.k = c.k"
    )
    assert eng.mvs["jng.mr"].inc_join_nway is None
    conn.execute(
        "CREATE MATERIALIZED VIEW jng.mf AS "
        "SELECT a.k AS k, b.v AS bv, c.v AS cv "
        "FROM jng.a a JOIN jng.b b ON a.k = b.k "
        "FULL JOIN jng.c c ON a.k = c.k"
    )
    assert eng.mvs["jng.mf"].inc_join_nway is None
    conn.execute(
        "CREATE MATERIALIZED VIEW jng.mq AS "
        "SELECT a.k AS k, b.v AS bv, c.v AS cv "
        "FROM jng.a a JOIN jng.b b ON a.k = b.k "
        "JOIN jng.c c ON a.k < c.k"
    )
    assert eng.mvs["jng.mq"].inc_join_nway is None


def test_session_window_mv_matches_recompute_through_dml(eng_conn):
    """Session MV on the touched-span recompute: merge-two-sessions,
    split-by-DELETE, whole-session delete, exact-gap pair (Spark
    merges at distance == gap), and value UPDATE all stay armed and
    bit-equal to a from-scratch recompute."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.sw (ts TIMESTAMP, uid BIGINT, v BIGINT)")
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mins(*m):
        return [base + pd.Timedelta(minutes=x) for x in m]

    conn.insert(pd.DataFrame({"ts": mins(0, 5, 40, 45, 100),
                              "uid": [1, 1, 1, 1, 2],
                              "v": [1, 2, 3, 4, 5]}),
                table_name="sw", schema_name="inct", force_flush=True)
    sel = ("SELECT uid, session_window.start AS s_start, "
           "session_window.end AS s_end, count(*) AS n, sum(v) AS sv "
           "FROM inct.sw GROUP BY session_window(ts, '20 minutes'), uid")
    conn.execute(f"CREATE MATERIALIZED VIEW inct.msw AS {sel}")
    st = eng.mvs["inct.msw"]
    assert st.inc_session is not None

    def check():
        assert sorted(conn._dispatch("SELECT * FROM inct.msw")[1]) == sorted(
            conn._dispatch(sel)[1]
        ), "session MV diverged from recompute"
        assert st.inc_session is not None, "session MV demoted"

    conn.insert(pd.DataFrame({"ts": mins(22), "uid": [1], "v": [9]}),
                table_name="sw", schema_name="inct", force_flush=True)
    check()  # bridge merged two sessions
    conn.execute("DELETE FROM inct.sw WHERE v = 9")
    conn.execute("FLUSH")
    check()  # split back
    conn.insert(pd.DataFrame({"ts": mins(55, 300, 320),
                              "uid": [1, 3, 3], "v": [7, 8, 6]}),
                table_name="sw", schema_name="inct", force_flush=True)
    check()  # extension + exact-gap pair (merges in Spark)
    conn.execute("DELETE FROM inct.sw WHERE uid = 2")
    conn.execute("FLUSH")
    check()  # whole-session delete
    conn.execute("UPDATE inct.sw SET v = 100 WHERE v = 1")
    conn.execute("FLUSH")
    check()  # value-only update
    conn.execute("FLUSH")
    check()  # no-op refresh


def test_session_mv_guards(eng_conn):
    """Shapes the touched-span plan cannot key must NOT arm: missing
    window bound in the select list, no plain partition key, and an
    order-sensitive aggregate."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE inct.sg (ts TIMESTAMP, uid BIGINT, v BIGINT)")
    conn.insert(pd.DataFrame({"ts": [pd.Timestamp("2024-01-01")],
                              "uid": [1], "v": [1]}),
                table_name="sg", schema_name="inct", force_flush=True)
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.msg1 AS "
        "SELECT uid, session_window.start AS s_start, count(*) AS n "
        "FROM inct.sg GROUP BY session_window(ts, '20 minutes'), uid"
    )
    assert eng.mvs["inct.msg1"].inc_session is None  # no end bound
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.msg2 AS "
        "SELECT session_window.start AS s_start, "
        "session_window.end AS s_end, count(*) AS n "
        "FROM inct.sg GROUP BY session_window(ts, '20 minutes')"
    )
    assert eng.mvs["inct.msg2"].inc_session is None  # no plain key
    conn.execute(
        "CREATE MATERIALIZED VIEW inct.msg3 AS "
        "SELECT uid, session_window.start AS s_start, "
        "session_window.end AS s_end, any_value(v) AS av "
        "FROM inct.sg GROUP BY session_window(ts, '20 minutes'), uid"
    )
    assert eng.mvs["inct.msg3"].inc_session is None  # order-sensitive
    # and all three still answer correctly via snapshot-diff
    conn.insert(pd.DataFrame({"ts": [pd.Timestamp("2024-01-01 00:05:00")],
                              "uid": [1], "v": [2]}),
                table_name="sg", schema_name="inct", force_flush=True)
    assert conn._dispatch("SELECT n FROM inct.msg1")[1] == [(2,)]
    assert conn._dispatch("SELECT n FROM inct.msg2")[1] == [(2,)]


def test_joinagg_expression_group_key_stays_incremental(spark):
    """GROUP BY date_trunc(...) over a JOIN+AGG MV arms via the same
    derive-template rule (flat-namespace expressions derived on the
    joined relation), stays armed through fact/dim DML in both the
    mergeable and recompute-only regimes, and matches a recompute."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS jaek CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/jaek.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="jaek")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE jaek.o (ts TIMESTAMP, uid BIGINT, amt BIGINT)")
    conn.execute("CREATE TABLE jaek.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 2], "region": ["eu", "us"]}),
                table_name="u", schema_name="jaek", force_flush=True)
    base = pd.Timestamp("2024-01-01 00:00:00")
    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=i) for i in range(6)],
        "uid": [1, 2, 1, 2, 1, 2], "amt": [10, 20, 30, 40, 50, 60],
    }), table_name="o", schema_name="jaek", force_flush=True)
    sel = ("SELECT date_trunc('DAY', o.ts) AS d, u.region AS region, "
           "sum(o.amt) AS s, count(*) AS n "
           "FROM jaek.o o JOIN jaek.u u ON o.uid = u.uid "
           "GROUP BY date_trunc('DAY', o.ts), u.region")
    conn.execute(f"CREATE MATERIALIZED VIEW jaek.m AS {sel}")
    st = eng.mvs["jaek.m"]
    assert st.inc_joinagg is not None and st.inc_joinagg["derive_tpl"]
    assert not st.inc_joinagg["recompute_only"]

    def check():
        assert sorted(conn._dispatch("SELECT * FROM jaek.m")[1]) == sorted(
            conn._dispatch(sel)[1]
        )
        assert st.inc_joinagg is not None

    conn.insert(pd.DataFrame({
        "ts": [base + pd.Timedelta(hours=30 + i) for i in range(3)],
        "uid": [1, 2, 1], "amt": [7, 8, 9],
    }), table_name="o", schema_name="jaek", force_flush=True)
    check()
    conn.execute("UPDATE jaek.u SET region = 'apac' WHERE uid = 2")
    conn.execute("FLUSH")
    check()
    conn.execute("DELETE FROM jaek.o WHERE amt = 30")
    conn.execute("FLUSH")
    check()
    # avg → recompute-only regime, expression key still armed
    sel2 = ("SELECT date_trunc('DAY', o.ts) AS d, avg(o.amt) AS av "
            "FROM jaek.o o JOIN jaek.u u ON o.uid = u.uid "
            "GROUP BY date_trunc('DAY', o.ts)")
    conn.execute(f"CREATE MATERIALIZED VIEW jaek.m2 AS {sel2}")
    st2 = eng.mvs["jaek.m2"]
    assert st2.inc_joinagg is not None and st2.inc_joinagg["recompute_only"]
    conn.insert(pd.DataFrame({"ts": [base + pd.Timedelta(hours=50)],
                              "uid": [1], "amt": [99]}),
                table_name="o", schema_name="jaek", force_flush=True)
    assert sorted(conn._dispatch("SELECT * FROM jaek.m2")[1]) == sorted(
        conn._dispatch(sel2)[1]
    )
    assert st2.inc_joinagg is not None


def test_outer_interval_join_mv_matches_recompute(spark):
    """LEFT interval join (equi + residual time bound) arms with
    force_retract and matches a recompute through pad flips,
    resurrections, and timestamp updates — the shapes the insert-only
    pad rule cannot maintain."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS oij CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/oij.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="oij")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE oij.a (ts TIMESTAMP, k BIGINT, aid BIGINT)")
    conn.execute("CREATE TABLE oij.b (bts TIMESTAMP, bk BIGINT, bid BIGINT)")
    base = pd.Timestamp("2024-01-01 00:00:00")

    def mins(*x):
        return [base + pd.Timedelta(minutes=i) for i in x]

    conn.insert(pd.DataFrame({"ts": mins(0, 10), "k": [1, 1],
                              "aid": [1, 2]}),
                table_name="a", schema_name="oij", force_flush=True)
    conn.insert(pd.DataFrame({"bts": mins(3), "bk": [1], "bid": [10]}),
                table_name="b", schema_name="oij", force_flush=True)
    sel = ("SELECT a.aid AS aid, b.bid AS bid FROM oij.a a "
           "LEFT JOIN oij.b b ON a.k = b.bk AND b.bts >= a.ts "
           "AND b.bts <= a.ts + INTERVAL 5 MINUTE")
    conn.execute(f"CREATE MATERIALIZED VIEW oij.m AS {sel}")
    st = eng.mvs["oij.m"]
    assert st.inc_join is not None and st.inc_join["force_retract"]

    def check():
        assert sorted(
            conn._dispatch("SELECT * FROM oij.m")[1], key=str
        ) == sorted(conn._dispatch(sel)[1], key=str)
        assert st.inc_join is not None

    # existing-key pad flip (the unsound case for the pad rule)
    conn.insert(pd.DataFrame({"bts": mins(12), "bk": [1], "bid": [11]}),
                table_name="b", schema_name="oij", force_flush=True)
    check()
    # pad resurrection
    conn.execute("DELETE FROM oij.b WHERE bid = 10")
    conn.execute("FLUSH")
    check()
    # window-moving update
    conn.execute(
        "UPDATE oij.a SET ts = TIMESTAMP '2024-01-01 00:09:00' WHERE aid = 1"
    )
    conn.execute("FLUSH")
    check()
    # both sides in one flush
    conn.insert(pd.DataFrame({"ts": mins(30), "k": [2], "aid": [3]}),
                table_name="a", schema_name="oij", force_flush=False)
    conn.insert(pd.DataFrame({"bts": mins(31), "bk": [2], "bid": [12]}),
                table_name="b", schema_name="oij", force_flush=True)
    check()


def test_star_left_nway_join_mv_matches_recompute(spark):
    """fact LEFT JOIN dim LEFT JOIN dim arms the star touched-fact
    mode and matches a recompute through pad flips, dim updates/
    deletes, fact key moves, and multi-side flushes; non-star shapes
    (RIGHT, snowflake LEFT) refuse; all-INNER keeps telescoping."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS snw CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/snw.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="snw")
    conn = RisingWaveConnection(eng)
    conn.execute(
        "CREATE TABLE snw.f (ok BIGINT, ck BIGINT, pk BIGINT, qty BIGINT)"
    )
    conn.execute("CREATE TABLE snw.c (ck BIGINT, cname STRING)")
    conn.execute("CREATE TABLE snw.p (pk BIGINT, pname STRING)")
    conn.insert(pd.DataFrame({"ok": [1, 2, 3], "ck": [10, 10, 99],
                              "pk": [100, 200, 100], "qty": [5, 6, 7]}),
                table_name="f", schema_name="snw", force_flush=True)
    conn.insert(pd.DataFrame({"ck": [10], "cname": ["alice"]}),
                table_name="c", schema_name="snw", force_flush=True)
    conn.insert(pd.DataFrame({"pk": [100], "pname": ["widget"]}),
                table_name="p", schema_name="snw", force_flush=True)
    sel = ("SELECT f.ok AS ok, f.qty AS qty, c.cname AS cname, "
           "p.pname AS pname FROM snw.f f "
           "LEFT JOIN snw.c c ON f.ck = c.ck "
           "LEFT JOIN snw.p p ON f.pk = p.pk")
    conn.execute(f"CREATE MATERIALIZED VIEW snw.m AS {sel}")
    st = eng.mvs["snw.m"]
    assert st.inc_join_nway is not None
    assert st.inc_join_nway["mode"] == "star"
    assert st.inc_join_nway["star_keys"] == [[("ck", "ck")], [("pk", "pk")]]

    def check():
        assert sorted(
            conn._dispatch("SELECT * FROM snw.m")[1], key=str
        ) == sorted(conn._dispatch(sel)[1], key=str)
        assert st.inc_join_nway is not None

    # late dim arrival: pad flip under an existing fact row
    conn.insert(pd.DataFrame({"pk": [200], "pname": ["gadget"]}),
                table_name="p", schema_name="snw", force_flush=True)
    check()
    # dim UPDATE ripples to two fact rows
    conn.execute("UPDATE snw.c SET cname = 'alicia' WHERE ck = 10")
    conn.execute("FLUSH")
    check()
    # dim DELETE: pads resurrect
    conn.execute("DELETE FROM snw.p WHERE pk = 100")
    conn.execute("FLUSH")
    check()
    # fact join-key UPDATE
    conn.execute("UPDATE snw.f SET ck = 50 WHERE ok = 1")
    conn.execute("FLUSH")
    check()
    # multi-side flush: fact + both dims in one batch
    conn.insert(pd.DataFrame({"ok": [5], "ck": [50], "pk": [400],
                              "qty": [9]}),
                table_name="f", schema_name="snw", force_flush=False)
    conn.insert(pd.DataFrame({"ck": [50], "cname": ["carol"]}),
                table_name="c", schema_name="snw", force_flush=False)
    conn.insert(pd.DataFrame({"pk": [400], "pname": ["gizmo"]}),
                table_name="p", schema_name="snw", force_flush=True)
    check()
    conn.execute("DELETE FROM snw.f WHERE ok = 2")
    conn.execute("FLUSH")
    check()

    # guards: RIGHT and snowflake LEFT (dim-to-dim ON) must not arm
    conn.execute(
        "CREATE MATERIALIZED VIEW snw.mr AS SELECT f.ok AS ok, "
        "c.cname AS cname, p.pname AS pname FROM snw.f f "
        "RIGHT JOIN snw.c c ON f.ck = c.ck JOIN snw.p p ON f.pk = p.pk"
    )
    assert eng.mvs["snw.mr"].inc_join_nway is None
    conn.execute(
        "CREATE TABLE snw.d (ck BIGINT, region STRING)"
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW snw.ms AS SELECT f.ok AS ok, "
        "c.cname AS cname, d.region AS region FROM snw.f f "
        "LEFT JOIN snw.c c ON f.ck = c.ck "
        "LEFT JOIN snw.d d ON c.ck = d.ck"
    )
    assert eng.mvs["snw.ms"].inc_join_nway is None
    # all-INNER keeps the cheaper telescoping mode
    conn.execute(
        "CREATE MATERIALIZED VIEW snw.mt AS SELECT f.ok AS ok, "
        "c.cname AS cname FROM snw.f f JOIN snw.c c ON f.ck = c.ck "
        "JOIN snw.p p ON f.pk = p.pk"
    )
    assert eng.mvs["snw.mt"].inc_join_nway is not None
    assert eng.mvs["snw.mt"].inc_join_nway["mode"] == "telescope"


def test_union_all_mv_matches_recompute(spark):
    """UNION ALL MVs arm the linear bag-sum plan and match a recompute
    through appends, filter-crossing updates, deletes, multi-side
    flushes, and an engine restart; plain UNION and aggregate branches
    (structurally detected) refuse."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS unm CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/unm.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="unm")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE unm.web (uid BIGINT, amt BIGINT)")
    conn.execute("CREATE TABLE unm.store (uid BIGINT, amount BIGINT)")
    conn.insert(pd.DataFrame({"uid": [1, 2], "amt": [10, 20]}),
                table_name="web", schema_name="unm", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [3], "amount": [30]}),
                table_name="store", schema_name="unm", force_flush=True)
    sel = ("SELECT uid AS uid, amt AS amount, 'web' AS src FROM unm.web "
           "WHERE amt > 5 "
           "UNION ALL SELECT uid, amount, 'store' FROM unm.store "
           "UNION ALL SELECT uid, amt * 2, 'web2x' FROM unm.web "
           "WHERE amt >= 20")
    conn.execute(f"CREATE MATERIALIZED VIEW unm.m AS {sel}")
    st = eng.mvs["unm.m"]
    assert st.inc_union is not None
    assert len(st.inc_union["branches"]) == 3

    def check(c=conn, s=None):
        s = s or eng.mvs["unm.m"]
        assert sorted(
            c._dispatch("SELECT * FROM unm.m")[1], key=str
        ) == sorted(c._dispatch(sel)[1], key=str)
        assert s.inc_union is not None

    conn.insert(pd.DataFrame({"uid": [4], "amt": [40]}),
                table_name="web", schema_name="unm", force_flush=True)
    check()
    # filtered out by every branch: output unchanged
    conn.insert(pd.DataFrame({"uid": [5], "amt": [3]}),
                table_name="web", schema_name="unm", force_flush=True)
    check()
    conn.execute("UPDATE unm.web SET amt = 25 WHERE uid = 1")
    conn.execute("FLUSH")
    check()
    conn.execute("DELETE FROM unm.store WHERE uid = 3")
    conn.execute("FLUSH")
    check()
    conn.insert(pd.DataFrame({"uid": [6], "amount": [60]}),
                table_name="store", schema_name="unm", force_flush=False)
    conn.insert(pd.DataFrame({"uid": [7], "amt": [70]}),
                table_name="web", schema_name="unm", force_flush=True)
    check()

    # restart: restores as None, re-arms at the first refresh
    eng2 = SparkEngine(spark=spark, default_schema="unm")
    conn2 = RisingWaveConnection(eng2)
    st2 = eng2.mvs["unm.m"]
    assert st2.inc_union is None
    conn2.insert(pd.DataFrame({"uid": [8], "amt": [80]}),
                 table_name="web", schema_name="unm", force_flush=True)
    assert st2.inc_union is not None
    check(conn2, st2)
    conn2.execute("DELETE FROM unm.web WHERE uid = 8")
    conn2.execute("FLUSH")
    check(conn2, st2)

    # guards
    conn2.execute(
        "CREATE MATERIALIZED VIEW unm.md AS SELECT uid AS u FROM unm.web "
        "UNION SELECT uid FROM unm.store"
    )
    assert eng2.mvs["unm.md"].inc_union is None
    conn2.execute(
        "CREATE MATERIALIZED VIEW unm.mg AS "
        "SELECT regr_count(uid, amt) AS u FROM unm.web "
        "UNION ALL SELECT uid FROM unm.store"
    )
    assert eng2.mvs["unm.mg"].inc_union is None


def test_left_joinagg_mv_matches_recompute(spark):
    """LEFT join+agg (counts-including-zero) arms recompute-only and
    matches a recompute through pad flips, zero-group churn, an
    anti-join WHERE (o IS NULL), a 3-way LEFT chain, and restart;
    padded-side GROUP BY keys refuse."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS lja CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/lja.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="lja")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE lja.c (ck BIGINT, cname STRING)")
    conn.execute("CREATE TABLE lja.o (ok BIGINT, ck BIGINT, amt BIGINT)")
    conn.insert(pd.DataFrame({"ck": [1, 2], "cname": ["a", "b"]}),
                table_name="c", schema_name="lja", force_flush=True)
    conn.insert(pd.DataFrame({"ok": [10], "ck": [1], "amt": [100]}),
                table_name="o", schema_name="lja", force_flush=True)
    sel = ("SELECT c.ck AS ck, count(o.ok) AS n, sum(o.amt) AS total "
           "FROM lja.c c LEFT JOIN lja.o o ON c.ck = o.ck GROUP BY c.ck")
    conn.execute(f"CREATE MATERIALIZED VIEW lja.m AS {sel}")
    st = eng.mvs["lja.m"]
    assert st.inc_joinagg is not None
    assert st.inc_joinagg["recompute_only"]
    assert st.inc_joinagg["hows"] == ["left"]

    def check(s=None, q=sel, mv="lja.m"):
        s = s if s is not None else eng.mvs["lja.m"]
        assert sorted(
            conn._dispatch(f"SELECT * FROM {mv}")[1], key=str
        ) == sorted(conn._dispatch(q)[1], key=str)
        assert s.inc_joinagg is not None

    # zero-count pad flip and back
    conn.insert(pd.DataFrame({"ok": [20], "ck": [2], "amt": [200]}),
                table_name="o", schema_name="lja", force_flush=True)
    check()
    conn.execute("DELETE FROM lja.o WHERE ok = 20")
    conn.execute("FLUSH")
    check()
    # dim churn
    conn.insert(pd.DataFrame({"ck": [3], "cname": ["c"]}),
                table_name="c", schema_name="lja", force_flush=True)
    check()
    conn.execute("DELETE FROM lja.c WHERE ck = 1")
    conn.execute("FLUSH")
    check()

    # anti-join: WHERE o.ok IS NULL — touched keys must NOT be
    # narrowed by the filter
    sel2 = ("SELECT c.ck AS ck, count(*) AS n FROM lja.c c "
            "LEFT JOIN lja.o o ON c.ck = o.ck "
            "WHERE o.ok IS NULL GROUP BY c.ck")
    conn.execute(f"CREATE MATERIALIZED VIEW lja.manti AS {sel2}")
    st2 = eng.mvs["lja.manti"]
    assert st2.inc_joinagg is not None
    conn.insert(pd.DataFrame({"ok": [40], "ck": [3], "amt": [1]}),
                table_name="o", schema_name="lja", force_flush=True)
    check(st2, sel2, "lja.manti")
    conn.execute("DELETE FROM lja.o WHERE ok = 40")
    conn.execute("FLUSH")
    check(st2, sel2, "lja.manti")

    # 3-way chain: the deep side binds o, not c
    conn.execute("CREATE TABLE lja.s (ok BIGINT, carrier STRING)")
    conn.insert(pd.DataFrame({"ok": [10], "carrier": ["ups"]}),
                table_name="s", schema_name="lja", force_flush=True)
    sel3 = ("SELECT c.ck AS ck, count(o.ok) AS n, count(s.carrier) AS ns "
            "FROM lja.c c LEFT JOIN lja.o o ON c.ck = o.ck "
            "LEFT JOIN lja.s s ON o.ok = s.ok GROUP BY c.ck")
    conn.execute(f"CREATE MATERIALIZED VIEW lja.m3 AS {sel3}")
    st3 = eng.mvs["lja.m3"]
    assert st3.inc_joinagg is not None
    conn.execute("DELETE FROM lja.s WHERE ok = 10")
    conn.execute("FLUSH")
    check(st3, sel3, "lja.m3")

    # padded-side GROUP BY key refuses
    conn.execute(
        "CREATE MATERIALIZED VIEW lja.mg AS SELECT o.ck AS ck, "
        "count(*) AS n FROM lja.c c LEFT JOIN lja.o o ON c.ck = o.ck "
        "GROUP BY o.ck"
    )
    assert eng.mvs["lja.mg"].inc_joinagg is None

    # restart re-arm
    eng2 = SparkEngine(spark=spark, default_schema="lja")
    conn2 = RisingWaveConnection(eng2)
    st_r = eng2.mvs["lja.m"]
    assert st_r.inc_joinagg is None
    conn2.insert(pd.DataFrame({"ok": [60], "ck": [2], "amt": [7]}),
                 table_name="o", schema_name="lja", force_flush=True)
    assert st_r.inc_joinagg is not None
    assert sorted(
        conn2._dispatch("SELECT * FROM lja.m")[1], key=str
    ) == sorted(conn2._dispatch(sel)[1], key=str)


def test_select_distinct_mv_matches_recompute(spark):
    """SELECT DISTINCT arms the touched-value membership plan and
    matches a recompute through duplicate churn, partial/last-row
    deletes, value-moving and WHERE-crossing updates, NULLs,
    expression projections, and restart; aggregates refuse."""
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS dxm CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/dxm.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="dxm")
    conn = RisingWaveConnection(eng)
    conn.execute("CREATE TABLE dxm.ev (uid BIGINT, etype STRING, amt BIGINT)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "etype": ["c", "c", "v"],
                              "amt": [5, 6, 7]}),
                table_name="ev", schema_name="dxm", force_flush=True)
    sel = "SELECT DISTINCT uid AS uid, etype AS etype FROM dxm.ev WHERE amt > 0"
    conn.execute(f"CREATE MATERIALIZED VIEW dxm.m AS {sel}")
    st = eng.mvs["dxm.m"]
    assert st.inc_distinct is not None

    def check(c=conn, s=None):
        s = s or st
        assert sorted(
            c._dispatch("SELECT * FROM dxm.m")[1], key=str
        ) == sorted(c._dispatch(sel)[1], key=str)
        assert s.inc_distinct is not None

    conn.insert(pd.DataFrame({"uid": [1], "etype": ["c"], "amt": [9]}),
                table_name="ev", schema_name="dxm", force_flush=True)
    check()
    conn.execute("DELETE FROM dxm.ev WHERE amt = 5")
    conn.execute("FLUSH")
    check()  # partial delete: membership survives
    conn.execute("DELETE FROM dxm.ev WHERE uid = 2")
    conn.execute("FLUSH")
    check()  # last-row delete: membership dies
    conn.execute("UPDATE dxm.ev SET etype = 'v' WHERE uid = 1")
    conn.execute("FLUSH")
    check()  # value-moving update
    conn.execute("UPDATE dxm.ev SET amt = 0 WHERE uid = 1")
    conn.execute("FLUSH")
    check()  # WHERE-crossing update
    conn.insert(pd.DataFrame({"uid": [4], "etype": [None], "amt": [2]}),
                table_name="ev", schema_name="dxm", force_flush=True)
    check()  # NULL membership

    # expression projection arms too
    sel2 = "SELECT DISTINCT upper(etype) AS e FROM dxm.ev"
    conn.execute(f"CREATE MATERIALIZED VIEW dxm.m2 AS {sel2}")
    st2 = eng.mvs["dxm.m2"]
    assert st2.inc_distinct is not None
    conn.insert(pd.DataFrame({"uid": [9], "etype": ["x"], "amt": [3]}),
                table_name="ev", schema_name="dxm", force_flush=True)
    assert sorted(
        conn._dispatch("SELECT * FROM dxm.m2")[1], key=str
    ) == sorted(conn._dispatch(sel2)[1], key=str)
    assert st2.inc_distinct is not None

    # restart re-arm
    eng2 = SparkEngine(spark=spark, default_schema="dxm")
    conn2 = RisingWaveConnection(eng2)
    st_r = eng2.mvs["dxm.m"]
    assert st_r.inc_distinct is None
    conn2.insert(pd.DataFrame({"uid": [5], "etype": ["z"], "amt": [8]}),
                 table_name="ev", schema_name="dxm", force_flush=True)
    assert st_r.inc_distinct is not None
    check(conn2, st_r)

    # guard: aggregate under DISTINCT refuses
    conn2.execute(
        "CREATE MATERIALIZED VIEW dxm.mg AS "
        "SELECT DISTINCT max(amt) AS m FROM dxm.ev"
    )
    assert eng2.mvs["dxm.mg"].inc_distinct is None
