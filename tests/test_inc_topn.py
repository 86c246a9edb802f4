"""Incremental (grouped) Top-N MV maintenance — RisingWave's
streaming Top-N operator re-expressed as a partition-local refresh
(SURVEY §2 OVER battery; the reference server maintains these with a
per-group state cache). Invariants under test: the fast path is
taken for the canonical shape, survives arbitrary DML, re-ranks ONLY
touched partitions (untouched ones never emit), refills evictions
from the base after deletes, and stays bit-identical to a
from-scratch recompute at every step."""

from __future__ import annotations

import pandas as pd
import pytest
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow



@pytest.fixture()
def eng_conn(spark):
    import shutil

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql("DROP DATABASE IF EXISTS tnt CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{wh.removeprefix('file:')}/tnt.db", ignore_errors=True)
    eng = SparkEngine(spark=spark, default_schema="tnt")
    return RisingWaveConnection(eng), eng


TOPN_STMT = (
    "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
    "(PARTITION BY p ORDER BY v DESC) AS rnk FROM tnt.t) WHERE rnk <= 2"
)


def _mv_rows(conn, mv="tnt.m"):
    return sorted(conn._dispatch(f"SELECT * FROM {mv}")[1])


def _recompute(conn, stmt=TOPN_STMT):
    return sorted(conn._dispatch(stmt)[1])


def test_topn_fast_path_insert_only_merge(eng_conn):
    """Append-only batches in the canonical SELECT * form maintain the
    MV from stored winners ∪ inserts — fast path asserted at every
    step, result equal to a full recompute."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [10, 9, 5]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {TOPN_STMT}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None, "canonical top-n must take the fast path"
    assert st.inc_topn["merge_ok"], "SELECT * form must allow the merge path"
    assert _mv_rows(conn) == [("a", 9, 2), ("a", 10, 1), ("b", 5, 1)]

    # New winner enters partition a (evicts 9), new partition c born.
    conn.insert(pd.DataFrame({"p": ["a", "c"], "v": [11, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert st.inc_topn is not None, "insert flush demoted the top-n MV"
    assert _mv_rows(conn) == _recompute(conn) == [
        ("a", 10, 2), ("a", 11, 1), ("b", 5, 1), ("c", 1, 1),
    ]

    # Below-threshold insert: partition a is touched but unchanged.
    conn.insert(pd.DataFrame({"p": ["a"], "v": [0]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert st.inc_topn is not None
    assert _mv_rows(conn) == _recompute(conn)


def test_topn_retraction_refills_from_base(eng_conn):
    """Deleting a stored winner promotes the k+1-th row — which was
    NOT stored, so the refill must come from the base table — while
    the MV stays on the fast path."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"] * 4 + ["b"] * 2,
                              "v": [10, 9, 8, 7, 3, 2]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {TOPN_STMT}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None
    assert _mv_rows(conn) == [("a", 9, 2), ("a", 10, 1), ("b", 2, 2), ("b", 3, 1)]

    conn.execute("DELETE FROM tnt.t WHERE p = 'a' AND v = 10")
    conn.execute("FLUSH")
    assert st.inc_topn is not None, "DELETE demoted the top-n MV"
    assert _mv_rows(conn) == _recompute(conn) == [
        ("a", 8, 2), ("a", 9, 1), ("b", 2, 2), ("b", 3, 1),
    ]

    # UPDATE that reorders within the partition.
    conn.execute("UPDATE tnt.t SET v = 20 WHERE p = 'a' AND v = 7")
    conn.execute("FLUSH")
    assert st.inc_topn is not None, "UPDATE demoted the top-n MV"
    assert _mv_rows(conn) == _recompute(conn) == [
        ("a", 9, 2), ("a", 20, 1), ("b", 2, 2), ("b", 3, 1),
    ]


def test_topn_untouched_partitions_never_emit(eng_conn):
    """The changelog of a refresh contains rows of touched partitions
    only — the O(touched) contract that matters at 100 TB."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b", "b"], "v": [4, 3, 2, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {TOPN_STMT}")
    conn.execute("CREATE SUBSCRIPTION tnt.s FROM tnt.m WITH (retention = '86400s')")
    conn.execute("DECLARE tc subscription cursor for tnt.s SINCE 0")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [9]}),
                table_name="t", schema_name="tnt", force_flush=True)
    cols, ch = eng.fetch_cursor("tc", 100)
    assert cols[-2:] == ["op", "rw_timestamp"]
    assert ch, "winner change must emit"
    assert {r[0] for r in ch} == {"a"}, "partition b was untouched"
    ops = sorted((r[0], r[1], r[2], r[-2]) for r in ch)
    assert ops == [
        ("a", 3, 2, "Delete"), ("a", 4, 1, "Delete"),
        ("a", 4, 2, "Insert"), ("a", 9, 1, "Insert"),
    ]


def test_topn_where_filter_gates_touched(eng_conn):
    """Delta rows failing the MV's WHERE never touch a partition: the
    refresh consumes the epoch without rewriting or emitting."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a"], "v": [5, 4]}),
                table_name="t", schema_name="tnt", force_flush=True)
    stmt = (
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY p ORDER BY v DESC) AS rnk FROM tnt.t "
        "WHERE v < 100) WHERE rnk <= 2"
    )
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {stmt}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None
    before = _mv_rows(conn)
    conn.insert(pd.DataFrame({"p": ["a", "z"], "v": [500, 900]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert st.inc_topn is not None
    assert _mv_rows(conn) == before == _recompute(conn, stmt)
    # and a qualifying row still lands
    conn.insert(pd.DataFrame({"p": ["a"], "v": [50]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert _mv_rows(conn) == _recompute(conn, stmt)
    assert ("a", 50, 1) in _mv_rows(conn)


def test_topn_global_no_partition(eng_conn):
    """Ungrouped Top-N (no PARTITION BY) degenerates to one global
    group; inserts merge against stored winners, deletes refill."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "b", "c"], "v": [3, 2, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    stmt = (
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(ORDER BY v DESC) AS rnk FROM tnt.t) WHERE rnk <= 2"
    )
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {stmt}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None
    assert _mv_rows(conn) == [("a", 3, 1), ("b", 2, 2)]
    conn.insert(pd.DataFrame({"p": ["d"], "v": [9]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert st.inc_topn is not None
    assert _mv_rows(conn) == _recompute(conn, stmt) == [("a", 3, 2), ("d", 9, 1)]
    conn.execute("DELETE FROM tnt.t WHERE v = 9")
    conn.execute("FLUSH")
    assert st.inc_topn is not None
    assert _mv_rows(conn) == _recompute(conn, stmt) == [("a", 3, 1), ("b", 2, 2)]


def test_topn_projected_columns_base_path(eng_conn):
    """A non-* projection cannot use the stored-winners merge (ranking
    columns may be dropped) but still refreshes partition-locally from
    the base — fast path retained, merge_ok off."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT, note STRING)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [7, 6, 5],
                              "note": ["x", "y", "z"]}),
                table_name="t", schema_name="tnt", force_flush=True)
    stmt = (
        "SELECT p, v, rnk FROM (SELECT p, v, ROW_NUMBER() OVER "
        "(PARTITION BY p ORDER BY v DESC) AS rnk FROM tnt.t) WHERE rnk <= 1"
    )
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {stmt}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None
    assert not st.inc_topn["merge_ok"]
    assert _mv_rows(conn) == [("a", 7, 1), ("b", 5, 1)]
    conn.insert(pd.DataFrame({"p": ["b"], "v": [8], "note": ["w"]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert st.inc_topn is not None
    assert _mv_rows(conn) == _recompute(conn, stmt) == [("a", 7, 1), ("b", 8, 1)]


def test_topn_rn_strict_less_form(eng_conn):
    """`WHERE rnk < 3` is the same plan as `<= 2`."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"] * 3, "v": [3, 2, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    stmt = (
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY p ORDER BY v DESC) AS rnk FROM tnt.t) WHERE rnk < 3"
    )
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {stmt}")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None and st.inc_topn["k"] == 2
    conn.insert(pd.DataFrame({"p": ["a"], "v": [9]}),
                table_name="t", schema_name="tnt", force_flush=True)
    eng.flush()
    assert _mv_rows(conn) == [("a", 3, 2), ("a", 9, 1)]


def test_topn_rearm_after_restart(eng_conn, spark):
    """A restarted engine restores the MV with no plan; the first
    refresh re-derives the top-n fast path from a pinned induction
    base and subsequent flushes stay incremental."""
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "b"], "v": [2, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {TOPN_STMT}")
    assert eng.mvs["tnt.m"].inc_topn is not None

    eng2 = SparkEngine(spark=spark, default_schema="tnt")
    conn2 = RisingWaveConnection(eng2)
    st2 = eng2.mvs["tnt.m"]
    assert st2.inc_topn is None, "fresh MVState restores planless"
    conn2.insert(pd.DataFrame({"p": ["a"], "v": [5]}),
                 table_name="t", schema_name="tnt", force_flush=True)
    eng2.flush()
    assert st2.inc_topn is not None, "re-arm probe must recover the fast path"
    assert _mv_rows(conn2) == _recompute(conn2)
    conn2.insert(pd.DataFrame({"p": ["b"], "v": [7]}),
                 table_name="t", schema_name="tnt", force_flush=True)
    eng2.flush()
    assert st2.inc_topn is not None
    assert _mv_rows(conn2) == _recompute(conn2)


def test_topn_shape_rejections(eng_conn):
    """Non-Top-N OVER shapes stay on snapshot-diff (correct, just not
    the fast path): rank() ties, joins inside the derived table, an
    aggregate outer query."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.execute("CREATE TABLE tnt.u (p STRING, w BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.insert(pd.DataFrame({"p": ["a"], "w": [1]}),
                table_name="u", schema_name="tnt", force_flush=True)
    for i, stmt in enumerate([
        # rank() is not row_number(): top-k cardinality is unbounded
        "SELECT * FROM (SELECT *, RANK() OVER (PARTITION BY p ORDER BY v) "
        "AS rnk FROM tnt.t) WHERE rnk <= 2",
        # join inside the derived table
        "SELECT * FROM (SELECT t.p AS p, ROW_NUMBER() OVER (ORDER BY t.v) "
        "AS rnk FROM tnt.t t JOIN tnt.u u ON t.p = u.p) WHERE rnk <= 2",
        # outer filter on a non-rank column
        "SELECT * FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY v) AS rnk "
        "FROM tnt.t) WHERE v <= 2",
    ]):
        mv = f"tnt.rej{i}"
        conn.execute(f"CREATE MATERIALIZED VIEW {mv} AS {stmt}")
        assert eng.mvs[mv].inc_topn is None, f"shape {i} must not fast-path"
        # still correct via snapshot-diff
        conn.insert(pd.DataFrame({"p": ["b"], "v": [2]}),
                    table_name="t", schema_name="tnt", force_flush=True)
        eng.flush()
        assert _mv_rows(conn, mv) == _recompute(conn, stmt)


def test_topn_changelog_replay_consistency(eng_conn, spark):
    """Folding the MV's changelog on top of the initial materialized
    snapshot reproduces the stored result after a mixed
    insert/delete/update history (the subscription contract: snapshot
    + deltas)."""
    from collections import Counter

    conn, eng = eng_conn
    conn.execute("CREATE TABLE tnt.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [3, 2, 1]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW tnt.m AS {TOPN_STMT}")
    folded: Counter = Counter((r[0], r[1], r[2]) for r in _mv_rows(conn))
    conn.insert(pd.DataFrame({"p": ["a", "b", "c"], "v": [9, 8, 7]}),
                table_name="t", schema_name="tnt", force_flush=True)
    conn.execute("DELETE FROM tnt.t WHERE v = 9")
    conn.execute("FLUSH")
    conn.execute("UPDATE tnt.t SET v = 100 WHERE p = 'c'")
    conn.execute("FLUSH")
    st = eng.mvs["tnt.m"]
    assert st.inc_topn is not None, "history demoted the top-n MV"

    cl = eng.changelog_table("tnt.m").collect()
    for r in sorted(cl, key=lambda r: r["rw_timestamp"]):
        key = (r["p"], r["v"], r["rnk"])
        if r["op"] in ("Insert", "UpdateInsert"):
            folded[key] += 1
        else:
            folded[key] -= 1
    stored = Counter((r[0], r[1], r[2]) for r in _mv_rows(conn))
    assert +folded == stored
    assert _mv_rows(conn) == _recompute(conn)
