"""Round 11: Spark-side O(delta) incremental maintenance for WINDOWED
MVs (the tumble/hop-rewritten derived tables), plus the two blocker
relaxations — HAVING (publication-time gate) and DISTINCT aggregates
(recompute-only regime). The reference treats windowed MVs and both
SQL features as first-class streaming state
(/root/reference/demo.py:98-100 for the canonical tumble MV); before
this round a bulk delta on those shapes fell from the 512-row direct
cap straight to O(base) snapshot-diff.

Every scenario asserts BOTH the armed plan (st.inc survives — a
demotion to snapshot-diff clears it) and bit-equality with a
from-scratch recompute after each leg."""

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

    drop_schema(spark, "winc")  # debris of an earlier run
    eng = SparkEngine(spark=spark, default_schema="winc")
    yield RisingWaveConnection(eng), eng
    drop_schema(spark, "winc")


def _bulk_ticks(n: int, start: str = "2024-01-01 00:00:00") -> pd.DataFrame:
    # n rows spread over n seconds → many 15s windows, several groups
    base = pd.Timestamp(start)
    return pd.DataFrame({
        "symbol": ["eth" if i % 3 else "btc" for i in range(n)],
        "ts": [base + pd.Timedelta(seconds=i) for i in range(n)],
        "close": [100.0 + (i % 37) for i in range(n)],
        "qty": [1 + (i % 7) for i in range(n)],
    })


TUMBLE_SEL = (
    "SELECT window_start, window_end, symbol, sum(qty) AS s, "
    "count(*) AS n FROM tumble(winc.tick, ts, interval '15 seconds') "
    "GROUP BY window_start, window_end, symbol"
)


def test_tumble_mv_arms_spark_inc_and_survives_bulk_delta(eng_conn, spark):
    """A bulk insert FAR beyond DIRECT_MAX_DELTA_ROWS must refresh via
    the Spark O(delta) path — plan stays armed, result bit-equal."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.tick (symbol STRING, ts TIMESTAMP, close DOUBLE, qty BIGINT)")
    conn.insert(_bulk_ticks(30), table_name="tick", schema_name="winc",
                force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {TUMBLE_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None, "tumble derived table must arm the Spark inc path"
    assert st.inc["derive_tpl"] is not None
    assert st.inc["keys"] == ["window_start", "window_end", "symbol"]
    assert not st.inc["recompute_only"], "sum/count tumble MV is mergeable"

    bulk = _bulk_ticks(eng.DIRECT_MAX_DELTA_ROWS + 600,
                       start="2024-01-01 00:00:10")
    conn.insert(bulk, table_name="tick", schema_name="winc", force_flush=True)
    assert st.inc is not None, "bulk delta demoted the windowed MV"
    got = sorted(conn._dispatch("SELECT * FROM winc.m")[1])
    want = sorted(conn._dispatch(TUMBLE_SEL)[1])
    assert got == want


def test_tumble_mv_dml_retraction_keeps_armed(eng_conn):
    """UPDATE/DELETE on the base re-aggregate only the touched windows
    from the DERIVED base relation — armed + bit-equal throughout."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.tick (symbol STRING, ts TIMESTAMP, close DOUBLE, qty BIGINT)")
    conn.insert(_bulk_ticks(40), table_name="tick", schema_name="winc",
                force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {TUMBLE_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None

    conn.execute("UPDATE winc.tick SET close = close * 2 WHERE symbol = 'btc'")
    conn.execute("FLUSH")
    assert st.inc is not None, "UPDATE demoted the windowed MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(TUMBLE_SEL)[1]
    )

    # empty a whole window → its group rows must emit Deletes
    conn.execute(
        "DELETE FROM winc.tick WHERE ts < TIMESTAMP '2024-01-01 00:00:15'"
    )
    conn.execute("FLUSH")
    assert st.inc is not None, "DELETE demoted the windowed MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(TUMBLE_SEL)[1]
    )
    ops = [r["op"] for r in eng.changelog_table("winc.m")
           .orderBy("rw_timestamp").collect()]
    assert "Delete" in ops


HOP_SEL = (
    "SELECT window_start, window_end, count(*) AS n, sum(qty) AS s "
    "FROM hop(winc.tick, ts, interval '15 seconds', interval '30 seconds') "
    "GROUP BY window_start, window_end"
)


def test_hop_mv_arms_and_merges_bulk_delta(eng_conn):
    """Hop = per-row multi-window explode inside the derive template;
    each delta row contributes to size/slide windows."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.tick (symbol STRING, ts TIMESTAMP, close DOUBLE, qty BIGINT)")
    conn.insert(_bulk_ticks(25), table_name="tick", schema_name="winc",
                force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {HOP_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None, "hop derived table must arm the Spark inc path"
    assert st.inc["derive_tpl"] is not None

    bulk = _bulk_ticks(700, start="2024-01-01 00:00:05")
    conn.insert(bulk, table_name="tick", schema_name="winc", force_flush=True)
    assert st.inc is not None, "bulk delta demoted the hop MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(HOP_SEL)[1]
    )

    conn.execute("DELETE FROM winc.tick WHERE close > 120")
    conn.execute("FLUSH")
    assert st.inc is not None, "DELETE demoted the hop MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(HOP_SEL)[1]
    )


def test_tumble_avg_bulk_delta_stays_sparkside(eng_conn):
    """The reference's canonical demo MV (round(avg) over tumble) at
    BULK ingest: beyond the direct cap it must take the recompute-only
    Spark path, not snapshot-diff."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.tick (symbol STRING, ts TIMESTAMP, close DOUBLE, qty BIGINT)")
    conn.insert(_bulk_ticks(20), table_name="tick", schema_name="winc",
                force_flush=True)
    sel = (
        "SELECT window_start, window_end, symbol, round(avg(close)) AS avg_price "
        "FROM tumble(winc.tick, ts, interval '10 seconds') "
        "GROUP BY window_start, window_end, symbol"
    )
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {sel}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None and st.inc["recompute_only"]
    assert st.inc_direct is not None, "small deltas still zero-job"

    bulk = _bulk_ticks(eng.DIRECT_MAX_DELTA_ROWS + 333,
                       start="2024-01-01 00:00:07")
    conn.insert(bulk, table_name="tick", schema_name="winc", force_flush=True)
    assert st.inc is not None, "bulk avg delta demoted the tumble MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(sel)[1]
    )


HAV_SEL = (
    "SELECT p, count(*) AS n, sum(v) AS s FROM winc.t "
    "GROUP BY p HAVING count(*) > 2"
)


def test_having_mv_publication_gate(eng_conn):
    """HAVING arms the recompute-only plan; groups crossing the
    threshold in either direction emit Insert/Delete."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"] * 3 + ["b"] * 2, "v": [1, 2, 3, 4, 5]}),
                table_name="t", schema_name="winc", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {HAV_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None, "HAVING MV must arm the recompute-only plan"
    assert st.inc["recompute_only"] and st.inc["having"]
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == [("a", 3, 6)]

    # b crosses INTO the predicate → Insert
    conn.insert(pd.DataFrame({"p": ["b"], "v": [6]}),
                table_name="t", schema_name="winc", force_flush=True)
    assert st.inc is not None
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(HAV_SEL)[1]
    ) == [("a", 3, 6), ("b", 3, 15)]

    # a drops OUT of the predicate → Delete
    conn.execute("DELETE FROM winc.t WHERE p = 'a' AND v > 1")
    conn.execute("FLUSH")
    assert st.inc is not None, "DELETE demoted the HAVING MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(HAV_SEL)[1]
    ) == [("b", 3, 15)]
    ops = [r["op"] for r in eng.changelog_table("winc.m")
           .orderBy("rw_timestamp").collect()]
    assert "Delete" in ops and "Insert" in ops

    # UPDATE leg: values change inside a still-qualifying group
    conn.execute("UPDATE winc.t SET v = v + 10 WHERE p = 'b'")
    conn.execute("FLUSH")
    assert st.inc is not None
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(HAV_SEL)[1]
    )


DIST_SEL = (
    "SELECT p, count(DISTINCT u) AS users, sum(v) AS s FROM winc.t "
    "GROUP BY p"
)


def test_count_distinct_mv_recompute_only(eng_conn):
    """count(DISTINCT) is deterministic → recompute-only arming; the
    touched-group re-agg is wholesale so distinctness is exact through
    inserts, duplicate users, UPDATE and DELETE."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.t (p STRING, u BIGINT, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a", "b"], "u": [1, 1, 2],
                              "v": [10, 20, 30]}),
                table_name="t", schema_name="winc", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {DIST_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None, "count(DISTINCT) MV must arm recompute-only"
    assert st.inc["recompute_only"]
    assert st.inc["kinds"]["users"] == "recompute"
    assert st.inc["kinds"]["s"] == "sum", "plain sum stays mergeable-typed"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == [
        ("a", 1, 30), ("b", 1, 30)]

    # duplicate user in the delta must NOT bump the distinct count
    conn.insert(pd.DataFrame({"p": ["a", "a"], "u": [1, 3], "v": [1, 2]}),
                table_name="t", schema_name="winc", force_flush=True)
    assert st.inc is not None
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(DIST_SEL)[1]
    ) == [("a", 2, 33), ("b", 1, 30)]

    conn.execute("UPDATE winc.t SET u = 9 WHERE p = 'b'")
    conn.execute("FLUSH")
    conn.execute("DELETE FROM winc.t WHERE p = 'a' AND u = 3")
    conn.execute("FLUSH")
    assert st.inc is not None, "DML demoted the count(DISTINCT) MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(DIST_SEL)[1]
    )


def test_sum_distinct_never_merges_groupwise(eng_conn):
    """sum(DISTINCT x) must be planned as recompute — a group-wise
    merge of per-delta distinct sums would double-count values seen in
    both the stored state and the delta."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a", "a"], "v": [5, 5]}),
                table_name="t", schema_name="winc", force_flush=True)
    sel = "SELECT p, sum(DISTINCT v) AS sd FROM winc.t GROUP BY p"
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {sel}")
    st = eng.mvs["winc.m"]
    assert st.inc is not None and st.inc["kinds"]["sd"] == "recompute"
    # v=5 arrives AGAIN: a naive merge would yield 10
    conn.insert(pd.DataFrame({"p": ["a"], "v": [5]}),
                table_name="t", schema_name="winc", force_flush=True)
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == [("a", 5)]
    assert st.inc is not None


def test_order_sensitive_aggs_stay_blocked(eng_conn):
    """mode()/max_by() can break ties differently between a touched-
    group re-agg and a from-scratch recompute — never armed."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.t (p STRING, v BIGINT, w BIGINT)")
    conn.execute(
        "CREATE MATERIALIZED VIEW winc.m5 AS "
        "SELECT p, mode(v) AS m FROM winc.t GROUP BY p"
    )
    assert eng.mvs["winc.m5"].inc is None
    conn.execute(
        "CREATE MATERIALIZED VIEW winc.m6 AS "
        "SELECT p, max_by(v, w) AS mb FROM winc.t GROUP BY p"
    )
    assert eng.mvs["winc.m6"].inc is None


IVJ_SEL = (
    "SELECT c.event_id AS click_id, p.event_id AS purchase_id, "
    "c.user_id AS uid, c.ts AS click_ts, p.ts AS purchase_ts "
    "FROM winc.ev c JOIN winc.ev p ON c.user_id = p.user_id "
    "AND c.et = 'click' AND p.et = 'purchase' "
    "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE"
)


def test_interval_join_mv_incremental(eng_conn):
    """Round 11 (#7): the interval-join MV (equi key + time-bound
    residual ON terms, a SELF join) arms the incremental join plan and
    stays armed + bit-equal through inserts, UPDATE and DELETE."""
    conn, eng = eng_conn
    conn.execute(
        "CREATE TABLE winc.ev (event_id BIGINT, user_id BIGINT, "
        "et STRING, ts TIMESTAMP)"
    )
    t0 = pd.Timestamp("2024-03-01 12:00:00")
    ev = pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [7, 7, 8, 8],
        "et": ["click", "purchase", "click", "purchase"],
        # user 7 purchase inside the 10-minute bound, user 8 outside
        "ts": [t0, t0 + pd.Timedelta(minutes=5),
               t0, t0 + pd.Timedelta(minutes=25)],
    })
    conn.insert(ev, table_name="ev", schema_name="winc", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {IVJ_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc_join is not None, "interval join must arm the inc join plan"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(IVJ_SEL)[1]
    )
    assert len(conn._dispatch("SELECT * FROM winc.m")[1]) == 1

    # new purchase inside user-8's bound + a new click matching an
    # EXISTING purchase (both delta directions of the bilinear rule)
    more = pd.DataFrame({
        "event_id": [5, 6],
        "user_id": [8, 7],
        "et": ["purchase", "click"],
        "ts": [t0 + pd.Timedelta(minutes=8), t0 + pd.Timedelta(minutes=2)],
    })
    conn.insert(more, table_name="ev", schema_name="winc", force_flush=True)
    assert st.inc_join is not None, "insert delta demoted the interval join MV"
    got = sorted(conn._dispatch("SELECT * FROM winc.m")[1])
    assert got == sorted(conn._dispatch(IVJ_SEL)[1]) and len(got) == 3

    # UPDATE moves a purchase outside the bound → its pair retracts
    conn.execute(
        "UPDATE winc.ev SET ts = TIMESTAMP '2024-03-01 13:00:00' "
        "WHERE event_id = 2"
    )
    conn.execute("FLUSH")
    assert st.inc_join is not None, "UPDATE demoted the interval join MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(IVJ_SEL)[1]
    )

    conn.execute("DELETE FROM winc.ev WHERE et = 'click' AND user_id = 8")
    conn.execute("FLUSH")
    assert st.inc_join is not None, "DELETE demoted the interval join MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(IVJ_SEL)[1]
    )


def test_interval_join_outer_arms_forced_retraction(eng_conn):
    """Residual ON terms + outer join: the insert-only pad rule is
    unsound here (a pad can flip without a key-set change), so the
    plan arms ONLY with force_retract — every batch takes the
    touched-key retraction branch, which is exact for pads under
    residuals (correctness leg:
    test_outer_interval_join_mv_matches_recompute)."""
    conn, eng = eng_conn
    conn.execute(
        "CREATE TABLE winc.ev (event_id BIGINT, user_id BIGINT, "
        "et STRING, ts TIMESTAMP)"
    )
    conn.execute(
        "CREATE MATERIALIZED VIEW winc.mo AS "
        "SELECT c.event_id AS cid, p.event_id AS pid "
        "FROM winc.ev c LEFT JOIN winc.ev p ON c.user_id = p.user_id "
        "AND p.ts >= c.ts"
    )
    ij = eng.mvs["winc.mo"].inc_join
    assert ij is not None and ij["force_retract"]


JAHD_SEL = (
    "SELECT u.region AS region, count(DISTINCT o.uid) AS buyers, "
    "sum(o.amt) AS s FROM winc.o o JOIN winc.u u ON o.uid = u.uid "
    "GROUP BY u.region HAVING count(*) > 1"
)


def test_joinagg_having_and_distinct_recompute(eng_conn):
    """Round-11: HAVING + count(DISTINCT) on the N-way join+agg MV arm
    the recompute-only plan — publication gate and exact distinctness
    through fact inserts, UPDATE and DELETE."""
    conn, eng = eng_conn
    conn.execute("CREATE TABLE winc.o (uid BIGINT, amt DOUBLE)")
    conn.execute("CREATE TABLE winc.u (uid BIGINT, region STRING)")
    conn.insert(pd.DataFrame({"uid": [1, 1, 2], "amt": [10.0, 20.0, 5.0]}),
                table_name="o", schema_name="winc", force_flush=True)
    conn.insert(pd.DataFrame({"uid": [1, 2, 3], "region": ["eu", "us", "eu"]}),
                table_name="u", schema_name="winc", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {JAHD_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc_joinagg is not None, "HAVING+DISTINCT joinagg must arm"
    assert st.inc_joinagg["having"] and st.inc_joinagg["recompute_only"]
    assert st.inc_joinagg["kinds"]["buyers"] == "recompute"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == [
        ("eu", 1, 30.0)]

    # us crosses INTO the gate; eu gains a second distinct buyer
    conn.insert(pd.DataFrame({"uid": [2, 3], "amt": [7.0, 9.0]}),
                table_name="o", schema_name="winc", force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(JAHD_SEL)[1]
    ) == [("eu", 2, 39.0), ("us", 1, 12.0)]

    # DELETE drops eu back below the gate → Delete emitted
    conn.execute("DELETE FROM winc.o WHERE uid IN (1, 3)")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "DELETE demoted the joinagg MV"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(JAHD_SEL)[1]
    ) == [("us", 1, 12.0)]
    ops = [r["op"] for r in eng.changelog_table("winc.m")
           .orderBy("rw_timestamp").collect()]
    assert "Delete" in ops and "Insert" in ops


IVJA_SEL = (
    "SELECT c.user_id AS uid, count(*) AS conversions, "
    "sum(p.event_id) AS sid "
    "FROM winc.ev c JOIN winc.ev p ON c.user_id = p.user_id "
    "AND c.et = 'click' AND p.et = 'purchase' "
    "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE "
    "GROUP BY c.user_id"
)


def test_interval_join_agg_mv_incremental(eng_conn):
    """Round-11: interval join + GROUP BY (conversion counting) arms
    the join+agg incremental plan with residual ON terms and stays
    armed + bit-equal through inserts, UPDATE and DELETE."""
    conn, eng = eng_conn
    conn.execute(
        "CREATE TABLE winc.ev (event_id BIGINT, user_id BIGINT, "
        "et STRING, ts TIMESTAMP)"
    )
    t0 = pd.Timestamp("2024-03-01 12:00:00")
    conn.insert(pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [7, 7, 8, 8],
        "et": ["click", "purchase", "click", "purchase"],
        "ts": [t0, t0 + pd.Timedelta(minutes=5),
               t0, t0 + pd.Timedelta(minutes=25)],
    }), table_name="ev", schema_name="winc", force_flush=True)
    conn.execute(f"CREATE MATERIALIZED VIEW winc.m AS {IVJA_SEL}")
    st = eng.mvs["winc.m"]
    assert st.inc_joinagg is not None, (
        "interval join+agg must arm the incremental plan"
    )
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == [(7, 1, 2)]

    conn.insert(pd.DataFrame({
        "event_id": [5, 6], "user_id": [8, 7],
        "et": ["purchase", "click"],
        "ts": [t0 + pd.Timedelta(minutes=8), t0 + pd.Timedelta(minutes=2)],
    }), table_name="ev", schema_name="winc", force_flush=True)
    assert st.inc_joinagg is not None
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(IVJA_SEL)[1]
    )

    conn.execute(
        "UPDATE winc.ev SET ts = TIMESTAMP '2024-03-01 13:00:00' "
        "WHERE event_id = 2"
    )
    conn.execute("FLUSH")
    conn.execute("DELETE FROM winc.ev WHERE event_id = 5")
    conn.execute("FLUSH")
    assert st.inc_joinagg is not None, "DML demoted the interval join+agg"
    assert sorted(conn._dispatch("SELECT * FROM winc.m")[1]) == sorted(
        conn._dispatch(IVJA_SEL)[1]
    )
