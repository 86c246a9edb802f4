"""Driver-side (zero-Spark-job) simple-agg MV refresh — the direct
path that closes the reference's insert -> FLUSH -> on_change loop
(/root/reference/risingwave/core.py:541-560) without a single job
dispatch for small insert-only deltas. These tests pin: that the path
actually engages (zero jobs across flush+refresh), that merged results
are bit-equal to a from-scratch recompute, that the changelog emission
matches the Spark paths' contract, and that every ineligible shape
(retractions, large deltas, NaN, restart) falls back and re-arms
without ever double-merging."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
# Long-running sweep: excluded from the default fast lane (pyproject addopts
# -m "not slow"); the full suite runs it via -m "slow or not slow".
pytestmark = pytest.mark.slow


from risingwave_py_spark.core import RisingWaveConnection
from risingwave_py_spark.engine import SparkEngine


@pytest.fixture
def conn(spark):
    schema = f"dmv_{uuid.uuid4().hex[:8]}"
    current = spark.catalog.currentDatabase()
    eng = SparkEngine(spark=spark, default_schema=schema)
    yield RisingWaveConnection(eng), eng, schema
    # SparkEngine.sql switches the session to the engine's schema;
    # later tests resolve unqualified names against the current one
    spark.catalog.setCurrentDatabase(current)
    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


def _no_jobs(spark):
    tracker = spark.sparkContext.statusTracker()

    class Ctx:
        def __enter__(self):
            self.before = tracker.getJobIdsForGroup(None)
            return self

        def __exit__(self, *a):
            self.after = tracker.getJobIdsForGroup(None)

        @property
        def clean(self):
            return self.after == self.before

    return Ctx()


def test_global_agg_runs_zero_jobs_and_matches_recompute(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, sum(v) AS sm, min(v) AS lo, max(v) AS hi "
        f"FROM {s}.ev"
    )
    st = eng.mvs[f"{s}.agg"]
    assert st.inc_direct is not None, "global agg must arm the direct path"
    assert st.inc is None, "no GROUP BY: the Spark inc path cannot arm"
    c.insert_row("ev", schema_name=s, force_flush=True, k=1, v=2.5)
    # steady state: the ENTIRE insert+flush+refresh is job-free
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, k=2, v=-1.0)
        c.insert_row("ev", schema_name=s, force_flush=True, k=3, v=None)
    assert jobs.clean, "insert+flush+MV refresh dispatched Spark jobs"
    assert c.fetch(f"SELECT n, sm, lo, hi FROM {s}.agg") == [(3, 1.5, -1.0, 2.5)]
    # changelog contract: keyless bag diff (Delete old + Insert new)
    ops = [r["op"] for r in eng.changelog_table(f"{s}.agg")
           .orderBy("rw_timestamp").collect()]
    assert ops[-2:] == ["Delete", "Insert"]
    assert st.inc_direct is not None


def test_grouped_agg_direct_matches_recompute_bit_exact(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT p, sum(v) AS total, count(*) AS n, min(v) AS lo, "
        f"max(v) AS hi FROM {s}.t GROUP BY p"
    )
    st = eng.mvs[f"{s}.m"]
    assert st.inc_direct is not None and st.inc is not None
    c.insert(pd.DataFrame({"p": ["a", "b"], "v": [1, 2]}),
             table_name="t", schema_name=s, force_flush=True)
    with _no_jobs(spark) as jobs:
        c.insert_row("t", schema_name=s, force_flush=True, p="a", v=5)
        c.insert_row("t", schema_name=s, force_flush=True, p="c", v=None)
    assert jobs.clean
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT p, sum(v) AS total, count(*) AS n, min(v) AS lo, "
        f"max(v) AS hi FROM {s}.t GROUP BY p"
    ))
    assert got == want == [
        ("a", 6, 2, 1, 5), ("b", 2, 1, 2, 2), ("c", None, 1, None, None)
    ]
    # grouped emission: UpdateDelete/UpdateInsert pairs + Insert
    cl = eng.changelog_table(f"{s}.m")
    last = cl.agg({"rw_timestamp": "max"}).first()[0]
    prev_ops = sorted(
        r["op"] for r in cl.filter(f"rw_timestamp < {last}")
        .orderBy("rw_timestamp").collect()
    )[-2:]
    assert prev_ops == sorted(["UpdateDelete", "UpdateInsert"])


def test_retraction_falls_back_and_stays_correct(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT p, sum(v) AS total FROM {s}.t GROUP BY p"
    )
    c.insert(pd.DataFrame({"p": ["a", "b"], "v": [1, 2]}),
             table_name="t", schema_name=s, force_flush=True)
    c.execute(f"UPDATE {s}.t SET v = 10 WHERE p = 'a'")
    c.execute("FLUSH")
    assert sorted(c.fetch(f"SELECT * FROM {s}.m")) == [("a", 10), ("b", 2)]
    st = eng.mvs[f"{s}.m"]
    # the retraction went through the Spark inc path; direct stays
    # armed (shared watermark) and handles the next small insert
    assert st.inc_direct is not None
    with _no_jobs(spark) as jobs:
        c.insert_row("t", schema_name=s, force_flush=True, p="b", v=3)
    assert jobs.clean
    assert sorted(c.fetch(f"SELECT * FROM {s}.m")) == [("a", 10), ("b", 5)]


def test_large_delta_falls_back_then_rearms(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, sum(v) AS sm FROM {s}.ev"
    )
    st = eng.mvs[f"{s}.agg"]
    limit = eng.DIRECT_MAX_DELTA_ROWS
    big = pd.DataFrame({"k": range(limit + 10), "v": range(limit + 10)})
    c.insert(big, table_name="ev", schema_name=s, force_flush=True)
    want_sum = int(big["v"].sum())
    assert c.fetch(f"SELECT n, sm FROM {s}.agg") == [(limit + 10, want_sum)]
    # global agg: fallback was snapshot-diff, which disarms + re-arms
    st = eng.mvs[f"{s}.agg"]
    assert st.inc_direct is not None, "re-arm probe must restore the direct plan"
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, k=-1, v=7)
    assert jobs.clean
    assert c.fetch(f"SELECT n, sm FROM {s}.agg") == [
        (limit + 11, want_sum + 7)
    ]


def test_engine_restart_rearms_without_double_merge(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, sum(v) AS sm FROM {s}.ev"
    )
    for i in range(3):
        c.insert_row("ev", schema_name=s, force_flush=True, k=i, v=i)
    # same-session engine restart: MVState restores with plans None
    eng2 = SparkEngine(spark=spark, default_schema=s)
    c2 = RisingWaveConnection(eng2)
    st2 = eng2.mvs[f"{s}.agg"]
    assert st2.inc_direct is None
    c2.insert_row("ev", schema_name=s, force_flush=True, k=10, v=10)
    assert c2.fetch(f"SELECT n, sm FROM {s}.agg") == [(4, 13)]
    assert st2.inc_direct is not None, "first refresh re-arms the direct plan"
    with _no_jobs(spark) as jobs:
        c2.insert_row("ev", schema_name=s, force_flush=True, k=11, v=100)
    assert jobs.clean
    assert c2.fetch(f"SELECT n, sm FROM {s}.agg") == [(5, 113)]


def test_nan_delta_falls_back_not_corrupts(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, max(v) AS hi FROM {s}.ev"
    )
    c.insert_row("ev", schema_name=s, force_flush=True, k=1, v=1.0)
    c.insert_row("ev", schema_name=s, force_flush=True, k=2, v=float("nan"))
    # Spark treats NaN as the largest double; the direct path must
    # have bowed out rather than apply Python NaN comparisons
    row = c.fetch(f"SELECT n, hi FROM {s}.agg")[0]
    assert row[0] == 2
    assert row[1] != row[1]  # NaN is the max


def test_decimal_sums_stay_exact(spark, conn):
    import decimal

    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.p (g STRING, amt DECIMAL(10,2))")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT g, sum(amt) AS total FROM {s}.p GROUP BY g"
    )
    st = eng.mvs[f"{s}.m"]
    assert st.inc_direct is not None
    c.insert_row("p", schema_name=s, force_flush=True,
                 g="a", amt=decimal.Decimal("1.10"))
    with _no_jobs(spark) as jobs:
        c.insert_row("p", schema_name=s, force_flush=True,
                     g="a", amt=decimal.Decimal("2.05"))
    assert jobs.clean
    assert c.fetch(f"SELECT g, total FROM {s}.m") == [
        ("a", decimal.Decimal("3.15"))
    ]
    recomputed = c.fetch(f"SELECT g, sum(amt) AS t FROM {s}.p GROUP BY g")
    assert recomputed == [("a", decimal.Decimal("3.15"))]


def test_direct_result_survives_spark_path_interleaving(spark, conn):
    """Alternating direct refreshes, Spark-path retraction refreshes,
    and direct again must agree with recompute at every step — the
    SET LOCATION generation swap and the DROP+RENAME swap have to
    interoperate on one table."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT p, sum(v) AS total, count(*) AS n FROM {s}.t GROUP BY p"
    )
    rng = [("a", 1), ("b", 2), ("a", 3)]
    for p, v in rng:
        c.insert_row("t", schema_name=s, force_flush=True, p=p, v=v)
    c.execute(f"DELETE FROM {s}.t WHERE p = 'b'")
    c.execute("FLUSH")
    c.insert_row("t", schema_name=s, force_flush=True, p="c", v=9)
    c.execute(f"UPDATE {s}.t SET v = v + 1 WHERE p = 'a'")
    c.execute("FLUSH")
    c.insert_row("t", schema_name=s, force_flush=True, p="a", v=100)
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT p, sum(v) AS total, count(*) AS n FROM {s}.t GROUP BY p"
    ))
    assert got == want == [("a", 106, 3), ("c", 9, 1)]


def test_unconsumed_vacuum_disarms_then_rearms_direct(spark, conn):
    """Vacuuming epochs the direct plan has not folded yet must disarm
    it (the delta suffix is gone); the SAME flush falls back to
    snapshot-diff, stays exact, and the re-arm probe restores the
    direct plan from a fresh induction base."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, sum(v) AS sm FROM {s}.ev"
    )
    st = eng.mvs[f"{s}.agg"]
    c.insert_row("ev", schema_name=s, force_flush=True, k=1, v=1)
    assert st.inc_direct is not None
    # publish an epoch the MV has NOT consumed, then vacuum everything
    eng.insert_df(
        "ev", spark.createDataFrame([(2, 2)], "k bigint, v bigint"),
        schema_name=s,
    )
    c.execute(
        f"CREATE SUBSCRIPTION {s}.sub0 FROM {s}.ev WITH (retention = '0s')"
    )
    eng.vacuum_changelogs()
    assert eng.vacuum_floor.get(
        eng.changelog_name(f"{s}.ev"), 0
    ) > st.last_epoch
    c.execute("FLUSH")
    st = eng.mvs[f"{s}.agg"]
    assert c.fetch(f"SELECT n, sm FROM {s}.agg") == [(2, 3)]
    assert st.inc_direct is not None, "same-flush re-arm must recover"
    # and the recovered plan keeps merging job-free
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, k=3, v=3)
    assert jobs.clean
    assert c.fetch(f"SELECT n, sm FROM {s}.agg") == [(3, 6)]

def test_avg_global_zero_jobs_matches_recompute(spark, conn):
    """avg() decomposes into the sum/count companions (VERDICT r9 #1):
    the reference's canonical demo aggregate shape must run the whole
    insert->flush->refresh loop job-free and stay equal to a
    from-scratch recompute."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, avg(v) AS a, round(avg(v), 2) AS r "
        f"FROM {s}.ev"
    )
    st = eng.mvs[f"{s}.agg"]
    assert st.inc_direct is not None, "avg must arm the direct path"
    assert st.direct_aux is not None
    c.insert_row("ev", schema_name=s, force_flush=True, k=1, v=1.0)
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, k=2, v=2.5)
        c.insert_row("ev", schema_name=s, force_flush=True, k=3, v=None)
    assert jobs.clean, "avg-MV refresh dispatched Spark jobs"
    got = c.fetch(f"SELECT n, a, r FROM {s}.agg")
    want = c.fetch(
        f"SELECT count(*) AS n, avg(v) AS a, round(avg(v), 2) AS r "
        f"FROM {s}.ev"
    )
    assert got == want == [(3, 1.75, 1.75)]
    assert st.inc_direct is not None


def test_avg_where_grouped_direct(spark, conn):
    """Grouped avg with a simple WHERE: the Python fold filters delta
    rows with Spark's semantics (NULLs drop, type guards demote)."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT p, count(*) AS n, avg(v) AS a FROM {s}.t "
        f"WHERE v >= 1 GROUP BY p"
    )
    st = eng.mvs[f"{s}.m"]
    assert st.inc_direct is not None
    c.insert(pd.DataFrame({"p": ["a", "a", "b"], "v": [1.0, 3.0, 0.5]}),
             table_name="t", schema_name=s, force_flush=True)
    with _no_jobs(spark) as jobs:
        c.insert_row("t", schema_name=s, force_flush=True, p="a", v=0.25)
        c.insert_row("t", schema_name=s, force_flush=True, p="b", v=4.0)
        c.insert_row("t", schema_name=s, force_flush=True, p="c", v=None)
    assert jobs.clean
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT p, count(*) AS n, avg(v) AS a FROM {s}.t "
        f"WHERE v >= 1 GROUP BY p"
    ))
    assert got == want == [("a", 2, 2.0), ("b", 1, 4.0)]
    assert st.inc_direct is not None


def test_tumble_round_avg_demo_shape_runs_direct(spark, conn):
    """The reference's flagship demo MV (demo.py:98-100): tumble TVF +
    round(avg()) + GROUP BY window/symbol must take the zero-job path,
    with window_start/window_end recomputed per delta row in Python."""
    c, eng, s = conn
    ticks = pd.DataFrame({
        "symbol": ["eth", "eth", "btc"],
        "ts": pd.to_datetime([
            "2024-01-01 00:00:03", "2024-01-01 00:00:07",
            "2024-01-01 00:00:08",
        ]),
        "close": [100.0, 110.0, 50.0],
    })
    c.insert(ticks, table_name="tick", schema_name=s, force_flush=True)
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.tick_10s AS "
        f"SELECT window_start, window_end, symbol, "
        f"round(avg(close)) AS avg_price "
        f"FROM tumble({s}.tick, ts, interval '10 seconds') "
        f"GROUP BY window_start, window_end, symbol"
    )
    st = eng.mvs[f"{s}.tick_10s"]
    assert st.inc_direct is not None, "demo MV shape must arm direct"
    assert st.inc_direct["derived"] is not None
    with _no_jobs(spark) as jobs:
        # same window (touched group) + a brand-new window
        c.insert_row("tick", schema_name=s, force_flush=True,
                     symbol="eth", ts=pd.Timestamp("2024-01-01 00:00:09"),
                     close=130.0)
        c.insert_row("tick", schema_name=s, force_flush=True,
                     symbol="eth", ts=pd.Timestamp("2024-01-01 00:00:14"),
                     close=120.0)
    assert jobs.clean, "tumble avg-MV refresh dispatched Spark jobs"
    got = sorted(c.fetch(f"SELECT * FROM {s}.tick_10s"))
    want = sorted(c.fetch(
        f"SELECT window_start, window_end, symbol, "
        f"round(avg(close)) AS avg_price "
        f"FROM tumble({s}.tick, ts, interval '10 seconds') "
        f"GROUP BY window_start, window_end, symbol"
    ))
    assert got == want
    assert {r[-1] for r in got} == {50.0, 113.0, 120.0}
    assert st.inc_direct is not None


def test_avg_round_half_up_matches_spark(spark, conn):
    """round() finalization must use Spark's HALF_UP-on-shortest-repr
    semantics, not Python's banker's rounding: avg(2,3)=2.5 -> 3.0."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT round(avg(v)) AS r FROM {s}.ev"
    )
    c.insert_row("ev", schema_name=s, force_flush=True, v=2.0)
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, v=3.0)
    assert jobs.clean
    got = c.fetch(f"SELECT r FROM {s}.m")
    want = c.fetch(f"SELECT round(avg(v)) AS r FROM {s}.ev")
    assert got == want == [(3.0,)]


def test_avg_round_hides_change_but_companions_advance(spark, conn):
    """A delta that moves the raw avg but not the ROUNDED value must
    emit nothing — yet the sum/count companions must still advance so
    the NEXT delta merges from the true state."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT round(avg(v)) AS r FROM {s}.ev"
    )
    c.insert_row("ev", schema_name=s, force_flush=True, v=10.0)
    n_ops0 = eng.changelog_table(f"{s}.m").count()
    with _no_jobs(spark) as jobs:
        # avg 10.0 -> 10.2, rounded stays 10.0: no visible change
        c.insert_row("ev", schema_name=s, force_flush=True, v=10.4)
    assert jobs.clean
    assert eng.changelog_table(f"{s}.m").count() == n_ops0
    assert c.fetch(f"SELECT r FROM {s}.m") == [(10.0,)]
    with _no_jobs(spark) as jobs:
        # avg (10+10.4+30)/3 = 16.8 -> 17.0: must merge from the TRUE
        # companions (sum=20.4,n=2), not from the stored rounded value
        c.insert_row("ev", schema_name=s, force_flush=True, v=30.0)
    assert jobs.clean
    got = c.fetch(f"SELECT r FROM {s}.m")
    want = c.fetch(f"SELECT round(avg(v)) AS r FROM {s}.ev")
    assert got == want == [(17.0,)]


def test_avg_large_delta_falls_back_then_rearms_with_companions(spark, conn):
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.ev (k BIGINT, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.agg AS "
        f"SELECT count(*) AS n, avg(v) AS a FROM {s}.ev"
    )
    limit = eng.DIRECT_MAX_DELTA_ROWS
    big = pd.DataFrame({"k": range(limit + 10),
                        "v": [float(i) for i in range(limit + 10)]})
    c.insert(big, table_name="ev", schema_name=s, force_flush=True)
    st = eng.mvs[f"{s}.agg"]
    assert st.inc_direct is not None, "re-arm must restore the avg plan"
    assert st.direct_aux is not None, "re-arm must rebuild companions"
    with _no_jobs(spark) as jobs:
        c.insert_row("ev", schema_name=s, force_flush=True, k=-1, v=7.0)
    assert jobs.clean
    got = c.fetch(f"SELECT n, a FROM {s}.agg")
    want = c.fetch(f"SELECT count(*) AS n, avg(v) AS a FROM {s}.ev")
    assert got == want


def test_where_string_number_coercion_demotes_not_corrupts(spark, conn):
    """WHERE p > 5 over a STRING column: Spark coerces, Python must
    not guess — the fold demotes to the Spark path and stays exact."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v BIGINT)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT count(*) AS n, sum(v) AS sm FROM {s}.t WHERE p > 5"
    )
    c.insert_row("t", schema_name=s, force_flush=True, p="7", v=1)
    c.insert_row("t", schema_name=s, force_flush=True, p="3", v=2)
    got = c.fetch(f"SELECT n, sm FROM {s}.m")
    want = c.fetch(
        f"SELECT count(*) AS n, sum(v) AS sm FROM {s}.t WHERE p > 5"
    )
    assert got == want == [(1, 1)]


def test_avg_companions_refresh_after_inc_path_interleave(spark, conn):
    """A grouped avg MV co-arms the direct path (sum/count companions
    in memory) AND the recompute-only inc path. An inc refresh (big
    delta / DML) rewrites the stored result — it must also recompute
    the companions from the same pinned base, or the NEXT small-delta
    direct merge would fold into stale sums."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.t (p STRING, v DOUBLE)")
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT p, avg(v) AS a, count(*) AS n FROM {s}.t "
        f"WHERE v >= 0 GROUP BY p"
    )
    st = eng.mvs[f"{s}.m"]
    assert st.inc_direct is not None and st.direct_aux is not None
    assert st.inc is not None and st.inc.get("recompute_only")
    c.insert_row("t", schema_name=s, force_flush=True, p="a", v=2.0)
    # big delta -> direct bows out, the inc recompute path handles it
    big = pd.DataFrame({
        "p": ["a"] * (eng.DIRECT_MAX_DELTA_ROWS + 50),
        "v": [1.0] * (eng.DIRECT_MAX_DELTA_ROWS + 50),
    })
    c.insert(big, table_name="t", schema_name=s, force_flush=True)
    assert st.inc_direct is not None, "direct must stay armed"
    # small delta -> the DIRECT merge must see refreshed companions
    with _no_jobs(spark) as jobs:
        c.insert_row("t", schema_name=s, force_flush=True, p="a", v=100.0)
    assert jobs.clean
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT p, avg(v) AS a, count(*) AS n FROM {s}.t "
        f"WHERE v >= 0 GROUP BY p"
    ))
    assert got == want, "direct merge used stale avg companions"
    # DML through the inc retraction branch, then direct again
    c.execute(f"UPDATE {s}.t SET v = 50.0 WHERE v = 100.0")
    c.execute("FLUSH")
    with _no_jobs(spark) as jobs:
        c.insert_row("t", schema_name=s, force_flush=True, p="a", v=7.0)
    assert jobs.clean
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT p, avg(v) AS a, count(*) AS n FROM {s}.t "
        f"WHERE v >= 0 GROUP BY p"
    ))
    assert got == want


def test_tumble_direct_window_boundary_exact(spark, conn):
    """A timestamp exactly on a window edge must land in the NEXT
    window (floor semantics), bit-identical to Spark's rewrite — the
    Python fold recomputes window_start with the same double
    arithmetic, including sub-second microseconds."""
    c, eng, s = conn
    c.execute(f"CREATE TABLE {s}.tick (sym STRING, ts TIMESTAMP, v DOUBLE)")
    c.insert_row("tick", schema_name=s, force_flush=True, sym="a",
                 ts=pd.Timestamp("2024-01-01 00:00:09.999999"), v=1.0)
    c.execute(
        f"CREATE MATERIALIZED VIEW {s}.m AS "
        f"SELECT window_start, sym, avg(v) AS a, count(*) AS n "
        f"FROM tumble({s}.tick, ts, interval '10 seconds') "
        f"GROUP BY window_start, sym"
    )
    st = eng.mvs[f"{s}.m"]
    assert st.inc_direct is not None and st.inc_direct["derived"]
    with _no_jobs(spark) as jobs:
        # exact edge: 00:00:10.000000 -> second window, not the first
        c.insert_row("tick", schema_name=s, force_flush=True, sym="a",
                     ts=pd.Timestamp("2024-01-01 00:00:10"), v=3.0)
        # one microsecond before the edge -> first window (touched)
        c.insert_row("tick", schema_name=s, force_flush=True, sym="a",
                     ts=pd.Timestamp("2024-01-01 00:00:09.999998"), v=5.0)
    assert jobs.clean
    got = sorted(c.fetch(f"SELECT * FROM {s}.m"))
    want = sorted(c.fetch(
        f"SELECT window_start, sym, avg(v) AS a, count(*) AS n "
        f"FROM tumble({s}.tick, ts, interval '10 seconds') "
        f"GROUP BY window_start, sym"
    ))
    assert got == want
    assert [r[-1] for r in got] == [2, 1]
