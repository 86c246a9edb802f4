"""Commit-driven subscription wakeups: ``Subscription._run`` waits on
the engine after an empty FETCH and a commit to the subscribed
changelog ends the wait, so ``wait_interval_ms`` is only an upper bound.

Every subscriber here runs with a 10 s interval, so a delivery within
1 s can only come from a wakeup, never from the interval running out.
The FETCH counts come from wrapping the engine's ``fetch_cursor``.
"""

from __future__ import annotations

import sys
import threading
import time
import uuid
from collections import Counter

import pytest

from risingwave_py_spark.core import (
    OutputFormat,
    RisingWaveConnection,
    Subscription,
)
from risingwave_py_spark.engine import SparkEngine

INTERVAL_MS = 10_000
WAKE_S = 1.0


@pytest.fixture(scope="module")
def eng(spark):
    schema = f"wake_{uuid.uuid4().hex[:8]}"
    current = spark.catalog.currentDatabase()
    e = SparkEngine(spark=spark, default_schema=schema)
    yield e
    # SparkEngine.sql switches the session to the engine's schema: hand
    # back a database that still exists before dropping this one
    spark.catalog.setCurrentDatabase(
        current if spark.catalog.databaseExists(current) else "default"
    )
    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")


class _Fetches(Counter):
    """FETCHes per cursor. ``hook(cursor, result)``, when set, runs
    after the engine's FETCH and before it counts and returns."""

    hook = None


@pytest.fixture
def fetches(eng, monkeypatch):
    orig = eng.fetch_cursor
    calls = _Fetches()

    def fetch_cursor(cursor, n):
        out = orig(cursor, n)
        if calls.hook is not None:
            calls.hook(cursor, out)
        calls[cursor] += 1
        return out

    monkeypatch.setattr(eng, "fetch_cursor", fetch_cursor)
    return calls


def _table(eng, name: str) -> str:
    fq = f"{eng.default_schema}.{name}_{uuid.uuid4().hex[:6]}"
    RisingWaveConnection(eng).execute(f"CREATE TABLE {fq} (id BIGINT, g STRING, v BIGINT)")
    return fq


def _cursor(fq: str) -> str:
    schema, rel = fq.split(".")
    return f"{schema}.risingwave_py_cursor_default_{rel}_sub"


def _direct_mv(eng, base: str) -> str:
    fq = f"{base}_mv"
    RisingWaveConnection(eng).execute(
        f"CREATE MATERIALIZED VIEW {fq} AS "
        f"SELECT g, sum(v) AS total, count(*) AS n FROM {base} GROUP BY g"
    )
    assert eng.mvs[fq].inc_direct is not None, "MV must be on the direct path"
    return fq


class _Sub:
    """A subscriber on ``fq`` running ``Subscription._run`` in a thread."""

    def __init__(self, eng, fq: str, fetches: Counter,
                 fmt: OutputFormat = OutputFormat.RAW):
        schema, rel = fq.split(".")
        self.stop = threading.Event()
        self.rows: list = []
        self.got = threading.Event()
        self.cursor = _cursor(fq)

        def handler(data) -> None:
            self.rows.extend(
                data.itertuples(index=False, name=None)
                if fmt == OutputFormat.DATAFRAME else data
            )
            self.got.set()

        sub = Subscription(
            conn=RisingWaveConnection(eng), handler=handler, schema_name=schema,
            sub_name=f"{rel}_sub", subscribe_from=rel, retention_seconds=86400,
            persist_progress=False,
        )
        self.thread = threading.Thread(
            target=sub._run, args=(fmt, 10),
            kwargs={"wait_interval_ms": INTERVAL_MS, "stop_event": self.stop},
            daemon=True,
        )
        self.thread.start()
        # the cursor starts at DECLARE: wait for the first (empty) FETCH
        # so every later insert is delivered by a wakeup or the interval
        deadline = time.monotonic() + 30
        while fetches[self.cursor] < 1:
            assert time.monotonic() < deadline, "subscriber never fetched"
            time.sleep(0.01)

    def close(self) -> None:
        self.stop.set()


def _insert(eng, fq: str, *rows: tuple) -> None:
    conn = RisingWaveConnection(eng)
    schema, rel = fq.split(".")
    for i, g, v in rows:
        conn.insert_row(rel, schema_name=schema, force_flush=True, id=i, g=g, v=v)


def _insert_from_thread(eng, fq: str, *rows: tuple) -> float:
    """Insert + FLUSH from another thread; return when it acked."""
    t = threading.Thread(target=_insert, args=(eng, fq, *rows))
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "insert did not finish"
    return time.monotonic()


def _assert_woken(sub: _Sub, acked: float) -> None:
    sub.got.wait(timeout=max(0.0, acked + WAKE_S - time.monotonic()))
    assert sub.rows, (
        f"nothing delivered within {WAKE_S} s of the commit "
        f"({INTERVAL_MS} ms interval): the subscriber was not woken"
    )


def test_table_subscriber_wakes_on_commit(eng, fetches):
    fq = _table(eng, "t")
    sub = _Sub(eng, fq, fetches)
    try:
        _assert_woken(sub, _insert_from_thread(eng, fq, (1, "a", 5)))
        assert [r[:3] for r in sub.rows] == [(1, "a", 5)]
    finally:
        sub.close()


def test_direct_mv_subscriber_wakes_on_commit(eng, fetches):
    base = _table(eng, "m")
    mv = _direct_mv(eng, base)
    sub = _Sub(eng, mv, fetches)
    try:
        _assert_woken(sub, _insert_from_thread(eng, base, (1, "a", 5)))
        assert [r[:3] for r in sub.rows] == [("a", 5, 1)]
    finally:
        sub.close()


def test_dataframe_subscriber_wakes_on_commit(eng, fetches):
    fq = _table(eng, "d")
    sub = _Sub(eng, fq, fetches, fmt=OutputFormat.DATAFRAME)
    try:
        _assert_woken(sub, _insert_from_thread(eng, fq, (1, "a", 5)))
        assert [r[:3] for r in sub.rows] == [(1, "a", 5)]
    finally:
        sub.close()


def test_commit_during_empty_fetch_is_not_lost(eng, fetches):
    """The commit lands after the FETCH read nothing but before the loop
    starts to wait: the count read before the FETCH must end the wait."""
    fq = _table(eng, "l")
    done: list[float] = []

    def commit_during_fetch(cursor, out) -> None:
        if cursor == _cursor(fq) and not out[1] and not done:
            done.append(_insert_from_thread(eng, fq, (1, "a", 5)))

    fetches.hook = commit_during_fetch
    sub = _Sub(eng, fq, fetches)
    try:
        assert done, "the first FETCH did not commit"
        _assert_woken(sub, done[0])
        assert [r[:3] for r in sub.rows] == [(1, "a", 5)]
    finally:
        sub.close()


def test_subscriber_ignores_other_relations_commits(eng, fetches):
    """Inserts into table A and A's MV commits must not wake table B's
    subscriber: each such wake would be an empty FETCH under the
    engine lock in the middle of A's FLUSH."""
    a = _table(eng, "ga")
    _direct_mv(eng, a)
    b = _table(eng, "gb")
    sub = _Sub(eng, b, fetches)
    try:
        _insert(eng, a, (1, "x", 1), (2, "y", 2), (3, "x", 3))
        time.sleep(0.3)
        assert fetches[sub.cursor] == 1, "B's subscriber woke on A's commits"
        assert not sub.rows
        _assert_woken(sub, _insert_from_thread(eng, b, (9, "z", 9)))
        assert [r[:3] for r in sub.rows] == [(9, "z", 9)]
    finally:
        sub.close()


def test_stop_event_ends_the_wait_within_one_interval(eng, fetches):
    sub = _Sub(eng, _table(eng, "s"), fetches)
    t0 = time.monotonic()
    sub.close()
    sub.thread.join(timeout=INTERVAL_MS / 1000 + 5)
    assert not sub.thread.is_alive()
    assert time.monotonic() - t0 < INTERVAL_MS / 1000 + 2


def test_threaded_writer_delivers_every_row_exactly_once(eng, fetches):
    """30 force-flushed inserts from a writer thread against a table
    subscriber and a direct-MV subscriber: every row arrives once, and
    the MV's changelog replays to a fresh recompute."""
    t0 = time.monotonic()
    base = _table(eng, "x")
    mv = _direct_mv(eng, base)
    tsub = _Sub(eng, base, fetches)
    msub = _Sub(eng, mv, fetches)
    rows = [(i, f"g{i % 4}", i * 10) for i in range(30)]
    try:
        writer = threading.Thread(target=_insert, args=(eng, base, *rows))
        writer.start()
        writer.join(timeout=50)
        assert not writer.is_alive(), "writer did not finish"
        conn = RisingWaveConnection(eng)
        want = Counter(conn.fetch(
            f"SELECT g, sum(v) AS total, count(*) AS n FROM {base} GROUP BY g"
        ))

        def replay() -> Counter:
            # keeps negative counts, so a lost Insert fails the match
            bag: Counter = Counter()
            for *row, op, _epoch in list(msub.rows):
                bag[tuple(row)] += 1 if op in ("Insert", "UpdateInsert") else -1
            return Counter({k: v for k, v in bag.items() if v})

        deadline = t0 + 55
        while (len(tsub.rows) < len(rows) or replay() != want) and (
            time.monotonic() < deadline
        ):
            time.sleep(0.05)
        ids = Counter(r[0] for r in tsub.rows)
        assert sorted(ids) == list(range(30)) and set(ids.values()) == {1}, ids
        assert replay() == want
    finally:
        tsub.close()
        msub.close()
    assert time.monotonic() - t0 < 60


def test_commit_count_survives_a_thread_storm(eng):
    """Eight committers (more than cores) and four readers on one
    changelog with a tiny switch interval: no commit is lost from the
    count, and a waiter holding the pre-storm count is woken."""
    fq = _table(eng, "c")
    cl = eng.changelog_name(fq)
    eng.create_subscription(f"{fq}_sub", fq)
    cursor = _cursor(fq)
    eng.declare_cursor(cursor, f"{fq}_sub")
    before = eng.cursor_commits(cursor)
    woken: list[bool] = []
    done = threading.Event()

    def commit() -> None:
        for _ in range(200):
            eng._touch_epoch_marker(cl)

    def read() -> None:
        while not done.is_set():
            eng.cursor_commits(cursor)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        waiter = threading.Thread(
            target=lambda: woken.append(eng.wait_cursor_commit(cursor, before, 30))
        )
        readers = [threading.Thread(target=read) for _ in range(4)]
        committers = [threading.Thread(target=commit) for _ in range(8)]
        for t in [waiter, *readers, *committers]:
            t.start()
        for t in committers:
            t.join(timeout=30)
        done.set()
        for t in [waiter, *readers]:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in [waiter, *readers, *committers])
    finally:
        sys.setswitchinterval(old)
    assert eng.cursor_commits(cursor) == before + 8 * 200
    assert woken == [True]
