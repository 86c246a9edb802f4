"""Stress tests for the engine's concurrency invariants (the three
races flagged in round-1 review, all fixed in engine.py):

1. concurrent FLUSH from several connections must not double-merge an
   incremental MV's delta — `MVState.refresh_lock` serializes the
   whole refresh body (engine.refresh_mv);
2. a vacuum racing a refresh must never silently drop unconsumed
   delta epochs — the vacuum-floor check runs INSIDE the engine lock
   (engine._refresh_incremental), so the worst legal outcome is a
   demotion to snapshot-diff, never a wrong result;
3. same-named delta temp views are schema-qualified and dropped, so
   concurrent refreshes of different MVs can't clobber each other.

Each test's oracle is a from-scratch recompute of the MV query over
the final base table — whatever interleaving happened, the MV must
equal it.
"""

from __future__ import annotations

import json
import os
import threading

import pandas as pd


def _mv_equals_recompute(rw, tag: str) -> None:
    got = sorted(rw.fetch(f"SELECT g, total, n FROM {tag}_mv"))
    want = sorted(
        rw.fetch(f"SELECT g, sum(v) AS total, count(*) AS n FROM {tag} GROUP BY g")
    )
    assert got == want, f"MV diverged from recompute: {got} vs {want}"


def test_concurrent_flush_incremental_mv_no_double_merge(rw):
    tag = "t_conc_flush"
    rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
    rw.execute(f"DROP TABLE IF EXISTS {tag}")
    rw.execute(f"CREATE TABLE {tag} (g STRING, v BIGINT)")
    rw.mv(stmt=f"SELECT g, sum(v) AS total, count(*) AS n FROM {tag} GROUP BY g",
          name=f"{tag}_mv")
    fq = f"public.{tag}_mv"
    assert rw.engine.mvs[fq].inc is not None, "MV should start on the fast path"

    errors: list[Exception] = []

    def worker(i: int) -> None:
        conn = rw.getconn()
        try:
            for j in range(3):
                conn.insert(
                    data=pd.DataFrame({"g": [f"g{j}", f"g{(j + 1) % 3}"],
                                       "v": [i * 10 + j, i]}),
                    table_name=tag,
                    force_flush=True,  # insert + FLUSH -> refresh per call
                )
        except Exception as exc:  # noqa: BLE001 — surface in main thread
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    rw.execute("FLUSH")
    try:
        # Insert-only workload: the MV must still be on the
        # incremental path (no demotion under concurrency) AND exact.
        assert rw.engine.mvs[fq].inc is not None
        _mv_equals_recompute(rw, tag)
    finally:
        rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
        rw.execute(f"DROP TABLE IF EXISTS {tag}")


def test_vacuum_racing_refresh_never_corrupts_mv(rw):
    tag = "t_conc_vac"
    rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
    rw.execute(f"DROP TABLE IF EXISTS {tag}")
    rw.execute(f"CREATE TABLE {tag} (g STRING, v BIGINT)")
    rw.mv(stmt=f"SELECT g, sum(v) AS total, count(*) AS n FROM {tag} GROUP BY g",
          name=f"{tag}_mv")
    # retention '0s': every committed epoch is immediately expirable,
    # so each vacuum pass truncates as aggressively as possible —
    # maximal pressure on the refresh's unconsumed-delta window.
    rw.execute(
        f"CREATE SUBSCRIPTION IF NOT EXISTS public.{tag}_sub FROM public.{tag} "
        "WITH (retention = '0s')"
    )

    errors: list[Exception] = []
    stop = threading.Event()

    def vacuum_loop() -> None:
        try:
            while not stop.is_set():
                rw.engine.vacuum_changelogs()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    vt = threading.Thread(target=vacuum_loop)
    vt.start()
    try:
        conn = rw.getconn()
        for j in range(6):
            conn.insert(
                data=pd.DataFrame({"g": [f"g{j % 2}"], "v": [j]}),
                table_name=tag,
                force_flush=True,
            )
    finally:
        stop.set()
        vt.join()
    assert not errors, errors
    rw.execute("FLUSH")
    try:
        # The MV may legitimately have demoted to snapshot-diff (a
        # vacuum won the race for an unconsumed epoch) — but it must
        # never be WRONG.
        _mv_equals_recompute(rw, tag)
    finally:
        rw.engine.drop_subscription(f"{tag}_sub")
        rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
        rw.execute(f"DROP TABLE IF EXISTS {tag}")


def test_concurrent_refreshes_of_distinct_mvs(rw):
    """Two MVs over two bases refreshed from parallel connections:
    the schema-qualified delta temp views must not cross-talk."""
    tags = ["t_conc_a", "t_conc_b"]
    for tag in tags:
        rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
        rw.execute(f"DROP TABLE IF EXISTS {tag}")
        rw.execute(f"CREATE TABLE {tag} (g STRING, v BIGINT)")
        rw.mv(stmt=f"SELECT g, sum(v) AS total, count(*) AS n FROM {tag} GROUP BY g",
              name=f"{tag}_mv")

    errors: list[Exception] = []

    def worker(tag: str, base: int) -> None:
        conn = rw.getconn()
        try:
            for j in range(3):
                conn.insert(
                    data=pd.DataFrame({"g": [f"g{j}"], "v": [base + j]}),
                    table_name=tag,
                    force_flush=True,
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(tag, 100 * i))
        for i, tag in enumerate(tags)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    rw.execute("FLUSH")
    try:
        for tag in tags:
            _mv_equals_recompute(rw, tag)
    finally:
        for tag in tags:
            rw.execute(f"DROP MATERIALIZED VIEW IF EXISTS {tag}_mv")
            rw.execute(f"DROP TABLE IF EXISTS {tag}")


def test_concurrent_persists_with_stage_gc(spark):
    """Two live engines over one warehouse running DDL storms: each
    DDL writes the next catalog version with exclusive create, so the
    two engines never overwrite each other's version, and each persist
    GCs the superseded versions, which may be the other engine's; both
    engines' final DDL must survive, a fresh engine must restore the
    newest doc, and the log must hold only complete versions, no more
    than it keeps."""
    import uuid

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    tag = uuid.uuid4().hex[:6]
    e1, e2 = SparkEngine(spark), SparkEngine(spark)
    c1, c2 = RisingWaveConnection(e1), RisingWaveConnection(e2)
    errs: list = []

    def storm(conn, who):
        try:
            for i in range(6):
                conn.execute(
                    f"CREATE TABLE t_gc_{tag}_{who}_{i} (k INT)"
                )
        except Exception as e:  # noqa: BLE001
            errs.append((who, e))

    ts = [threading.Thread(target=storm, args=(c, w))
          for c, w in ((c1, "a"), (c2, "b"))]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errs, errs

    e3 = SparkEngine(spark)  # fresh restore sees a consistent doc
    for who in ("a", "b"):
        for i in range(6):
            assert spark.catalog.tableExists(f"public.t_gc_{tag}_{who}_{i}")
    # no partial or stale versions remain
    versions = e3._catalog_versions()
    assert len(versions) <= SparkEngine._CATALOG_VERSIONS_KEPT, versions
    for seq in versions:
        with open(os.path.join(e3._catalog_dir(), f"{seq}.json")) as f:
            json.loads(f.read())  # a half-written version would raise here
    for who in ("a", "b"):
        for i in range(6):
            e3.drop_table(f"t_gc_{tag}_{who}_{i}")
