"""Round-11 epoch manifest (engine._changelog_epochs): the per-flush
replacement for SHOW PARTITIONS. Correctness surface: the in-memory
set must never go stale — in-process commits update it directly,
FOREIGN-engine commits must be detected through the on-disk commit
marker (one os.stat per use), and vacuum rewrites must force a
re-list."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import drop_schema


@pytest.fixture()
def fresh(spark):
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    drop_schema(spark, "mant")  # debris of an earlier run
    eng = SparkEngine(spark=spark, default_schema="mant")
    yield RisingWaveConnection(eng), eng
    drop_schema(spark, "mant")


def test_manifest_tracks_in_process_commits(fresh):
    conn, eng = fresh
    conn.execute("CREATE TABLE mant.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="mant", force_flush=True)
    cl = eng.changelog_name("mant.t")
    eps1 = set(eng._changelog_epochs(cl))  # copy: the cache set is live
    assert eps1 and max(eps1) == eng._changelog_max_epoch(cl)
    assert set(eng._changelog_epochs(cl)) == eps1
    conn.insert(pd.DataFrame({"p": ["b"], "v": [2]}),
                table_name="t", schema_name="mant", force_flush=True)
    eps2 = set(eng._changelog_epochs(cl))
    assert max(eps2) > max(eps1), "own commit must appear without a re-list"


def test_manifest_sees_foreign_engine_commits(spark, fresh):
    """A SECOND engine over the same warehouse commits epochs; the
    first engine's manifest must pick them up via the marker bump —
    this is the cross-process staleness hazard the commit marker
    exists for."""
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    conn, eng = fresh
    conn.execute("CREATE TABLE mant.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="mant", force_flush=True)
    cl = eng.changelog_name("mant.t")
    m0 = eng._changelog_max_epoch(cl)  # hydrates eng's manifest

    eng2 = SparkEngine(spark=spark, default_schema="mant")
    conn2 = RisingWaveConnection(eng2)
    conn2.insert(pd.DataFrame({"p": ["z"], "v": [9]}),
                 table_name="t", schema_name="mant", force_flush=True)
    m2 = eng2._changelog_max_epoch(cl)
    assert m2 > m0
    # eng's cached manifest is stale in memory — the marker stat must
    # force a re-list and surface eng2's epoch
    assert eng._changelog_max_epoch(cl) == m2


def test_manifest_survives_vacuum_rewrite(fresh):
    """Vacuum rewrites the changelog into a new directory; the
    manifest must re-list (truncated epochs leave the set) instead of
    serving the pre-vacuum epochs."""
    import time as _t

    conn, eng = fresh
    conn.execute("CREATE TABLE mant.t (p STRING, v BIGINT)")
    for i in range(4):
        conn.insert(pd.DataFrame({"p": ["a"], "v": [i]}),
                    table_name="t", schema_name="mant", force_flush=True)
    conn.execute(
        "CREATE SUBSCRIPTION mant.s FROM mant.t WITH (retention = '1s')"
    )
    cl = eng.changelog_name("mant.t")
    before = set(eng._changelog_epochs(cl))  # copy
    assert len(before) >= 4
    _t.sleep(1.2)
    # a new epoch younger than the cutoff keeps the changelog alive
    conn.insert(pd.DataFrame({"p": ["b"], "v": [99]}),
                table_name="t", schema_name="mant", force_flush=True)
    eng.vacuum_changelogs()
    after = set(eng._changelog_epochs(cl))
    assert after and after < before | after
    assert min(after) > min(before), "expired epochs must leave the manifest"
    assert max(after) == eng._changelog_max_epoch(cl)


def test_manifest_content_signature_same_size_drift(fresh):
    """A foreign writer that lands a SAME-LENGTH marker write inside
    the same mtime granule is invisible to a (mtime, size) signature;
    the round-12 content token must still force a re-list."""
    import os

    conn, eng = fresh
    conn.execute("CREATE TABLE mant.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="mant", force_flush=True)
    cl = eng.changelog_name("mant.t")
    eng._changelog_max_epoch(cl)  # hydrate the manifest
    loc = eng._relation(cl)["loc"]
    marker = eng._epoch_marker_path(loc)
    st = os.stat(marker)
    with open(marker) as fh:
        old = fh.read()
    # same length, different content; pin mtime back to the old value
    # (the coarse-filesystem collision the signature must survive)
    new = old[:-1] + ("0" if old[-1] != "0" else "1")
    with open(marker, "w") as fh:
        fh.write(new)
    os.utime(marker, ns=(st.st_atime_ns, st.st_mtime_ns))
    ent = eng._epoch_cache[cl]
    assert ent["sig"][:2] == (st.st_mtime_ns, st.st_size)
    # the cached sig no longer matches on CONTENT → re-list, fresh sig
    eng._changelog_epochs(cl)
    assert eng._epoch_cache[cl]["sig"][2] == new


def test_touch_marker_rejects_foreign_interleaved_write(fresh, monkeypatch):
    """A foreign commit landing between _touch_epoch_marker's write
    and its read-back must NOT be absorbed into the cached signature:
    the entry is dropped so the next use re-lists (previously the
    foreign epoch was skipped forever)."""
    conn, eng = fresh
    conn.execute("CREATE TABLE mant.t (p STRING, v BIGINT)")
    conn.insert(pd.DataFrame({"p": ["a"], "v": [1]}),
                table_name="t", schema_name="mant", force_flush=True)
    cl = eng.changelog_name("mant.t")
    eng._changelog_max_epoch(cl)
    assert cl in eng._epoch_cache
    real = eng._read_marker_sig

    def foreign_then_read(marker):
        with open(marker, "w") as fh:
            fh.write("999:feedfacefeedface")  # the interleaved foreign write
        return real(marker)

    monkeypatch.setattr(eng, "_read_marker_sig", foreign_then_read)
    eng._touch_epoch_marker(cl, epoch=12345)
    assert cl not in eng._epoch_cache, (
        "foreign token read back after our write must drop the entry"
    )
