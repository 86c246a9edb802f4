"""Bucketed-layout variants of the perf-weak TPC-H shapes.

The five fact-heavy benched queries (q5/q7/q9/q10/q18) all pay the
same residual cost on plain parquet: the lineitem⋈orders fact-fact
edge shuffles BOTH tables on the order key every single run. At 100 TB
that shuffle IS the query — and it is entirely avoidable by layout:
two tables bucketed by the join key into the same bucket count join
with ZERO exchanges, forever, for every query shaped this way
(measured −47% on the q18 shape, SCALE.md round 6; promoted to engine
DDL in round 7).

This module registers `<q>_bucketed` twins of the five shapes:

  1. `_ensure_bucketed` materializes ONE bucketed copy of
     lineitem/orders per (session, sf_dir) through the engine's
     user-facing DDL — ``CREATE TABLE … WITH (bucket_by = 'l_orderkey',
     buckets = '16')`` (engine.py `create_table`) — loaded through the
     engine's DataFrame-insert path. The build is a one-time ingest
     cost (exactly how a production warehouse lands a fact table); it
     is NEVER part of the per-query work and reuses across invocations.
  2. the query SQL is the benched original (registry.SQL_TEXT) with the
     two fact names redirected at the bucketed copies — semantics,
     aliases, money arithmetic and the DuckDB oracle are byte-identical
     to the plain-parquet twin, so the driver's correctness gate checks
     the bucketed plan against the SAME oracle.
  3. before returning, every variant asserts its scale property on the
     physical plan: NO shuffle exchange may repartition on the order
     key (the join must be satisfied by the bucket layout), and the
     only shuffle allowed at all is the final small-group aggregation
     (none for q18 — its top-k is a TakeOrderedAndProject). Broadcast
     exchanges of dimension tables are the desired plan and stay.

Reference parity: the reference's users run these shapes as plain SQL
over server-side tables (`/root/reference/risingwave/core.py:161-181`);
physical layout there is the server's concern. Here the layout IS the
DDL surface — this module is the evidence that the engine's answer to
the fact-fact exchange is user-reachable, correct, and measured.
"""

from __future__ import annotations

import os
import re
import shutil
import weakref

from pyspark.sql import DataFrame, SparkSession

# the originals' SQL_TEXT and oracles must be registered first
from risingwave_py_spark.operators import relational, tpch_extra  # noqa: F401
from risingwave_py_spark.catalog import ensure_views, table
from risingwave_py_spark.registry import ORACLES, SQL_TEXT, register

BUCKETS = 16
_FACTS = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))

# session -> {sf_dir: (bucketed db name, source fingerprint)}, once
# verified/built. Held weakly on the session object, not its id(): a
# new session that lands on a dead one's id must not inherit its entry.
_READY: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def bucketed_db_name(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return "rwbk_" + re.sub(r"[^0-9a-zA-Z]", "_", tag).lower()


def _source_fingerprint(sf_dir: str) -> str:
    """Identity of the fact-table source files (path + size + mtime),
    computed with zero Spark jobs. Stored in the ready marker so a
    regenerated dataset at the same path — or a different sf_dir
    sharing a basename — forces a rebuild instead of silently serving
    a stale bucketed copy."""
    parts = []
    for tbl, _ in _FACTS:
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{p}:missing")
    return "|".join(parts)


def _warehouse_dir(spark: SparkSession) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return wh.removeprefix("file:")


def _disk_marker_fp(spark: SparkSession, db: str) -> str | None:
    """Fingerprint stored by a PREVIOUS process in the on-disk marker,
    or None. The default in-memory catalog forgets the bucketed copy
    across processes even though its files survive in the shared
    warehouse — reading the marker parquet directly (zero Spark jobs)
    lets a fresh process adopt the copy instead of destroying and
    rebuilding it under any concurrent reader."""
    import glob

    mdir = os.path.join(_warehouse_dir(spark), f"{db}.db", "__rwbk_ready")
    files = glob.glob(os.path.join(mdir, "*.parquet"))
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        vals: list[str] = []
        for f in files:
            vals.extend(pq.read_table(f, columns=["fp"])["fp"].to_pylist())
        return vals[0] if len(vals) == 1 else None
    except Exception:  # noqa: BLE001 — unreadable marker = no adoption
        return None


def _adopt_on_disk(spark: SparkSession, db: str, sf_dir: str) -> bool:
    """Register the surviving on-disk bucketed copy in this process's
    catalog (external tables over the existing bucket files — same
    CLUSTERED BY DDL the engine's writer used, so scans stay bucketed).
    Returns False if any expected directory is missing."""
    wh = _warehouse_dir(spark)
    dirs = {t: os.path.join(wh, f"{db}.db", t) for t, _ in _FACTS}
    if not all(os.path.isdir(d) for d in dirs.values()):
        return False
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for tbl, bkey in _FACTS:
        src = table(spark, sf_dir, tbl)
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {db}.{tbl} ({cols}) USING PARQUET "
            f"CLUSTERED BY (`{bkey}`) SORTED BY (`{bkey}`) "
            f"INTO {BUCKETS} BUCKETS LOCATION '{dirs[tbl]}'"
        )
    mdir = os.path.join(wh, f"{db}.db", "__rwbk_ready")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.__rwbk_ready (fp STRING) "
        f"USING PARQUET LOCATION '{mdir}'"
    )
    return True


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return the database holding bucketed copies of
    the fact tables for ``sf_dir``. Idempotent per session via a
    ready-marker table carrying a source fingerprint; a fresh PROCESS
    whose catalog has forgotten a still-valid on-disk copy ADOPTS it
    (external tables over the existing bucket files) rather than
    rebuilding — a rebuild deletes files under any concurrent reader.
    A partial build from a crashed process has no marker, and a marker
    whose fingerprint mismatches the current source files triggers a
    rebuild — both are dropped + rebuilt."""
    db = bucketed_db_name(sf_dir)
    ready = _READY.setdefault(spark, {})
    fp = _source_fingerprint(sf_dir)
    if ready.get(sf_dir) == (db, fp):
        return db
    marker = f"{db}.__rwbk_ready"
    if spark.catalog.tableExists(marker):
        try:
            stored = [r["fp"] for r in spark.table(marker).collect()]
        except Exception:  # noqa: BLE001 — legacy marker without fp
            stored = []
        if stored == [fp]:
            ready[sf_dir] = (db, fp)
            return db
    elif _disk_marker_fp(spark, db) == fp and _adopt_on_disk(spark, db, sf_dir):
        ready[sf_dir] = (db, fp)
        return db

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    # Serialize the (re)build across processes sharing this warehouse
    # (same pattern as index_store's writer lock); after acquiring,
    # re-check the disk marker — the process we waited on may have
    # just finished building exactly the copy we need.
    import fcntl

    wh_dir = _warehouse_dir(spark)
    os.makedirs(wh_dir, exist_ok=True)
    lockfile = os.path.join(wh_dir, f".{db}.buildlock")
    fd = os.open(lockfile, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        if spark.catalog.tableExists(marker):
            # A stale-fp marker in THIS catalog may cover files another
            # process just rebuilt to exactly the fingerprint we need
            # (locations are deterministic): refresh and re-read before
            # destroying anything — a DROP CASCADE here would delete
            # the fresh files under the other process's readers.
            try:
                spark.catalog.refreshTable(marker)
                for tbl, _ in _FACTS:
                    if spark.catalog.tableExists(f"{db}.{tbl}"):
                        spark.catalog.refreshTable(f"{db}.{tbl}")
                stored = [r["fp"] for r in spark.table(marker).collect()]
            except Exception:  # noqa: BLE001 — unreadable: rebuild
                stored = []
            if stored == [fp]:
                ready[sf_dir] = (db, fp)
                return db
        elif (
            _disk_marker_fp(spark, db) == fp
            and _adopt_on_disk(spark, db, sf_dir)
        ):
            ready[sf_dir] = (db, fp)
            return db
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        # a crashed prior process can leave the warehouse dir with no
        # catalog entry; CREATE TABLE then fails LOCATION_ALREADY_EXISTS
        shutil.rmtree(os.path.join(wh_dir, f"{db}.db"), ignore_errors=True)
        eng = SparkEngine(spark=spark, default_schema=db)
        conn = RisingWaveConnection(eng)
        for tbl, bkey in _FACTS:
            src = table(spark, sf_dir, tbl)
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
            )
            conn.execute(
                f"CREATE TABLE {db}.{tbl} ({cols}) "
                f"WITH (bucket_by = '{bkey}', buckets = '{BUCKETS}')"
            )
            # pre-cluster on the bucket hash so each ingest task holds
            # exactly one bucket's rows -> one file per bucket (the write
            # itself never shuffles; bucket files come from the task-side
            # hash split)
            eng.insert_df(tbl, src.repartition(BUCKETS, bkey), schema_name=db)
        spark.sql(f"CREATE TABLE {marker} (fp STRING) USING PARQUET")
        spark.sql(f"INSERT INTO {marker} VALUES ('{fp}')")
        ready[sf_dir] = (db, fp)
        return db
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _assert_colocated(df: DataFrame, name: str, max_shuffles: int) -> None:
    """Pin the layout's scale property on the physical plan: the scans
    must be bucketed, no shuffle may repartition on the order key (the
    fact-fact join must be satisfied by the bucket layout), and at most
    ``max_shuffles`` shuffle exchanges may appear at all (the final
    small-group aggregation; 0 for q18). BroadcastExchange of dimension
    tables is the desired plan and is not counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SelectedBucketsCount" in plan, (
        f"{name}: scans are not bucketed\n{plan}"
    )
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(shuffles) <= max_shuffles, (
        f"{name}: expected <= {max_shuffles} shuffle exchange(s), "
        f"got {shuffles}\n{plan}"
    )
    for ln in shuffles:
        assert "orderkey" not in ln, (
            f"{name}: fact-fact join shuffled on the bucket key — the "
            f"bucketed layout was not used: {ln}\n{plan}"
        )


_WORD = {t: re.compile(rf"\b{t}\b") for t, _ in _FACTS}


def _variant_sql(orig: str, db: str) -> str:
    """The benched SQL with only the fact-table names redirected — no
    added hints: q9/q10/q18 keep their original SHUFFLE_HASH(o) (which
    the bucketed distribution satisfies with no exchange), while
    q5/q7's pruned/column-pruned orders sides stay on Spark's own
    broadcast-vs-layout choice (interleaved A/B at sf0.1 measured a
    forced hash join no faster; at real scale broadcast self-disables
    and the co-bucketed layout carries the join)."""
    text = SQL_TEXT[orig]
    for tbl, _ in _FACTS:
        text = _WORD[tbl].sub(f"{db}.{tbl}", text)
    return text


def _register_variant(name: str, orig: str, max_shuffles: int) -> None:
    @register(name, oracle=ORACLES[orig])
    def _fn(
        spark: SparkSession,
        sf_dir: str,
        _orig: str = orig,
        _name: str = name,
        _max: int = max_shuffles,
    ) -> DataFrame:
        ensure_views(spark, sf_dir)  # dimension tables stay plain views
        db = _ensure_bucketed(spark, sf_dir)
        df = spark.sql(_variant_sql(_orig, db))
        _assert_colocated(df, _name, _max)
        return df

    _fn.__name__ = name
    _fn.__qualname__ = name
    _fn.__doc__ = (
        f"Bucketed-layout twin of {orig}: identical SQL and oracle, fact "
        f"tables served from the CREATE TABLE … WITH (bucket_by, buckets) "
        f"layout; plan-asserted to satisfy the lineitem⋈orders join from "
        f"the bucket layout with <= {max_shuffles} shuffle exchange(s)."
    )


# q18's only post-join operator is ORDER BY … LIMIT (TakeOrderedAndProject)
# -> ZERO shuffles end to end. q3's group keys INCLUDE l_orderkey, so
# the bucket distribution satisfies the aggregation too (HashPartitioning
# on a subset of the group keys satisfies ClusteredDistribution) and its
# top-10 is a TakeOrderedAndProject -> also ZERO shuffles. The other four
# end in a small-group aggregation whose tiny partial->final exchange is
# the one allowed shuffle (its keys are group keys, never the order key).
_register_variant("q18_bucketed", "q18_large_volume_customer", 0)
_register_variant("q3_bucketed", "q3_shipping_priority", 0)
_register_variant("q9_bucketed", "q9_profit_by_nation", 1)
_register_variant("q10_bucketed", "q10_returned_items", 1)
_register_variant("q5_bucketed", "q5_local_supplier_volume", 1)
_register_variant("q7_bucketed", "q7_volume_shipping", 1)
