"""SparkEngine: the server the reference SDK talks to, re-imagined
in-process on Spark (SURVEY.md §3-§4, §7 M0-M3).

Responsibilities (all server-side in the reference, delegated via SQL
strings — /root/reference/risingwave/core.py:161-212, 453-455,
500-560):

  - catalog: PG-style ``schema.table`` namespaces → Spark databases +
    managed parquet tables; ``information_schema`` views;
  - ingest: append rows/DataFrames with read-your-writes (FLUSH);
  - upsert tables (``ON CONFLICT DO UPDATE … WITH VERSION COLUMN``,
    core.py:507-513) → append-only log + latest-by-version view (no
    in-place mutation — the scalable formulation);
  - changelog: every relation gets an append-only change table
    ``(…cols…, op, rw_timestamp)`` with a monotonically increasing
    epoch, matching the subscription row contract (core.py:551-554,
    demo.py:50);
  - materialized views: result table + changelog delta emission on
    every flush (Insert/Delete/UpdateInsert/UpdateDelete);
  - subscriptions + cursors: DECLARE/FETCH protocol with SINCE resume
    (core.py:515-560).

Scale notes: tables and changelogs are plain parquet datasets —
appends are new files (no rewrite); upsert resolution is a window
function (shuffle by pk) computed at read; MV refresh is
incremental delta-merge for append-only simple aggregations
(O(delta + touched groups), no base rescan) with snapshot-diff as
the arbitrary-SQL fallback — at production scale the same contract
would be served by Structured Streaming update-mode aggregation
writing the changelog from ``foreachBatch``, which
streaming/structured.py provides for aggregation MVs.
"""

from __future__ import annotations

import contextlib
import logging
import os
import re
import shutil
import threading
import time
import uuid as _uuid
import weakref
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from risingwave_py_spark.plans import rewrite as RW

logger = logging.getLogger(__name__)

def _norm_sql(s: str) -> str:
    """Whitespace-collapsed, lowercased SQL text — the comparison key
    for matching a GROUP BY expression against a SELECT item (SQL
    identifiers here are engine-created and case-insensitive)."""
    return re.sub(r"\s+", " ", s.strip()).lower()


OP_INSERT = "Insert"
OP_DELETE = "Delete"
OP_UPDATE_INSERT = "UpdateInsert"
OP_UPDATE_DELETE = "UpdateDelete"


class _DirectIneligible(Exception):
    """Raised inside the driver-side MV merge when Python semantics
    could diverge from Spark's (NaN, duplicate keys) — the refresh
    falls back to the Spark path before any mutation."""

ENGINE_VERSION = "2.1.0"


def _split_fq(name: str, default_schema: str = "public") -> tuple[str, str]:
    if "." in name:
        db, tbl = name.split(".", 1)
        return db, tbl
    return default_schema, name


class _Records(dict):
    """fq -> relation record (see SparkEngine._relation), plus a count
    of clears: a resolve that raced a clear must not store what it
    read before the DDL landed. A changelog's record also holds the
    epochs Spark's catalog has registered (SparkEngine._sync_changelog),
    so every engine on the SparkContext sees the same set."""

    def __init__(self):
        super().__init__()
        self.lock = threading.Lock()
        self.clears = 0


class _SessionCatalog:
    """JVM handles for calling a session's ``SessionCatalog`` directly,
    the catalog the SQL DDL commands call underneath. Held per engine:
    a ``jvm.pkg.Class`` lookup costs milliseconds, a call on a held
    object a fraction of one. One ``TableIdentifier`` is kept per name."""

    def __init__(self, spark: SparkSession):
        jvm = spark.sparkContext._jvm
        js = spark._jsparkSession
        self.catalog = js.sessionState().catalog()
        self._parser = js.sessionState().sqlParser()
        self.cache = js.sharedState().cacheManager()
        utils = jvm.org.apache.spark.sql.catalyst.catalog.CatalogUtils
        # held as members: naming a method on a class is a round trip
        self.uri_to_string = utils.URIToString
        self.string_to_uri = utils.stringToURI
        self.some = jvm.scala.Option.apply
        self._idents: dict[str, object] = {}

    def ident(self, fq: str):
        i = self._idents.get(fq)
        if i is None:
            i = self._idents[fq] = self._parser.parseTableIdentifier(fq)
        return i


# One record store per SparkContext: every engine on the context — and
# on its newSession()s, which share the catalog — reads and clears the
# SAME records, so one engine's DDL or table swap can never leave
# another serving a stale location or schema.
_RELATION_RECORDS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# SparkSession -> [open _in_default_schema blocks, database to restore].
# The current database is session-wide: overlapping blocks (concurrent
# refreshes, engines sharing a session) each switch it on entry, and
# only the last one out restores the caller's.
_SCHEMA_SCOPES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SCHEMA_SCOPES_LOCK = threading.Lock()


class MVState:
    def __init__(self, fq: str, stmt: str, key_cols: list[str] | None,
                 emit_on_close: bool = False):
        self.fq = fq
        self.stmt = stmt
        self.key_cols = key_cols
        self.emit_on_close = emit_on_close
        # Incremental-maintenance plan (delta-merge fast path) for
        # append-only simple-aggregation MVs; None → snapshot-diff.
        self.inc: dict | None = None
        # Incremental plan for append-only INNER-join MVs
        # (ΔA⋈B ∪ A_old⋈ΔB append path); None → snapshot-diff.
        self.inc_join: dict | None = None
        # Incremental plan for join+aggregation MVs (join delta →
        # group-wise merge); None → snapshot-diff.
        self.inc_joinagg: dict | None = None
        # Incremental plan for N-way (>=3 tables) INNER equi-join MVs
        # with NO aggregate (the enrichment view): signed telescoping
        # delta in bag algebra; None → snapshot-diff.
        self.inc_join_nway: dict | None = None
        # Incremental plan for SESSION-window MVs: per-key touched-span
        # recompute + bag diff; None → snapshot-diff.
        self.inc_session: dict | None = None
        # Incremental plan for UNION ALL MVs (consolidation views):
        # bag sum is LINEAR, so Δout = Σ branchᵢ(Δᵢ⁺) − Σ branchᵢ(Δᵢ⁻)
        # exactly, per-branch projections/filters applied to each
        # branch's own delta; None → snapshot-diff.
        self.inc_union: dict | None = None
        # Incremental plan for SELECT DISTINCT MVs: touched-value
        # membership recompute — the stored result IS the pre-batch
        # membership set; None → snapshot-diff.
        self.inc_distinct: dict | None = None
        # Incremental plan for (grouped) Top-N MVs — row_number()
        # over a derived table, outer rank filter; None → snapshot-diff.
        self.inc_topn: dict | None = None
        # DRIVER-SIDE delta-merge plan (zero Spark jobs) for simple
        # aggregations — including GLOBAL aggregates (no GROUP BY),
        # which the Spark inc path cannot express. Engages only for
        # small insert-only deltas over small stored results; larger
        # work falls through to self.inc / snapshot-diff.
        self.inc_direct: dict | None = None
        # Whether the catalog accepts the direct path's location swap
        # (_set_location): None until the first direct refresh of this
        # arm probes it (a no-op swap to the current location, before
        # any mutation), then the recorded answer. Reset whenever the
        # direct plan (re-)arms.
        self.set_location_ok: bool | None = None
        # The direct plan's current result, kept in memory after the
        # refresh that published it: (the relation record installed
        # with that generation, {column: the list _direct_merge
        # returned}). The next direct refresh merges into these lists
        # instead of reading the stored files, but only while
        # SparkEngine._records still holds that very record (identity,
        # not location): every _forget, a foreign engine's swap, a
        # re-arm and a restart send the refresh back to the disk read.
        # A result read from disk is never kept.
        self.direct_result: tuple[dict, dict[str, list]] | None = None
        # avg() companions for the direct plan: {group key tuple:
        # {alias: (sum_double, count)}} — the decomposition the Python
        # fold merges (avg = sum/count; the stored table holds only
        # the finalized value). Rebuilt from the same pinned snapshot
        # whenever the plan (re-)arms; bounded by
        # DIRECT_MAX_RESULT_ROWS groups. None ⇒ avg MVs fall through
        # to the Spark paths until the re-arm probe restores it.
        self.direct_aux: dict | None = None
        # Global engine epoch at CREATE MATERIALIZED VIEW — the time-
        # travel anchor: epochs >= this are answerable by the reverse
        # fold (current result minus the changelog suffix), epochs
        # before it predate the view. None for MVs re-registered from
        # a pre-anchor catalog (time travel refuses those loudly).
        self.created_epoch: int | None = None
        # Highest base-changelog epoch already folded into the stored
        # result: every armed plan above reads its delta from the
        # epochs after it. Set by SparkEngine._arm; meaningless while
        # no plan is armed.
        self.last_epoch: int = 0
        # The MV's OWN changelog max at catalog-restore time — the
        # only epoch a crashed predecessor could have committed to the
        # log without applying to the table (commit order: changelog
        # first, table swap second). _mv_asof probes it against the
        # next emitted epoch to detect crash redelivery; None for MVs
        # created by this engine instance (a crash = process death, so
        # no orphan can exist in-session).
        self.recovered_epoch: int | None = None
        # False until the FIRST refresh completes after a catalog
        # restore. While False and recovered_epoch is still the
        # changelog max, a crash orphan (emitted to the log, never
        # applied to the table) cannot yet be ruled out, so _mv_asof
        # refuses travel below it instead of silently un-applying a
        # delta the table never absorbed.
        self.post_restore_refreshed = False
        # True once a fast path is ruled out PERMANENTLY (unsupported
        # shape, double-typed SUM, upsert base, join history vacuumed,
        # refresh exception): stops the snapshot-diff path from
        # re-attempting the re-arm probe every flush. Engine restarts
        # reset it (fresh MVState), which is exactly the re-arm case.
        self.fastpath_blocked = False
        # Serializes whole refreshes of THIS MV: two threads flushing
        # concurrently must not both read pending epochs > last_epoch
        # and double-merge the same delta (the snapshot-diff path is
        # self-correcting under that race; the incremental path is not).
        self.refresh_lock = threading.Lock()


class _Shape(NamedTuple):
    """One incrementally maintained MV shape (see SparkEngine._arm)."""

    attr: str  # MVState attribute holding the armed plan
    parse: str  # SparkEngine parser: rewritten SQL -> plan or None
    refresh: str  # SparkEngine refresh: False = fall back to snapshot-diff
    bases: Callable[[dict], list[str]]  # the plan's base tables
    # SQL of the result over the pinned snapshots; views: base -> view
    initial: Callable[["SparkEngine", dict, dict[str, str]], str]
    # group-wise merge: the MV's key columns must equal the plan's
    # keys and every SUM must have an exact type
    grouped: bool = False


def _sides(plan: dict) -> list[str]:
    return [b for b, _ in plan["sides"]]


# The first parser that accepts decides the shape: creation and the
# restart re-arm both go through this one table, in this order.
_SHAPES = (
    # also arms MVState.inc_direct (global aggregates: inc_direct only)
    _Shape("inc", "_parse_simple_agg", "_refresh_incremental",
           lambda p: [p["base_fq"]],
           lambda e, p, v: e._inc_delta_stmt(p, v[p["base_fq"]]),
           grouped=True),
    _Shape("inc_topn", "_parse_topn", "_refresh_incremental_topn",
           lambda p: [p["base_fq"]],
           lambda e, p, v: e._topn_stmt(p, v[p["base_fq"]])),
    _Shape("inc_join", "_parse_simple_join", "_refresh_incremental_join",
           lambda p: [p["a_fq"], p["b_fq"]],
           lambda e, p, v: e._incj_stmt(p, v[p["a_fq"]], v[p["b_fq"]],
                                        p["how"])),
    _Shape("inc_joinagg", "_parse_join_agg", "_refresh_incremental_joinagg",
           _sides,
           lambda e, p, v: e._incja_agg_stmt(
               p, f"({e._incja_join_stmt(p, [v[b] for b in _sides(p)])})"
               " AS __j0"),
           grouped=True),
    _Shape("inc_join_nway", "_parse_join_nway",
           "_refresh_incremental_join_nway", _sides,
           lambda e, p, v: e._incjn_stmt(p, [v[b] for b in _sides(p)])),
    _Shape("inc_session", "_parse_session_agg",
           "_refresh_incremental_session", lambda p: [p["base_fq"]],
           lambda e, p, v: e._sess_stmt(p, v[p["base_fq"]])),
    _Shape("inc_union", "_parse_union_all", "_refresh_incremental_union",
           lambda p: [br["tbl_fq"] for br in p["branches"]],
           lambda e, p, v: " UNION ALL ".join(
               e._incu_branch_stmt(br, v[br["tbl_fq"]])
               for br in p["branches"])),
    _Shape("inc_distinct", "_parse_distinct", "_refresh_incremental_distinct",
           lambda p: [p["tbl_fq"]],
           lambda e, p, v: e._incd_stmt(p, v[p["tbl_fq"]])),
)


class SparkEngine:
    """One logical 'server' instance. Multiple instances share the
    underlying SparkSession (and therefore the catalog)."""

    def __init__(self, spark: SparkSession | None = None, default_schema: str = "public"):
        if spark is None:
            from risingwave_py_spark.session import build_session

            spark = build_session()
        self.spark = spark
        self._jc = _SessionCatalog(spark)
        self.default_schema = default_schema
        self._lock = threading.RLock()
        self._epoch = 0
        self.mvs: dict[str, MVState] = {}
        self.upsert_meta: dict[str, dict] = {}  # fq -> {pk, version_col}
        self.subscriptions: dict[str, dict] = {}  # fq sub -> {rel, retention_s}
        self.sources: dict[str, dict] = {}  # fq source -> props
        # Highest epoch ever vacuumed out of each changelog: an
        # incremental MV whose last_epoch is below this floor can no
        # longer trust the changelog as a complete delta source.
        self.vacuum_floor: dict[str, int] = {}
        self.epoch_wall: dict[int, float] = {}  # epoch -> commit wall time
        self.sinks: dict[str, dict] = {}  # fq sink -> {rel, path, fmt, mode, pos, ...}
        self.udfs: dict[str, str] = {}  # name -> declared return type
        self.watermarks: dict[str, dict] = {}  # fq table -> {col, delay_us}
        self.table_props: dict[str, dict] = {}  # fq table -> {bucket_by, buckets}
        self.indexes: dict[str, dict] = {}  # fq index -> {table, cols}
        self.cursors: dict[str, dict] = {}  # name -> {sub, rel, pos}
        self.udf_defs: dict[str, list] = {}  # name -> [rettype, body]
        # fq relation -> {"loc", "parts", "schema"}: see _relation
        self._records: _Records = _RELATION_RECORDS.setdefault(
            spark.sparkContext, _Records()
        )
        # Per-changelog epoch manifest: the PUBLISHED epoch dirs, kept
        # at every engine commit and validated per use by ONE os.stat
        # of the on-disk commit marker instead of a per-flush listing.
        # {cl: {"loc": str, "sig": (mtime_ns, size, token), "epochs": set}}
        self._epoch_cache: dict[str, dict] = {}
        # Write-through copy of the newest epoch file each changelog
        # published through _publish_epoch_dir: {changelog location:
        # (file path, the Arrow table written there)}, replaced at the
        # changelog's next publish. See _epoch_files.
        self._written: dict[str, tuple[str, object]] = {}
        # Commits per changelog and the condition subscribers wait on
        # between FETCHes (cursor_commits / wait_cursor_commit):
        # _touch_epoch_marker bumps the count and wakes the waiters.
        self._commits: dict[str, int] = {}
        self._committed = threading.Condition(threading.Lock())
        # Diagnostic counters for the zero-job direct MV path (r10
        # verdict #5: attribute the avg-MV p99 tail): how often a
        # flush fell through to the Spark paths, how often the re-arm
        # probe restored the direct plan, and how often the avg
        # sum/count companions were rebuilt. bench.py reports per-
        # phase deltas next to the latency percentiles.
        self.direct_stats = {"fallback": 0, "rearm": 0, "aux_rebuild": 0}
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {default_schema}")
        RW.register_pg_shims(self.spark)
        self._restore_catalog()
        self._install_persist_hooks()

    # -- naming ------------------------------------------------------------

    @contextlib.contextmanager
    def _in_default_schema(self):
        """Resolve unqualified names in MV SQL against the engine's
        default schema while the block runs, then give the session back
        the caller's current database."""
        cat = self.spark.catalog
        with _SCHEMA_SCOPES_LOCK:
            scope = _SCHEMA_SCOPES.setdefault(self.spark, [0, None])
            if scope[0] == 0:
                scope[1] = cat.currentDatabase()
            scope[0] += 1
            cat.setCurrentDatabase(self.default_schema)
        try:
            yield
        finally:
            with _SCHEMA_SCOPES_LOCK:
                scope[0] -= 1
                if scope[0] == 0:
                    try:
                        cat.setCurrentDatabase(scope[1])
                    except AnalysisException:
                        pass  # the caller's database was dropped: stay here

    def qualify(self, name: str, schema_name: str | None = None) -> str:
        db, tbl = _split_fq(name, schema_name or self.default_schema)
        return f"{db}.{tbl}"

    @staticmethod
    def changelog_name(fq: str) -> str:
        db, tbl = _split_fq(fq)
        return f"{db}.__rw_changelog__{tbl}"

    @staticmethod
    def log_name(fq: str) -> str:
        db, tbl = _split_fq(fq)
        return f"{db}.__rw_upsertlog__{tbl}"

    # -- epochs ------------------------------------------------------------

    def next_epoch(self) -> int:
        with self._lock:
            self._epoch += 1
            # Wall-clock stamp: subscription retention ('{n}s',
            # reference core.py:500-505) vacuums by AGE, not by epoch
            # count. Driver-side map, one float per epoch for the
            # session's lifetime (a cluster deployment would persist
            # this as an epoch->commit-time table).
            self.epoch_wall[self._epoch] = time.time()
            return self._epoch

    @property
    def current_epoch(self) -> int:
        return self._epoch

    @property
    def version_string(self) -> str:
        return (
            f"PostgreSQL 13.14.0-RisingWave-{ENGINE_VERSION} "
            f"(risingwave_py_spark on Apache Spark {self.spark.version})"
        )

    # -- catalog -----------------------------------------------------------

    def table_exists(self, name: str, schema_name: str | None = None) -> bool:
        return self.spark.catalog.tableExists(self.qualify(name, schema_name))

    def list_columns(self, name: str, schema_name: str | None = None) -> list[str]:
        fq = self.qualify(name, schema_name)
        if not self.spark.catalog.tableExists(fq):
            raise RuntimeError(f"table {fq} does not exist")
        return [f.name for f in self.spark.table(fq).schema.fields]

    def table_schema(self, name: str, schema_name: str | None = None) -> T.StructType:
        return self.spark.table(self.qualify(name, schema_name)).schema

    def create_schema(self, name: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")

    def drop_schema(self, name: str) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
        self._forget(*[fq for fq in list(self._records)
                       if fq.startswith(f"{name}.")])

    def refresh_info_schema(self) -> None:
        """Materialize information_schema.{tables,columns} from the Spark
        catalog into temp views the rewrite layer points queries at."""
        tables: list[Row] = []
        columns: list[Row] = []
        for db in self.spark.catalog.listDatabases():
            for t in self.spark.catalog.listTables(db.name):
                if t.namespace is None or len(t.namespace) == 0 or t.name.startswith("__rw_"):
                    continue
                schema = ".".join(t.namespace)
                kind = "VIEW" if t.tableType == "VIEW" else "BASE TABLE"
                tables.append(
                    Row(table_catalog="spark_catalog", table_schema=schema,
                        table_name=t.name, table_type=kind)
                )
                for i, f in enumerate(self.spark.table(f"{schema}.{t.name}").schema.fields):
                    columns.append(
                        Row(table_catalog="spark_catalog", table_schema=schema,
                            table_name=t.name, column_name=f.name,
                            ordinal_position=i + 1, data_type=f.dataType.simpleString())
                    )
        t_schema = "table_catalog string, table_schema string, table_name string, table_type string"
        c_schema = (
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string"
        )
        self.spark.createDataFrame(tables, t_schema).createOrReplaceTempView(
            "rw_information_schema_tables"
        )
        self.spark.createDataFrame(columns, c_schema).createOrReplaceTempView(
            "rw_information_schema_columns"
        )

    def _clear_stale_location(self, fq: str) -> None:
        """The session catalog is in-memory but managed-table data dirs
        persist on disk; a table absent from the catalog whose location
        survives (prior process) must be cleared before re-creating."""
        if self.spark.catalog.tableExists(fq):
            return
        self._forget(fq)  # a record outliving its table is stale
        db, tbl = _split_fq(fq)
        wh = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh = re.sub(r"^file:", "", wh)
        path = os.path.join(wh, f"{db}.db", tbl)
        if os.path.exists(path):
            shutil.rmtree(path, ignore_errors=True)

    # -- DDL ---------------------------------------------------------------

    def create_table(
        self,
        name: str,
        cols: list[tuple[str, str]],
        pk_cols: list[str] | None = None,
        version_col: str | None = None,
        ignore_exist: bool = True,
        schema_name: str | None = None,
        watermark: dict | None = None,
        bucket_by: list[str] | None = None,
        buckets: int | None = None,
    ) -> None:
        fq = self.qualify(name, schema_name)
        if watermark is not None:
            self.watermarks[fq] = watermark
        if bool(bucket_by) != bool(buckets):
            raise ValueError(
                "bucket_by and buckets must be given together "
                "(WITH (bucket_by = 'col[,col]', buckets = 'N'))"
            )
        if bucket_by:
            declared = {n.lower() for n, _ in cols}
            missing = [c for c in bucket_by if c.lower() not in declared]
            if missing:
                raise ValueError(f"bucket_by columns not in table: {missing}")
            if version_col:
                raise ValueError(
                    "bucketed layout is not supported on ON CONFLICT "
                    "(upsert) tables — their physical storage is an "
                    "append log resolved through a window view"
                )
        if self.spark.catalog.tableExists(fq):
            if ignore_exist:
                return
            raise RuntimeError(f"table {fq} already exists")
        col_sql = ", ".join(f"`{n}` {t}" for n, t in cols)
        if version_col and pk_cols:
            # Upsert table: physical append log + latest-by-version view.
            log = self.log_name(fq)
            self._clear_stale_location(log)
            # __rw_deleted: DELETE on an upsert table appends a
            # tombstone (same PK/version, later epoch → wins the
            # window) rather than rewriting the log; the view hides
            # keys whose winner is a tombstone.
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {log} ({col_sql}, `__rw_epoch` BIGINT, "
                f"`__rw_deleted` BOOLEAN) USING PARQUET"
            )
            pk_sql = ", ".join(f"`{c}`" for c in pk_cols)
            user_cols = ", ".join(f"`{n}`" for n, _ in cols)
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {fq} AS "
                f"SELECT {user_cols} FROM ("
                f"  SELECT *, row_number() OVER ("
                f"    PARTITION BY {pk_sql} "
                f"    ORDER BY `{version_col}` DESC NULLS LAST, `__rw_epoch` DESC) AS __rw_rn "
                f"  FROM {log}) WHERE __rw_rn = 1 AND NOT coalesce(`__rw_deleted`, false)"
            )
            self.upsert_meta[fq] = {"pk": pk_cols, "version_col": version_col}
        else:
            self._clear_stale_location(fq)
            cluster = ""
            if bucket_by:
                # Hive-compatible clustered layout: every insert hashes
                # rows into N bucket files per partition, sorted within
                # each bucket — joins and GROUP BYs on the bucket key
                # then need NO exchange (the bucketed scan already
                # satisfies the required hash distribution). This is
                # the measured −47%/zero-exchange q18-shape layout
                # (SCALE.md, tools/bucketing_probe.py) promoted to DDL;
                # on a lakehouse the equivalent is Delta liquid
                # clustering / Iceberg sorted partitions.
                bcols = ", ".join(f"`{c}`" for c in bucket_by)
                cluster = (
                    f" CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                    f"INTO {int(buckets)} BUCKETS"
                )
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {fq} ({col_sql}) "
                f"USING PARQUET{cluster}"
            )
            if bucket_by:
                self.table_props[fq] = {
                    "bucket_by": list(bucket_by), "buckets": int(buckets)
                }
        self._ensure_changelog(fq)

    def drop_table(self, name: str, schema_name: str | None = None) -> None:
        fq = self.qualify(name, schema_name)
        self.watermarks.pop(fq, None)
        self.table_props.pop(fq, None)
        if fq in self.upsert_meta:
            self.spark.sql(f"DROP VIEW IF EXISTS {fq}")
            self.spark.sql(f"DROP TABLE IF EXISTS {self.log_name(fq)}")
            del self.upsert_meta[fq]
        else:
            self.spark.sql(f"DROP TABLE IF EXISTS {fq}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self.changelog_name(fq)}")
        self._forget(fq, self.changelog_name(fq))

    def _ensure_changelog(self, fq: str) -> None:
        cl = self.changelog_name(fq)
        if self._relation(cl) is None and not self.spark.catalog.tableExists(cl):
            self._clear_stale_location(cl)
            base = self.spark.table(fq)
            empty = base.withColumn("op", F.lit("x")).withColumn(
                "rw_timestamp", F.lit(0).cast("bigint")
            ).limit(0)
            # PARTITIONED BY the epoch: every append lands in its own
            # partition directory, so a cursor's `SINCE` poll and an
            # incremental refresh's `> last_epoch` read PRUNE to the
            # unconsumed suffix instead of listing/scanning the whole
            # history (vacuum bounds the partition count to the
            # retention window). rw_timestamp is already the LAST
            # column, so the partitioned schema is byte-identical for
            # every reader.
            empty.write.format("parquet").partitionBy(
                "rw_timestamp"
            ).saveAsTable(cl)

    # -- ingest ------------------------------------------------------------

    # Spark SQL type -> pyarrow type for the direct row-group ingest
    # path (None-able map: anything absent falls back to Spark writes).
    @staticmethod
    def _arrow_type(dt: "T.DataType"):
        import pyarrow as pa

        s = dt.simpleString()
        scalar = {
            "bigint": pa.int64(), "int": pa.int32(),
            "smallint": pa.int16(), "tinyint": pa.int8(),
            "double": pa.float64(), "float": pa.float32(),
            "string": pa.string(), "boolean": pa.bool_(),
            "date": pa.date32(), "binary": pa.binary(),
            # session timezone is pinned to UTC (ensure_engine_conf),
            # so instant and wall-clock spellings coincide
            "timestamp": pa.timestamp("us", tz="UTC"),
            "timestamp_ntz": pa.timestamp("us"),
        }.get(s)
        if scalar is not None:
            return scalar
        m = re.fullmatch(r"decimal\((\d+),(\d+)\)", s)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
        return None

    def _relation(self, fq: str) -> dict | None:
        """The engine's record of a catalog table: ``{"loc": filesystem
        location, "parts": partition columns, "schema": StructType or
        None until first asked}``, or None for a missing table, a view
        or a location that is not a local directory. The direct ingest,
        refresh and cursor paths consult it on every call instead of
        asking the catalog.

        Who writes a record: a miss resolves it here with one
        ``getTableMetadata`` (_catalog_entry; the schema on first use,
        in _relation_schema; a changelog's registered epochs in
        _sync_changelog; an MV's catalog metadata in _set_location),
        and _refresh_direct writes the MV's new generation dir after
        its own _set_location swap. Who
        clears it (_forget): every DDL that moves a table's directory
        or changes its columns — DROP, RENAME, ADD/DROP COLUMN, the
        stage-and-rename rewrites, vacuum — and every publication of
        an MV that does not go through the direct path
        (_refresh_mv_locked). Records are shared by all engines on one
        SparkContext, so a clear by one is seen by all.
        One os.path.isdir per use still guards against a missed
        invalidation: a record whose dir is gone re-resolves, so the
        direct ingest path never writes into an orphaned directory."""
        rec = self._records.get(fq)
        if rec is not None:
            if os.path.isdir(rec["loc"]):
                return rec
            self._records.pop(fq, None)
        clears = self._records.clears
        entry = self._catalog_entry(fq)
        if entry is None or not os.path.isdir(entry[0]):
            return None  # don't record a miss
        rec = {"loc": entry[0], "parts": entry[1], "schema": None}
        with self._records.lock:
            if self._records.clears == clears:
                self._records[fq] = rec
        return rec

    def _catalog_entry(self, fq: str) -> tuple[str, list[str]] | None:
        """(location without its ``file:`` scheme, partition columns) of
        a catalog table from one ``getTableMetadata``, or None for a
        missing table or a view."""
        from py4j.protocol import Py4JJavaError

        jc = self._jc
        try:
            meta = jc.catalog.getTableMetadata(jc.ident(fq))
        except (AnalysisException, Py4JJavaError):  # no such table
            return None
        if meta.tableType().name() == "VIEW":
            return None
        loc = re.sub(r"^file:", "", jc.uri_to_string(meta.location()))
        return loc, list(meta.partitionSchema().fieldNames())

    # -- direct catalog commits --------------------------------------------
    #
    # The tick path's catalog changes, made through the session catalog
    # instead of SQL DDL. _set_location makes the change ALTER TABLE SET
    # LOCATION makes and _invalidate the one refreshTable makes, without
    # the parsing and analysis. Changelog epochs reach the catalog only
    # when Spark reads the changelog (_sync_changelog).

    def _set_location(self, fq: str, loc: str) -> None:
        """``ALTER TABLE fq SET LOCATION 'loc'`` as one ``alterTable``
        of the table's metadata with the new storage location (and the
        command's ``compressed=false``), then _invalidate. Raises when
        the catalog refuses. ``fq``'s record keeps the metadata each
        swap installs, so only the first swap after a resolve reads it."""
        jc = self._jc
        rec = self._relation(fq) or {}
        if "meta" not in rec:
            rec["meta"] = jc.catalog.getTableMetadata(jc.ident(fq))
            s = rec["meta"].storage()
            rec["fmt"] = (s.inputFormat(), s.outputFormat(), s.serde(),
                          s.properties())
        i, o, serde, props = rec["fmt"]
        new = rec["meta"].withNewStorage(
            jc.some(jc.string_to_uri(loc)), i, o, False, serde, props)
        jc.catalog.alterTable(new)
        rec["meta"] = new
        self._invalidate(fq)

    def _sync_changelog(self, cl: str) -> None:
        """Run before every Spark read of changelog ``cl``: register the
        published epochs Spark's catalog lacks (the direct paths
        register none) in ONE ``ALTER TABLE … ADD IF NOT EXISTS
        PARTITION (…) (…)``, then _invalidate. The registered set lives
        in the shared record; a cleared record registers every epoch
        again, which IF NOT EXISTS makes harmless."""
        rec = self._relation(cl)
        if rec is None:
            return
        eps = self._changelog_epochs(cl)
        if eps:
            done = rec.get("registered", set())
            missing = sorted(eps - done)
            if missing:
                self.spark.sql(f"ALTER TABLE {cl} ADD IF NOT EXISTS " + " ".join(
                    f"PARTITION (rw_timestamp={e})" for e in missing))
                rec["registered"] = done | set(missing)
        self._invalidate(cl)

    def changelog_table(self, fq: str) -> DataFrame:
        """The changelog of table or MV ``fq`` as a Spark DataFrame,
        synced first (_sync_changelog): read ``__rw_changelog__`` tables
        through this, not ``spark.table``."""
        cl = self.changelog_name(self.qualify(fq))
        self._sync_changelog(cl)
        return self.spark.table(cl)

    def _invalidate(self, fq: str) -> None:
        """Drop the session's cached relation of ``fq`` so the next
        Spark read lists its files again. While any relation is cached
        (CACHE TABLE), run ``spark.catalog.refreshTable`` instead, which
        also re-caches the plans that read ``fq``.

        Unlike refreshTable, this does not re-list a file index in
        place: a DataFrame analyzed before the commit keeps the file
        listing it was analyzed with. Every query issued after the
        commit sees it."""
        jc = self._jc
        if jc.cache.isEmpty():
            jc.catalog.invalidateCachedTable(jc.ident(fq))
        else:
            self.spark.catalog.refreshTable(fq)

    def _relation_schema(self, fq: str) -> "T.StructType":
        """Schema of ``fq``, from its record when there is one."""
        rec = self._relation(fq)
        if rec is None:
            return self.spark.table(fq).schema
        if rec["schema"] is None:
            rec["schema"] = self.spark.table(fq).schema
        return rec["schema"]

    def _forget(self, *fqs: str) -> None:
        """Clear the records of relations whose directory or columns
        just changed (see _relation)."""
        with self._records.lock:
            self._records.clears += 1
            for fq in fqs:
                self._records.pop(fq, None)

    @staticmethod
    def _epoch_marker_path(loc: str) -> str:
        # underscore-prefixed: invisible to Spark's file listings and
        # to recoverPartitions' directory scan
        return os.path.join(loc, "_rw_commit")

    @staticmethod
    def _read_marker_sig(marker: str) -> tuple | None:
        """(mtime_ns, size, content) of the commit marker, or None.
        The CONTENT (a per-write unique token) is part of the
        signature: two same-length writes landing within one mtime
        granule on a coarse-granularity filesystem are therefore
        still distinguishable — the stat pair alone is not."""
        try:
            st = os.stat(marker)
            with open(marker) as fh:
                return (st.st_mtime_ns, st.st_size, fh.read())
        except OSError:
            return None

    def _touch_epoch_marker(self, cl: str, epoch: int | None = None) -> None:
        """Record an epoch commit: add it to this engine's in-memory
        manifest and bump the on-disk marker so OTHER processes'
        manifests detect the change and re-list. Called AFTER the
        epoch's directory is published (_publish_epoch_dir's rename, or
        the Spark append). A staging directory never counts; a
        published one always does, registered with Spark or not:
        internal changelog tables are complete in Spark once synced
        (_sync_changelog), and subscriptions, FETCH and SDK SQL see
        every published epoch as before. A crash between the rename
        and this touch leaves live foreign readers one epoch behind
        until the next commit bumps the marker — the same
        at-least-once window the refresh commit order documents.

        Also counts the commit and wakes this engine's subscribers of
        ``cl``. Every caller holds the engine lock, so a woken FETCH
        queues on it and reads as soon as the commit releases it."""
        with self._committed:
            self._commits[cl] = self._commits.get(cl, 0) + 1
            self._committed.notify_all()
        rec = self._relation(cl)
        if rec is None:
            return
        loc = rec["loc"]
        marker = self._epoch_marker_path(loc)
        # Unique per write: epoch number + a uuid, so the signature is
        # CONTENT-based and a foreign process's write can never be
        # mistaken for (or absorbed into) this process's own.
        token = f"{epoch if epoch is not None else 0}:{_uuid.uuid4().hex}"
        try:
            with open(marker, "w") as fh:
                fh.write(token)
        except OSError:
            self._epoch_cache.pop(cl, None)
            return
        ent = self._epoch_cache.get(cl)
        if ent is not None and ent["loc"] == loc and epoch is not None:
            ent["epochs"].add(epoch)
            sig = self._read_marker_sig(marker)
            # Adopt the signature ONLY when the read-back content is
            # the token this process just wrote. A foreign commit
            # interleaving between our write and the read-back shows
            # its own token here — drop the cache entry so the next
            # use re-lists and picks up the foreign epoch (previously
            # the foreign mtime was silently absorbed and its epoch
            # skipped forever).
            if sig is None or sig[2] != token:
                self._epoch_cache.pop(cl, None)
            else:
                ent["sig"] = sig
        elif ent is not None:
            # epoch unknown (bulk/implicit registration): force re-list
            self._epoch_cache.pop(cl, None)

    def _changelog_epochs(self, cl: str) -> set[int] | None:
        """Published epochs of ``cl`` — O(1) steady state (one os.stat
        against the commit marker), falling back to one listing of its
        ``rw_timestamp=<E>`` directories (never the dot-named staging
        ones) on first touch, engine restart, vacuum rewrite, or
        cross-process drift. None when the changelog is not in the
        epoch-partitioned layout (legacy unpartitioned tables take the
        aggregate/Spark paths)."""
        rec = self._relation(cl)
        if rec is None or rec["parts"] != ["rw_timestamp"]:
            return None
        loc = rec["loc"]
        marker = self._epoch_marker_path(loc)
        # Signature captured BEFORE the listing: a foreign commit
        # landing between stat and list is either in the listing
        # (published first — fine) or changes the marker after our
        # read, so the next call re-lists. Never the reverse. The
        # signature includes the marker CONTENT (unique per write),
        # so same-size writes within one mtime granule still differ.
        sig = self._read_marker_sig(marker)
        if sig is None:
            try:
                with open(marker, "x") as fh:
                    fh.write(f"0:{_uuid.uuid4().hex}")
            except OSError:
                pass
            sig = self._read_marker_sig(marker)
        ent = self._epoch_cache.get(cl)
        if (
            ent is not None
            and ent["loc"] == loc
            and sig is not None
            and ent["sig"] == sig
        ):
            return ent["epochs"]
        try:
            eps = {
                int(d.split("=", 1)[1]) for d in os.listdir(loc)
                if d.startswith("rw_timestamp=")
            }
        except (OSError, ValueError):  # layout drift: caller falls back
            return None
        if sig is not None:
            self._epoch_cache[cl] = {"loc": loc, "sig": sig, "epochs": eps}
        return eps

    def _changelog_max_epoch(self, cl: str) -> int | None:
        """Highest published epoch in a changelog WITHOUT a Spark job
        when the epoch-partitioned layout allows it: the published
        epoch directories ARE the visible epochs (a Spark read, synced
        first, registers exactly these, so this is what the
        max-aggregate would return). Every MV refresh
        starts with this check, and a FLUSH refreshes every registered
        MV — with N MVs over quiet bases the per-insert cost used to
        be N job dispatches for N 'nothing changed' answers. Falls
        back to the aggregate for legacy unpartitioned layouts."""
        eps = self._changelog_epochs(cl)
        if eps is not None:
            return max(eps) if eps else None
        self.spark.catalog.refreshTable(cl)
        return self.spark.table(cl).agg(F.max("rw_timestamp")).first()[0]

    def insert_rows_local(
        self, name: str, rows: list[tuple], schema: "T.StructType",
        schema_name: str | None = None,
    ) -> int | None:
        """Direct row-group ingest for small LOCAL batches (the
        buffered-insert client path): publish one parquet row group as
        the changelog's epoch directory (_publish_epoch_dir; Spark
        registers it when it reads, _sync_changelog), write one into the
        managed table's storage and drop the base table's cached
        relation (_invalidate) — ZERO Spark jobs and no SQL statement
        on the producer side. This is how a real engine lands a 1-row
        batch (ingest appends a
        row group + a log commit; distributed jobs are for queries) —
        the Spark-job spelling of the same append costs 2 job
        dispatches, the whole sub-second latency budget (BASELINE.md
        subscription row). On a lakehouse the equivalent is a
        single-file Delta/Iceberg append commit.

        Returns the epoch, or None when the batch must take the Spark
        path (upsert tables, bucketed layouts, missing table,
        non-scalar column types, or values pyarrow cannot coerce —
        createDataFrame would reject those same values, so fallback
        keeps error parity). Locked readers are safe at every step:
        one hold of the engine lock covers the whole publication, in
        the order changelog directory rename, epoch marker, base file,
        invalidation. Crash windows: the changelog epoch commits
        BEFORE the base-table file becomes visible, so a crash in
        between leaves the base one row group BEHIND the changelog —
        downstream consumers (MV refreshes, subscriptions) still see
        every committed epoch and stay mutually consistent; only a
        raw base SELECT can briefly under-read, and the staged base
        dotfile is an unregistered orphan that never resurfaces. A
        crash before the rename leaves only a staging directory, which
        nothing counts; its epoch may be issued again."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fq = self.qualify(name, schema_name)
        if fq in self.upsert_meta:
            return None
        # Bucketed tables store bucket ids IN the filename; a raw
        # rwfast-*.parquet in a CLUSTERED BY dir breaks the bucketed
        # scan ("Invalid bucket file") — those always take the
        # bucket-aware Spark insertInto path.
        if self.table_props.get(fq, {}).get("bucket_by"):
            return None
        rec = self._relation(fq)  # None: missing table or view
        if rec is None:
            return None
        loc = rec["loc"]
        arrow_fields = []
        for f in schema.fields:
            t = self._arrow_type(f.dataType)
            if t is None:
                return None
            arrow_fields.append((f.name, t))
        try:
            cols = {
                fname: pa.array([r[i] for r in rows], type=t)
                for i, (fname, t) in enumerate(arrow_fields)
            }
        except Exception:  # noqa: BLE001 — uncoercible value: Spark path
            return None
        self._ensure_changelog(fq)
        cl = self.changelog_name(fq)
        cl_rec = self._relation(cl)
        # legacy-unpartitioned changelogs (pre-round-8 ALTER rewrites)
        # can't take a partition-dir append — Spark path handles them
        if cl_rec is None or cl_rec["parts"] != ["rw_timestamp"]:
            return None
        cl_loc = cl_rec["loc"]
        # align to the changelog's physical column order (diverges
        # after ALTER ADD COLUMN); rw_timestamp is the partition dir
        n = len(rows)
        cl_cols: dict[str, "pa.Array"] = {}
        for fld in self._relation_schema(cl).fields:
            c = fld.name
            if c == "rw_timestamp":
                continue
            if c == "op":
                cl_cols[c] = pa.array([OP_INSERT] * n, type=pa.string())
            elif c in cols:
                cl_cols[c] = cols[c]
            else:
                ct = self._arrow_type(fld.dataType)
                if ct is None:
                    return None
                cl_cols[c] = pa.nulls(n, type=ct)
        with self._lock:
            epoch = self.next_epoch()
            # changelog first (see docstring crash-window contract)
            self._publish_epoch_dir(cl_loc, epoch, pa.table(cl_cols))
            self._touch_epoch_marker(cl, epoch)
            # dotfile-stage + rename: lock-free readers (plain SELECTs)
            # never see a half-written footer; listings skip dotfiles
            fname = f"rwfast-{epoch}-{_uuid.uuid4().hex}.parquet"
            tmp = os.path.join(loc, f".{fname}.tmp")
            pq.write_table(pa.table(cols), tmp)
            os.rename(tmp, os.path.join(loc, fname))
            # the base file landed in an already-listed dir: drop fq's
            # cached listing or readers miss the row
            self._invalidate(fq)
        return epoch

    def _publish_epoch_dir(self, cl_loc: str, epoch: int, tab) -> None:
        """Publish changelog epoch ``epoch`` holding ``tab``: write it
        into the staging directory ``.rw_timestamp=<epoch>`` (dot-named:
        no listing sees it; one a crash left is cleared first) and
        rename that to ``rw_timestamp=<epoch>``. If the epoch's
        directory exists (two engines' counters issued it), the file
        joins it, as a second Spark append would.

        Then keep ``tab`` under the published file's path as the
        changelog's write-through entry (``self._written``), replacing
        the previous epoch's: the direct refresh and FETCH that read
        this epoch next take it from memory (_epoch_files). One entry
        per changelog bounds the memory; a crash loses only that."""
        import pyarrow.parquet as pq

        stage = os.path.join(cl_loc, f".rw_timestamp={epoch}")
        pdir = os.path.join(cl_loc, f"rw_timestamp={epoch}")
        shutil.rmtree(stage, ignore_errors=True)
        os.mkdir(stage)
        fname = f"rwfast-{_uuid.uuid4().hex}.parquet"
        pq.write_table(tab, os.path.join(stage, fname))
        try:
            os.replace(stage, pdir)
        except OSError:
            if not os.path.isdir(pdir):
                raise
            os.replace(os.path.join(stage, fname), os.path.join(pdir, fname))
            os.rmdir(stage)
        self._written[cl_loc] = (os.path.join(pdir, fname), tab)

    def _epoch_files(self, cl_loc: str, epoch: int) -> list[tuple]:
        """The files of changelog ``cl_loc``'s published epoch
        ``epoch``, as (path, row count, Arrow table or None). The
        directory listing decides which files exist, so a file another
        engine joined into the epoch, a vacuum and a rewrite are all
        honoured. The file _publish_epoch_dir last wrote to this
        changelog comes with the table it wrote and costs no read;
        every other file is counted from its footer and left for the
        caller to read."""
        import pyarrow.parquet as pq

        kept = self._written.get(cl_loc)
        out = []
        for f in self._direct_part_files(
            os.path.join(cl_loc, f"rw_timestamp={epoch}")
        ):
            if kept is not None and kept[0] == f:
                out.append((f, kept[1].num_rows, kept[1]))
            else:
                out.append((f, pq.ParquetFile(f).metadata.num_rows, None))
        return out

    def insert_df(self, name: str, df: DataFrame, schema_name: str | None = None) -> int:
        """Append a DataFrame to a table (creating it if absent — the
        reference's pandas ``to_sql(if_exists='append')`` semantics,
        core.py:283-290). Returns the epoch of the write."""
        fq = self.qualify(name, schema_name)
        if fq not in self.upsert_meta and not self.spark.catalog.tableExists(fq):
            self._clear_stale_location(fq)
            df.limit(0).write.format("parquet").saveAsTable(fq)
            self._ensure_changelog(fq)
        # Epoch assignment, table append, and changelog append happen
        # under ONE lock acquisition: an insert is either fully
        # published (table + changelog, monotone epoch) or not at all,
        # relative to any locked reader (cursor polls, incremental-MV
        # delta reads, create_mv base snapshots). Assigning the epoch
        # inside the lock also guarantees changelog epochs are appended
        # in increasing order, so a cursor can never advance past an
        # epoch that is still being written by a slower thread.
        with self._lock:
            epoch = self.next_epoch()
            if fq in self.upsert_meta:
                self._append_upsert_log(fq, df, epoch, deleted=False)
            else:
                df.write.mode("append").insertInto(fq)
            self._ensure_changelog(fq)
            self._append_changelog_tagged(
                fq, self._tag_ops([(df, OP_INSERT)]), epoch
            )
        return epoch

    def _append_changelog_tagged(self, fq: str, tagged: DataFrame, epoch: int) -> None:
        """Append a delta whose rows already carry ``op`` (_tag_ops) as
        ONE epoch in ONE write — an UPDATE's UpdateDelete/UpdateInsert
        halves included. Caller holds the engine lock, so a
        concurrently polling cursor (fetch_cursor reads under the same
        lock) can never observe a half-written epoch. Atomicity comes
        from the lock, not from materializing the delta on the driver —
        at scale the delta can exceed driver memory (first refresh
        after a bulk load: delta = the entire result)."""
        cl = self.changelog_name(fq)
        out = tagged.withColumn("rw_timestamp", F.lit(epoch).cast("bigint"))
        # insertInto is positional; align to the changelog's physical
        # column order (diverges from the delta's order after ALTER ADD
        # COLUMN, which appends past rw_timestamp). Missing cols → NULL.
        phys = self.spark.table(cl).columns
        out = out.select(
            *[(F.col(c) if c in out.columns else F.lit(None)).alias(c) for c in phys]
        )
        out.write.mode("append").insertInto(cl)
        self._touch_epoch_marker(cl, epoch)

    @staticmethod
    def _tag_ops(batches: list[tuple[DataFrame, str]]) -> DataFrame:
        """Union op-batches into one changelog-shaped DataFrame with an
        ``op`` column — the distributed replacement for collecting each
        batch to the driver."""
        tagged = None
        for df, op in batches:
            t = df.withColumn("op", F.lit(op))
            tagged = t if tagged is None else tagged.unionByName(t)
        return tagged

    # -- the refresh contract: one read step, one commit step --------------
    #
    # Every Spark-path MV refresh reads the unconsumed changelog suffix
    # with _pending, computes its delta, and publishes it with _publish
    # (the offset-log read and atomic sink commit of a Structured
    # Streaming micro-batch). Refresh strategies differ only in between.

    def _pending(self, state: MVState, attr: str, changelogs: list[str]):
        """The read step. Caller holds the engine lock, so no
        publication can change the suffix while it is read and used.

        Returns False after clearing ``state.<attr>`` when a changelog's
        vacuum floor has passed the last consumed epoch: the suffix is
        no longer a complete delta (partner state comes from the TABLES,
        which are the fold of every published epoch, so only the
        unconsumed suffix matters), and the re-arm probe recovers the
        fast path at the next refresh. Returns True after consuming one
        epoch when nothing is new. Otherwise returns ``(m1, slices)``:
        the ``(last_epoch, m1]`` slice of each changelog, checkpointed
        (footer stats + epoch partitions prune the scan to the new
        epochs)."""
        last = state.last_epoch
        # Floor check INSIDE the lock: vacuum_changelogs advances the
        # floor and truncates under this lock, so checking outside it
        # races a concurrent vacuum — the refresh would merge an
        # incomplete delta and silently corrupt the MV.
        if any(self.vacuum_floor.get(cl, 0) > last for cl in changelogs):
            setattr(state, attr, None)  # unconsumed delta epochs vacuumed
            return False
        # High-water from partition metadata: a no-op refresh (the
        # common case — FLUSH refreshes EVERY registered MV on every
        # insert) costs zero Spark jobs.
        m1 = max(self._changelog_max_epoch(cl) or 0 for cl in changelogs)
        if m1 <= last:
            self.next_epoch()  # refresh always consumes one epoch
            return True  # bases unchanged — result already current
        slices = []
        for cl in changelogs:
            self._sync_changelog(cl)
            slices.append(
                self.spark.table(cl)
                .filter(
                    (F.col("rw_timestamp") > last)
                    & (F.col("rw_timestamp") <= m1)
                )
                .localCheckpoint(eager=True)
            )
        return m1, slices

    def _stage(self, fq: str, df: DataFrame,
               partition_by: list[str] | None = None) -> str:
        """Write ``df`` to ``fq``'s stage table ``db.__rw_stage__<tbl>``
        and return its name, for _publish or _rewrite_table to swap in.
        The ``__rw_`` prefix hides it from SHOW TABLES and
        information_schema; a stage directory a crashed process left
        behind is cleared first, or the write would fail."""
        db, tbl = _split_fq(fq)
        stage = f"{db}.__rw_stage__{tbl}"
        self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        self._clear_stale_location(stage)
        w = df.write.format("parquet")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.saveAsTable(stage)
        return stage

    def _publish(self, fq: str, tagged: DataFrame | None, *,
                 rows: DataFrame | None = None,
                 stage: str | None = None) -> int:
        """The commit step: assign the refresh's epoch, append
        ``tagged`` (op-carrying rows, or None when the refresh changed
        nothing) to the changelog as that ONE epoch, and bring the
        stored table along — append ``rows``, or swap ``stage`` (from
        _stage) in — all under ONE hold of the engine lock. A locked
        reader (cursor polls, other refreshes' delta reads) therefore
        never sees the new epoch against the old table rows, a missing
        table in the drop/rename window, or an epoch still being
        written (the insert_df contract). With nothing to publish the
        epoch is still consumed and the stage is dropped. Returns the
        epoch."""
        spark = self.spark
        self._ensure_changelog(fq)
        with self._lock:
            # Epoch is assigned at publish time, under the same lock as
            # the append: changelog epochs are therefore strictly
            # monotone in publication order, never just in assignment
            # order.
            epoch = self.next_epoch()
            if tagged is None:
                if stage is not None:
                    spark.sql(f"DROP TABLE IF EXISTS {stage}")
                return epoch
            self._append_changelog_tagged(fq, tagged, epoch)
            if stage is not None:
                spark.sql(f"DROP TABLE IF EXISTS {fq}")
                spark.sql(f"ALTER TABLE {stage} RENAME TO {fq}")
            else:
                rows.write.mode("append").format("parquet").saveAsTable(fq)
            spark.catalog.refreshTable(fq)
        return epoch

    def _publish_net(
        self,
        state: MVState,
        netins: DataFrame | None,
        netdel: DataFrame | None,
    ) -> bool:
        """Publish a net Insert/Delete bag delta (either side may be
        None or empty): a delete-free batch appends to the stored table,
        any delete rewrites it through a stage swap (``exceptAll`` is
        bag-exact). One epoch either way (the engine's
        one-epoch-per-refresh invariant)."""
        fq = state.fq
        ins_empty = netins is None or netins.isEmpty()
        del_empty = netdel is None or netdel.isEmpty()
        if ins_empty and del_empty:
            self.next_epoch()
            return True
        batches = [] if del_empty else [(netdel, OP_DELETE)]
        if not ins_empty:
            batches.append((netins, OP_INSERT))
        tagged = self._tag_ops(batches)
        if del_empty:
            self._publish(fq, tagged, rows=netins)
            return True
        new_result = self.spark.table(fq).exceptAll(netdel)
        if not ins_empty:
            new_result = new_result.unionByName(netins)
        self._publish(fq, tagged, stage=self._stage(fq, new_result))
        return True

    # -- catalog surface: SHOW / DESCRIBE / ALTER (PG+RW DDL parity) -------

    _SPARK_TO_PG_DISPLAY = {
        "string": "character varying",
        "int": "integer",
        "bigint": "bigint",
        "smallint": "smallint",
        "double": "double precision",
        "float": "real",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp without time zone",
        "binary": "bytea",
    }

    def _names_in_schema(self, registry: dict, schema: str) -> list[tuple[str]]:
        rows = []
        for fq in sorted(registry):
            db, tbl = _split_fq(fq)
            if db == schema:
                rows.append((tbl,))
        return rows

    def show_objects(self, what: str, schema: str | None = None):
        """``SHOW TABLES|MATERIALIZED VIEWS|SCHEMAS|…`` — one name per
        row, like RisingWave's psql-style catalog commands. Backed by
        the Spark catalog plus the engine registries (MVs, sources,
        sinks, subscriptions, UDFs live in the engine, not Spark)."""
        what = " ".join(what.upper().split())
        schema = schema or self.default_schema
        if what in ("SCHEMAS", "DATABASES"):
            return ["name"], sorted((d.name,) for d in self.spark.catalog.listDatabases())
        if what == "MATERIALIZED VIEWS":
            return ["name"], self._names_in_schema(self.mvs, schema)
        if what == "SOURCES":
            return ["name"], self._names_in_schema(self.sources, schema)
        if what == "SINKS":
            return ["name"], self._names_in_schema(self.sinks, schema)
        if what == "SUBSCRIPTIONS":
            return ["name"], self._names_in_schema(self.subscriptions, schema)
        if what == "FUNCTIONS":
            return ["name"], sorted((n,) for n in self.udfs)
        if what == "TABLES":
            rows = []
            for t in self.spark.catalog.listTables(schema):
                fq = f"{schema}.{t.name}"
                if t.name.startswith("__rw_") or fq in self.mvs:
                    continue
                if t.tableType == "TEMPORARY":
                    continue
                if t.tableType == "VIEW" and fq not in self.upsert_meta:
                    continue  # plain views aren't tables; upsert views are
                rows.append((t.name,))
            return ["name"], sorted(rows)
        raise RuntimeError(f"unsupported SHOW {what}")

    def describe(self, name: str, schema_name: str | None = None):
        """``DESCRIBE t`` / ``SHOW COLUMNS FROM t`` — (name, type) rows
        with PG-style type names, matching what the reference's users
        see from the server's catalog."""
        schema = self.table_schema(name, schema_name)
        rows = [
            (f.name, self._SPARK_TO_PG_DISPLAY.get(f.dataType.simpleString(),
                                                   f.dataType.simpleString()))
            for f in schema.fields
        ]
        return ["name", "type"], rows

    def set_var(self, key: str, val: str) -> None:
        """PG/RW ``SET key TO value`` (and ``SET TIME ZONE x``).
        timezone maps to the Spark session timezone; other variables
        are session-scoped entries readable back via SHOW."""
        val = val.strip().strip("'\"")
        key_norm = key.strip().lower().replace(" ", "")
        if key_norm in ("timezone", "time.zone"):
            self.spark.conf.set("spark.sql.session.timeZone", val)
            key_norm = "timezone"
        elif key.strip().lower().startswith("spark."):
            # a Spark conf spelled through the PG grammar still lands
            # on the session conf
            self.spark.conf.set(key.strip(), val)
        if not hasattr(self, "session_vars"):
            self.session_vars: dict[str, str] = {}
        self.session_vars[key_norm] = val

    def show_var(self, key: str):
        """``SHOW key`` — one row, one column named after the variable."""
        key_norm = key.strip().lower().replace(" ", "")
        if key_norm in ("timezone", "time.zone"):
            return ["TimeZone"], [
                (self.spark.conf.get("spark.sql.session.timeZone"),)
            ]
        vars_ = getattr(self, "session_vars", {})
        if key_norm not in vars_:
            raise RuntimeError(f"unrecognized configuration parameter {key!r}")
        return [key_norm], [(vars_[key_norm],)]

    # -- catalog durability (reference parity: the RW server's catalog
    # -- survives restarts; here the engine catalog persists as a
    # -- one-row JSON table in the warehouse) ------------------------------

    def _catalog_fq(self) -> str:
        return f"{self.default_schema}.__rw_catalog__"

    _DDL_METHODS = (
        "create_table", "drop_table", "create_mv", "drop_mv",
        "create_subscription", "drop_subscription", "create_source",
        "drop_source", "create_sink", "drop_sink", "create_function",
        "drop_function", "add_column", "drop_column", "rename_table",
        "rename_mv", "create_index", "drop_index", "vacuum_changelogs",
    )

    def _install_persist_hooks(self) -> None:
        """Wrap every DDL mutation so the catalog doc is rewritten
        after it commits — one central hook instead of 19 call sites."""
        import functools

        for mname in self._DDL_METHODS:
            fn = getattr(self, mname)

            @functools.wraps(fn)
            def wrapped(*a, __fn=fn, **kw):
                out = __fn(*a, **kw)
                self._persist_catalog()
                return out

            setattr(self, mname, wrapped)

    def _persist_catalog(self) -> None:
        """Write the engine's object catalog (MV/subscription/source/
        sink/upsert/index/watermark/UDF definitions + vacuum floors)
        to the warehouse. Called after every DDL mutation — NOT on the
        data path (epochs are recovered from the changelogs, which are
        the authoritative high-water mark)."""
        import json

        def scalarize(v):
            if isinstance(v, dict):
                return {
                    kk: scalarize(vv)
                    for kk, vv in v.items()
                    if isinstance(vv, (str, int, float, bool, list, dict))
                    or vv is None
                }
            return v

        def j(d: dict) -> dict:
            return {k: scalarize(v) for k, v in d.items()}

        # Monotonic persist stamp: restore picks the candidate doc
        # (live catalog or any leftover stage) with the HIGHEST stamp,
        # never "whatever listTables yields first". Seeded from the
        # restored doc at startup so it keeps rising across restarts.
        self._persist_seq = getattr(self, "_persist_seq", 0) + 1
        doc = {
            "persist_seq": self._persist_seq,
            "epoch": self._epoch,
            "mvs": {
                fq: {
                    "stmt": s.stmt,
                    "key_cols": s.key_cols,
                    "emit_on_close": s.emit_on_close,
                    "created_epoch": s.created_epoch,
                }
                for fq, s in self.mvs.items()
            },
            "upsert_meta": j(self.upsert_meta),
            "subscriptions": j(self.subscriptions),
            "sources": j(self.sources),
            "sinks": j(self.sinks),
            "watermarks": j(self.watermarks),
            "table_props": j(self.table_props),
            "indexes": j(self.indexes),
            "udf_defs": self.udf_defs,
            "vacuum_floor": dict(self.vacuum_floor),
            "epoch_wall": {str(k): v for k, v in self.epoch_wall.items()},
        }
        df = self.spark.createDataFrame([(json.dumps(doc),)], "doc string")
        cat = self._catalog_fq()
        # Stage name is PER-ENGINE: two live engines over one warehouse
        # (restart tests, multi-client) must never clobber each other's
        # in-flight stage write; only the final drop+rename swap is
        # shared, and that is retried (last writer wins).
        if not hasattr(self, "_engine_tag"):
            import uuid as _uuid

            self._engine_tag = _uuid.uuid4().hex[:8]
        stage = f"{cat}stage_{self._engine_tag}__"
        with self._lock:
            # Stage-then-swap: the new doc is fully committed to a
            # staging table BEFORE the live catalog is touched, so a
            # crash at any point leaves a readable doc (either the old
            # catalog, or — in the drop→rename window — the staged one;
            # _restore_catalog picks the highest-stamped readable doc).
            for _attempt in range(3):
                self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
                self._clear_stale_location(stage)
                df.write.format("parquet").saveAsTable(stage)
                try:
                    self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
                    # a prior PROCESS may have left the data dir behind
                    # while this session's catalog has no such table
                    self._clear_stale_location(cat)
                    self.spark.sql(f"ALTER TABLE {stage} RENAME TO {cat}")
                    break
                except Exception:  # noqa: BLE001 — another engine won
                    # the swap between our drop and rename (or GC'd our
                    # stage as superseded); replace, re-staging if gone
                    if not self.spark.catalog.tableExists(stage):
                        continue  # stage vanished — rebuild and retry
                    self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
                    self._clear_stale_location(cat)
                    self.spark.sql(f"ALTER TABLE {stage} RENAME TO {cat}")
                    break
            else:
                # Every attempt lost the stage to a concurrent GC.
                # DDL must never APPEAR durable while the doc was
                # silently dropped — make one final unconditional
                # stage+swap and let any failure here raise loudly.
                self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
                self._clear_stale_location(stage)
                df.write.format("parquet").saveAsTable(stage)
                self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
                self._clear_stale_location(cat)
                self.spark.sql(f"ALTER TABLE {stage} RENAME TO {cat}")
            self.spark.catalog.refreshTable(cat)
            self._gc_foreign_stages(cat, doc["persist_seq"])

    def _gc_foreign_stages(
        self, cat_fq: str, installed_seq: int, keep: str | None = None
    ) -> None:
        """Drop leftover stage tables from OTHER engines whose doc is
        superseded by the stamp just installed. Stages with a higher
        stamp (a concurrent engine about to win the swap),
        in-flight/unreadable stages, and ``keep`` (the stage a restore
        just read the newest doc from) are left alone. Normally there
        are zero foreign stages, so this is one listTables probe."""
        import json

        try:
            db, tbl = _split_fq(cat_fq)
            mine = f"{tbl}stage_{getattr(self, '_engine_tag', None)}__"
            for t in self.spark.catalog.listTables(db):
                if not t.name.startswith(tbl + "stage_") or t.name == mine:
                    continue
                stage_fq = f"{db}.{t.name}"
                if keep is not None and stage_fq == keep:
                    continue
                try:
                    rows = self.spark.table(stage_fq).limit(1).collect()
                    d = json.loads(rows[0][0]) if rows else {}
                    seq = int(d.get("persist_seq", d.get("epoch", 0)))
                except Exception:  # noqa: BLE001 — in-flight: keep
                    continue
                if seq <= installed_seq:
                    self.spark.sql(f"DROP TABLE IF EXISTS {stage_fq}")
        except Exception:  # noqa: BLE001 — GC is best-effort
            pass

    def _restore_catalog(self) -> None:
        """Rehydrate the engine catalog from a previous engine's
        persisted state over the same warehouse: object definitions
        come from the catalog doc; the epoch counter is recovered from
        the changelogs themselves (max rw_timestamp), so epochs never
        repeat even if the process died mid-flush. Incremental MVs
        restart on the snapshot-diff path (their delta induction base
        died with the process) and re-arm on their first refresh."""
        import json

        fq = self._catalog_fq()
        # The persist path stages then swaps; a crash in the
        # drop→rename window leaves only a staged doc. Read EVERY
        # readable candidate (live catalog + any stage a dead engine
        # left) and restore the HIGHEST persist_seq stamp —
        # listTables order is arbitrary, and a stage from a long-dead
        # engine must never shadow the newest doc.
        stage_cands: list[str] = []
        try:
            _db, _tbl = _split_fq(fq)
            stage_cands = [
                f"{_db}.{t.name}"
                for t in self.spark.catalog.listTables(_db)
                if t.name.startswith(_tbl + "stage_")
            ]
        except Exception:  # noqa: BLE001 — no schema yet = fresh start
            pass
        doc, best_seq, winner = None, -1, None
        for cand in [fq] + stage_cands:
            try:
                if not self.spark.catalog.tableExists(cand):
                    continue
                rows = self.spark.table(cand).limit(1).collect()
                if not rows:
                    continue
                d = json.loads(rows[0][0])
            except Exception:  # noqa: BLE001 — unreadable = try next
                continue
            seq = int(d.get("persist_seq", d.get("epoch", 0)))
            if seq > best_seq:  # strict >: the live catalog wins ties
                doc, best_seq, winner = d, seq, cand
        if doc is None:
            return
        # Keep the stamp rising across restarts, then GC the
        # now-superseded stages so they never shadow a future restore.
        # The winner itself is protected: if the newest doc lives ONLY
        # in a crashed engine's stage, dropping it before this engine
        # re-persists would lose the catalog to a crash right here.
        self._persist_seq = max(getattr(self, "_persist_seq", 0), best_seq)
        self._gc_foreign_stages(fq, best_seq, keep=winner)
        for mv_fq, m in doc.get("mvs", {}).items():
            if self.spark.catalog.tableExists(mv_fq):
                self._register_existing_mv(
                    mv_fq, m["stmt"], m.get("key_cols"),
                    m.get("emit_on_close", False),
                ).created_epoch = m.get("created_epoch")
        self.upsert_meta.update(doc.get("upsert_meta", {}))
        for up_fq in list(self.upsert_meta):
            try:
                self._recover_upsert_log(up_fq)
            except Exception as e:  # noqa: BLE001 — table may be gone
                logger.warning("upsert log recovery for %s: %s", up_fq, e)
        self.subscriptions.update(doc.get("subscriptions", {}))
        self.watermarks.update(doc.get("watermarks", {}))
        self.table_props.update(doc.get("table_props", {}))
        self.indexes.update(doc.get("indexes", {}))
        self.vacuum_floor.update(
            {k: int(v) for k, v in doc.get("vacuum_floor", {}).items()}
        )
        self.epoch_wall.update(
            {int(k): v for k, v in doc.get("epoch_wall", {}).items()}
        )
        for src_fq, props in doc.get("sources", {}).items():
            # filesystem sources are catalog tables (already present);
            # stream sources need their readStream re-attached.
            if props.get("connector") in self.STREAM_CONNECTORS:
                try:
                    self._create_stream_source(
                        src_fq, props["connector"], dict(props), True,
                        resume=True,
                    )
                except Exception as e:  # noqa: BLE001
                    logger.warning("could not restart stream source %s: %s", src_fq, e)
                    self.sources[src_fq] = dict(props, inactive=True)
            else:
                self.sources[src_fq] = dict(props)
                # re-apply per-bucket s3 conf keys: the Hadoop conf is
                # process-local, so a fresh process restoring the
                # catalog must rebuild them for reads to authenticate
                for key, val in (props.get("hadoop_keys") or {}).items():
                    try:
                        self.spark.sparkContext._jsc.hadoopConfiguration().set(
                            key, val
                        )
                    except Exception:  # noqa: BLE001 — no JVM conf access
                        pass
        self.sinks.update(doc.get("sinks", {}))
        for name, (rettype, body) in doc.get("udf_defs", {}).items():
            try:
                self.create_function(name, rettype, body, ignore_exist=True)
            except Exception as e:  # noqa: BLE001
                logger.warning("could not restore UDF %s: %s", name, e)
        # epoch recovery: the changelogs are the authoritative
        # high-water mark (persisting per-epoch would put a write on
        # the data path): the published epoch dirs, listed without a
        # Spark job, registered with Spark or not.
        max_epoch = 0
        try:
            for db_obj in self.spark.catalog.listDatabases():
                db = db_obj.name
                for t in self.spark.catalog.listTables(db):
                    if t.name.startswith("__rw_changelog__"):
                        max_epoch = max(
                            max_epoch,
                            self._changelog_max_epoch(f"{db}.{t.name}") or 0,
                        )
        except Exception:  # noqa: BLE001
            pass
        # The persisted counter floors epochs consumed without
        # changelog rows up to the last DDL. Zero-row epochs issued
        # AFTER the last DDL can be re-issued post-restart — benign:
        # such epochs stamped no rows (nothing collides) and
        # subscription progress always points at a DELIVERED row's
        # epoch, which by definition exists in a changelog and is
        # covered by max_epoch.
        self._epoch = max(self._epoch, max_epoch, int(doc.get("epoch", 0)))
        if winner != fq:
            # The newest doc was recovered from a crashed engine's
            # stage: re-commit it to the live catalog immediately —
            # that persist (stamped best_seq+1) also GCs the crashed
            # stage once the doc is safely swapped in.
            self._persist_catalog()

    def show_create(self, name: str, schema_name: str | None = None):
        """``SHOW CREATE TABLE|MATERIALIZED VIEW|SOURCE|SINK x`` —
        reconstructs the object's DDL from the engine catalog, one
        (name, create_sql) row like the reference server's output."""
        fq = self.qualify(name, schema_name)
        if fq in self.mvs:
            ddl = f"CREATE MATERIALIZED VIEW {fq} AS {self.mvs[fq].stmt}"
        elif fq in self.sources:
            props = ", ".join(
                f"{k} = '{v}'" for k, v in sorted(self.sources[fq].items())
            )
            ddl = f"CREATE SOURCE {fq} WITH ({props})"
        elif fq in self.sinks:
            props = ", ".join(
                f"{k} = '{v}'"
                for k, v in sorted(self.sinks[fq].items())
                if isinstance(v, str)
            )
            ddl = f"CREATE SINK {fq} WITH ({props})"
        else:
            _, rows = self.describe(name, schema_name)
            cols = [f"{n} {t}" for n, t in rows]
            meta = self.upsert_meta.get(fq)
            if meta and meta.get("pk"):
                cols.append(f"PRIMARY KEY ({', '.join(meta['pk'])})")
            wm = self.watermarks.get(fq)
            if wm:
                secs = wm["delay_us"] // 1_000_000
                cols.append(
                    f"WATERMARK FOR {wm['col']} AS {wm['col']} "
                    f"- INTERVAL '{secs} seconds'"
                )
            ddl = f"CREATE TABLE {fq} ({', '.join(cols)})"
            if meta and meta.get("version_col"):
                ddl += (
                    " ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN"
                    f"({meta['version_col']})"
                )
            tp = self.table_props.get(fq)
            if tp and tp.get("bucket_by"):
                ddl += (
                    f" WITH (bucket_by = '{','.join(tp['bucket_by'])}', "
                    f"buckets = '{tp['buckets']}')"
                )
        return ["name", "create_sql"], [(fq, ddl)]

    def _rewrite_table(self, fq: str, transform,
                       partition_by: list[str] | None = None) -> None:
        """Stage-and-rename rewrite of a table (DROP COLUMN, changelog
        vacuum): no self-overwrite read hazard, and readers only ever
        see the old or the new complete table. ``partition_by``
        preserves a partitioned layout across the rewrite (changelogs
        keep their epoch-pruning dirs, and are synced before the read,
        so every published epoch is rewritten)."""
        if partition_by:
            self._sync_changelog(fq)
        stage = self._stage(fq, transform(self.spark.table(fq)), partition_by)
        self.spark.sql(f"DROP TABLE IF EXISTS {fq}")
        self.spark.sql(f"ALTER TABLE {stage} RENAME TO {fq}")
        # the data dir moved (and the layout may have changed): the
        # direct ingest/fetch paths must re-resolve, not write into
        # (or read from) the moved-away location
        self._forget(fq, self.changelog_name(fq))
        if partition_by:
            # RENAME on a partitioned managed table drops partition
            # metadata — recover or the table reads as empty
            self.spark.catalog.recoverPartitions(fq)
        # Drop any cached file listing of the old table: a plan holding
        # the pre-rename listing would die with FILE_NOT_EXIST.
        self.spark.catalog.refreshTable(fq)

    def add_column(self, name: str, col: str, pg_type: str,
                   schema_name: str | None = None) -> None:
        """``ALTER TABLE t ADD COLUMN c type`` — metadata-only on the
        base table (parquet schema evolution: old files read the new
        column as NULL). The changelog table evolves with it so future
        epochs carry the column; historical epochs read NULL."""
        fq = self.qualify(name, schema_name)
        if fq in self.upsert_meta:
            raise RuntimeError("ALTER TABLE on upsert tables is not supported")
        spark_t = RW.PG_TO_SPARK_TYPES.get(" ".join(pg_type.upper().split()))
        if spark_t is None:
            raise RuntimeError(f"unsupported type {pg_type!r}")
        self.spark.sql(f"ALTER TABLE {fq} ADD COLUMNS (`{col}` {spark_t})")
        cl = self.changelog_name(fq)
        if self.spark.catalog.tableExists(cl):
            with self._lock:
                self.spark.sql(f"ALTER TABLE {cl} ADD COLUMNS (`{col}` {spark_t})")
        self._forget(fq, cl)  # recorded schemas lack the column
        self.refresh_info_schema()

    def drop_column(self, name: str, col: str,
                    schema_name: str | None = None) -> None:
        """``ALTER TABLE t DROP COLUMN c``. Plain parquet tables can't
        drop columns in metadata (no column-mapping layer like
        Delta/Iceberg), so this is a stage-and-rename rewrite of table
        and changelog — O(table); on a cluster with a transactional
        format it becomes metadata-only."""
        fq = self.qualify(name, schema_name)
        if fq in self.upsert_meta:
            raise RuntimeError("ALTER TABLE on upsert tables is not supported")
        if col not in self.list_columns(name, schema_name):
            raise RuntimeError(f"column {col!r} does not exist in {fq}")
        self._rewrite_table(fq, lambda df: df.drop(col))
        cl = self.changelog_name(fq)
        if self.spark.catalog.tableExists(cl):
            with self._lock:
                # keep the epoch-partitioned layout: SINCE pruning and
                # the driver-side cursor/ingest fast paths depend on it
                self._rewrite_table(cl, lambda df: df.drop(col),
                                    partition_by=["rw_timestamp"])
        self.refresh_info_schema()

    def rename_table(self, name: str, new_name: str,
                     schema_name: str | None = None) -> None:
        """``ALTER TABLE t RENAME TO t2`` — catalog rename of the table
        and its changelog; subscriptions follow the rename (they
        reference the relation by name)."""
        fq = self.qualify(name, schema_name)
        new_fq = self.qualify(new_name, schema_name)
        if fq in self.upsert_meta or fq in self.mvs:
            raise RuntimeError("RENAME is only supported for plain tables")
        if _split_fq(fq)[0] != _split_fq(new_fq)[0]:
            raise RuntimeError("RENAME cannot move a table across schemas")
        self._clear_stale_location(new_fq)  # debris from a dead process
        self.spark.sql(f"ALTER TABLE {fq} RENAME TO {new_fq}")
        cl, new_cl = self.changelog_name(fq), self.changelog_name(new_fq)
        if self.spark.catalog.tableExists(cl):
            with self._lock:
                self._clear_stale_location(new_cl)
                self.spark.sql(f"ALTER TABLE {cl} RENAME TO {new_cl}")
                # changelogs are partitioned; RENAME drops partition
                # metadata — recover or the table reads as empty
                # (legacy unpartitioned changelogs raise: nothing to do)
                try:
                    self.spark.catalog.recoverPartitions(new_cl)
                except Exception:  # noqa: BLE001
                    pass
                if cl in self.vacuum_floor:
                    self.vacuum_floor[new_cl] = self.vacuum_floor.pop(cl)
        # a managed-table rename MOVES the data directory: drop the
        # records of both names or the direct-ingest path would land
        # files in the moved-away dir
        self._forget(fq, new_fq, cl, new_cl)
        for sub in self.subscriptions.values():
            if sub["rel"] == fq:
                sub["rel"] = new_fq
        for cur in self.cursors.values():
            if cur["rel"] == fq:
                cur["rel"] = new_fq
        if fq in self.watermarks:
            self.watermarks[new_fq] = self.watermarks.pop(fq)
        for idx in self.indexes.values():
            if idx["table"] == fq:
                idx["table"] = new_fq
        self.refresh_info_schema()

    def rename_mv(self, name: str, new_name: str,
                  schema_name: str | None = None) -> None:
        """``ALTER MATERIALIZED VIEW mv RENAME TO mv2`` — renames the
        result table + changelog and re-keys the MV state;
        subscriptions/cursors on the MV follow the rename. The
        DEFINING statement is untouched (it references base tables)."""
        fq = self.qualify(name, schema_name)
        new_fq = self.qualify(new_name, schema_name)
        if fq not in self.mvs:
            raise RuntimeError(f"{fq} is not a materialized view")
        if _split_fq(fq)[0] != _split_fq(new_fq)[0]:
            raise RuntimeError("RENAME cannot move an MV across schemas")
        with self._lock:
            self._clear_stale_location(new_fq)  # debris from a dead process
            self.spark.sql(f"ALTER TABLE {fq} RENAME TO {new_fq}")
            cl, new_cl = self.changelog_name(fq), self.changelog_name(new_fq)
            if self.spark.catalog.tableExists(cl):
                self._clear_stale_location(new_cl)
                self.spark.sql(f"ALTER TABLE {cl} RENAME TO {new_cl}")
                # partitioned changelog: recover partition metadata
                # (legacy unpartitioned changelogs raise: nothing to do)
                try:
                    self.spark.catalog.recoverPartitions(new_cl)
                except Exception:  # noqa: BLE001
                    pass
                if cl in self.vacuum_floor:
                    self.vacuum_floor[new_cl] = self.vacuum_floor.pop(cl)
            self._forget(fq, new_fq, cl, new_cl)
            state = self.mvs.pop(fq)
            state.fq = new_fq
            self.mvs[new_fq] = state
        for sub in self.subscriptions.values():
            if sub["rel"] == fq:
                sub["rel"] = new_fq
        for cur in self.cursors.values():
            if cur["rel"] == fq:
                cur["rel"] = new_fq
        self.refresh_info_schema()

    def explain(self, stmt: str) -> tuple[list[str], list[tuple]]:
        """``EXPLAIN [ANALYZE] <query>`` — the Catalyst physical plan,
        one line per row (PG's QUERY PLAN shape). ANALYZE executes the
        query and annotates each operator with its runtime SQL metrics
        (rows, spill, shuffle bytes — RisingWave's EXPLAIN ANALYZE
        shape). EXPLAIN CREATE MATERIALIZED VIEW explains the view's
        defining query."""
        m = re.match(r"^\s*ANALYZE\s+(.+)$", stmt, re.I | re.S)
        if m:
            return self._explain_analyze(m.group(1))
        sub = RW.classify(stmt)
        if sub.kind == "CREATE_MV":
            stmt = sub.params["stmt"]
        text = self.sql(f"EXPLAIN {stmt}").collect()[0][0]
        return ["QUERY PLAN"], [(line,) for line in text.rstrip("\n").split("\n")]

    def _explain_analyze(self, stmt: str) -> tuple[list[str], list[tuple]]:
        """Run the query, then walk the EXECUTED physical plan tree
        collecting each node's populated SQLMetrics."""
        sub = RW.classify(stmt)
        if sub.kind == "CREATE_MV":
            stmt = sub.params["stmt"]
        df = self.sql(stmt)
        df.collect()
        qe = df._jdf.queryExecution()
        node = qe.executedPlan()
        lines: list[tuple[str]] = []

        def walk(n, depth: int) -> None:
            parts = []
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                v = kv._2().value()
                if v > 0:
                    parts.append(f"{kv._1()}={v}")
            suffix = f"  [{', '.join(sorted(parts))}]" if parts else ""
            lines.append((("  " * depth) + n.nodeName() + suffix,))
            # AQE wrappers are leaf-like: descend into their actual
            # executed subplan.
            if n.nodeName().startswith("AdaptiveSparkPlan"):
                walk(n.executedPlan(), depth + 1)
                return
            if "QueryStage" in n.nodeName():
                walk(n.plan(), depth + 1)
                return
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i), depth + 1)

        walk(node, 0)
        return ["QUERY PLAN"], lines

    # -- user-defined functions (SURVEY §2.9; RW embedded-Python UDF) ------

    def create_function(self, name: str, rettype: str, body: str,
                        ignore_exist: bool = True) -> None:
        """``CREATE FUNCTION f(…) RETURNS t LANGUAGE python AS $$…$$``
        — RisingWave's embedded-Python UDF surface, mapped to a Spark
        Python UDF: the body must define a function named ``name``;
        the PG return type maps through PG_TO_SPARK_TYPES. The UDF is
        session-scoped (like RW's catalog, per-engine here). Note this
        is the Python-row slow path by design — the shims and built-in
        rewrites cover the hot paths; user UDFs trade speed for
        arbitrary logic exactly as on the reference server."""
        if name in self.udfs:
            if ignore_exist:
                return
            raise RuntimeError(f"function {name} already exists")
        spark_t = RW.PG_TO_SPARK_TYPES.get(rettype.strip().upper())
        if spark_t is None:
            raise RuntimeError(f"unsupported return type {rettype!r}")
        ns: dict = {}
        exec(body, ns)  # noqa: S102 — user's own session, like RW embedded UDFs
        fn = ns.get(name)
        if not callable(fn):
            raise RuntimeError(f"UDF body must define a function named {name!r}")
        self.spark.udf.register(name, fn, spark_t)
        self.udfs[name] = rettype
        self.udf_defs[name] = [rettype, body]

    def drop_function(self, name: str) -> None:
        self.udfs.pop(name, None)
        self.udf_defs.pop(name, None)  # else it resurrects on restart
        self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")

    # -- indexes (RW CREATE INDEX → physical clustering) -------------------

    def create_index(self, name: str, table: str, cols: list[str],
                     ignore_exist: bool = True) -> None:
        """``CREATE INDEX i ON t (c, …)``. RisingWave materializes a
        sorted copy; the Spark-native equivalent of that access-path
        benefit is CLUSTERING the table itself: rewrite range-
        partitioned + sorted by the index columns so parquet row-group
        min/max statistics become selective — point/range predicates
        on the leading column then skip most row groups at scan time
        (the same I/O win an index gives a single-node engine, but
        shuffle-free at read time). One-time O(table) sort; on a
        cluster the same move is Delta/Iceberg OPTIMIZE ZORDER."""
        fq_idx = self.qualify(name)
        fq_t = self.qualify(table)
        if fq_idx in self.indexes:
            if ignore_exist:
                return
            raise RuntimeError(f"index {fq_idx} already exists")
        missing = [c for c in cols if c not in self.list_columns(table)]
        if missing:
            raise RuntimeError(f"no such column(s) {missing} in {fq_t}")
        self._rewrite_table(
            fq_t,
            lambda df: df.repartitionByRange(*cols).sortWithinPartitions(*cols),
        )
        self.indexes[fq_idx] = {"table": fq_t, "cols": list(cols)}

    def drop_index(self, name: str) -> None:
        self.indexes.pop(self.qualify(name), None)

    def show_indexes(self, table: str):
        fq_t = self.qualify(table)
        rows = [
            (_split_fq(idx)[1], ", ".join(meta["cols"]))
            for idx, meta in sorted(self.indexes.items())
            if meta["table"] == fq_t
        ]
        return ["name", "columns"], rows

    # -- DML: UPDATE / DELETE (PG surface via pass-through) ----------------

    def _returning(self, df: DataFrame, ret: str | None):
        """Project a PG RETURNING expression list over affected rows."""
        if ret is None:
            return None
        out = df.selectExpr(*RW.split_top_level(ret))
        return out.columns, [tuple(r) for r in out.collect()]

    def delete_rows(self, name: str, where: str | None = None,
                    schema_name: str | None = None,
                    returning: str | None = None):
        """``DELETE FROM t [WHERE pred]``. SQL semantics: only rows
        where the predicate is TRUE are deleted (FALSE and NULL rows
        stay). Emits Delete changelog rows for the removed rows in one
        epoch. The survivors are snapshotted (localCheckpoint) before
        the overwrite so the rewrite never reads the table it is
        replacing. At cluster scale the same operation is a Delta/
        Iceberg DELETE (file-level rewrite of matching files only)."""
        fq = self.qualify(name, schema_name)
        if fq in self.upsert_meta:
            return self._delete_upsert(fq, where, returning)
        cur = self.spark.table(fq)
        cond = F.expr(f"coalesce(({where}), false)") if where else F.lit(True)
        deleted = cur.filter(cond).localCheckpoint(eager=True)
        n = deleted.count()
        if n == 0:
            return self._returning(deleted, returning) if returning else 0
        remaining = cur.filter(~cond).localCheckpoint(eager=True)
        with self._lock:
            epoch = self.next_epoch()
            remaining.write.mode("overwrite").insertInto(fq, overwrite=True)
            self._ensure_changelog(fq)
            self._append_changelog_tagged(
                fq, self._tag_ops([(deleted, OP_DELETE)]), epoch
            )
        self.spark.catalog.refreshTable(fq)
        return self._returning(deleted, returning) if returning else n

    def update_rows(self, name: str, assignments: list[tuple[str, str]],
                    where: str | None = None, schema_name: str | None = None,
                    returning: str | None = None):
        """``UPDATE t SET c = expr, … [WHERE pred]``. Changed rows emit
        an UpdateDelete (old values) + UpdateInsert (new values) pair
        in one atomically-published epoch — the same contract an
        updating MV produces (demo.py:50). SET expressions are cast
        back to the column's declared type (PG assignment cast)."""
        fq = self.qualify(name, schema_name)
        if fq in self.upsert_meta:
            return self._update_upsert(fq, assignments, where, returning)
        cur = self.spark.table(fq)
        schema = {f.name.lower(): f.dataType for f in cur.schema.fields}
        for col, _ in assignments:
            if col.lower() not in schema:
                raise RuntimeError(f"column {col} does not exist in {fq}")
        cond = F.expr(f"coalesce(({where}), false)") if where else F.lit(True)
        old = cur.filter(cond).localCheckpoint(eager=True)
        n = old.count()
        if n == 0:
            return self._returning(old, returning) if returning else 0
        untouched = cur.filter(~cond).localCheckpoint(eager=True)
        # withColumns applies every assignment against the OLD row
        # simultaneously (SQL UPDATE semantics: SET a = b, b = a swaps).
        new = old.withColumns(
            {col: F.expr(expr).cast(schema[col.lower()]) for col, expr in assignments}
        ).localCheckpoint(eager=True)
        with self._lock:
            epoch = self.next_epoch()
            untouched.unionByName(new).write.mode("overwrite").insertInto(
                fq, overwrite=True
            )
            self._ensure_changelog(fq)
            self._append_changelog_tagged(fq, self._tag_ops(
                [(old, OP_UPDATE_DELETE), (new, OP_UPDATE_INSERT)]
            ), epoch)
        self.spark.catalog.refreshTable(fq)
        return self._returning(new, returning) if returning else n

    def _append_upsert_log(self, fq: str, rows: DataFrame, epoch: int,
                           deleted: bool) -> None:
        """Append user-shaped rows to an upsert table's log, stamped
        with epoch + tombstone flag (caller holds the engine lock)."""
        log = self.log_name(fq)
        self.spark.catalog.refreshTable(log)
        rows.withColumn("__rw_epoch", F.lit(epoch)).withColumn(
            "__rw_deleted", F.lit(deleted)
        ).write.mode("append").saveAsTable(log)
        meta = self.upsert_meta.get(fq)
        if meta is not None:  # compaction pressure, in batches not rows
            meta["appends"] = int(meta.get("appends", 0)) + 1

    # Append batches an upsert log may accumulate before FLUSH rewrites
    # it down to winners. Batches, not rows: counting rows would force
    # an extra count() job on the ingest hot path.
    UPSERT_COMPACT_BATCHES = 16

    def _compact_upsert_log(self, fq: str) -> None:
        """Rewrite an upsert table's append log down to ONE winning row
        per primary key. Tombstone winners are KEPT (a deleted key must
        keep outranking later lower-version inserts), so the compacted
        log is bounded by O(live keys + deleted keys) instead of
        growing with total DML history — the latest-by-version view
        recomputes identically over it and changelogs are untouched.
        Same stage-then-rename rewrite as changelog vacuum."""
        meta = self.upsert_meta[fq]
        log = self.log_name(fq)
        pk_sql = ", ".join(f"`{c}`" for c in meta["pk"])
        vcol = meta["version_col"]
        stage = f"{log}__compact_stage"
        pre = f"{log}__compact_pre"
        with self._lock:
            # Self-heal first: a compaction that failed mid-swap in
            # THIS process (no restart) must not leave the log aside
            # forever — recovery is idempotent and normally two
            # tableExists probes.
            self._recover_upsert_log(fq)
            self.spark.catalog.refreshTable(log)
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
            self._clear_stale_location(stage)
            self.spark.sql(
                f"CREATE TABLE {stage} USING PARQUET AS "
                f"SELECT * EXCEPT (__rw_rn) FROM ("
                f"  SELECT *, row_number() OVER ("
                f"    PARTITION BY {pk_sql} "
                f"    ORDER BY `{vcol}` DESC NULLS LAST, `__rw_epoch` DESC) AS __rw_rn "
                f"  FROM {log}) WHERE __rw_rn = 1"
            )
            # The log is the table's SOLE source of truth (unlike MV
            # swaps, it is not recomputable) — never drop it before the
            # replacement is installed. Rename it ASIDE, rename the
            # stage in, and only then drop the old copy: a crash at any
            # point leaves either the live log or a recoverable aside/
            # stage pair (_recover_upsert_log heals both windows).
            self.spark.sql(f"DROP TABLE IF EXISTS {pre}")
            self._clear_stale_location(pre)
            self.spark.sql(f"ALTER TABLE {log} RENAME TO {pre}")
            self.spark.sql(f"ALTER TABLE {stage} RENAME TO {log}")
            self.spark.sql(f"DROP TABLE IF EXISTS {pre}")
            self.spark.catalog.refreshTable(log)
            meta["appends"] = 0

    def _recover_upsert_log(self, fq: str) -> None:
        """Heal a crash inside _compact_upsert_log's swap window: if
        the log table is missing, install the best surviving copy —
        the compacted stage if it completed (equivalent content), else
        the renamed-aside original — and drop the other remnant.

        When the log is LIVE this is a no-op: a stage/pre table next
        to a live log may be a CONCURRENT engine's in-flight
        compaction (two live engines over one warehouse is a supported
        restart/multi-client scenario) — dropping it would break that
        engine's swap. Our own compaction re-drops any stale stage
        under its lock before staging, so stale remnants never survive
        past the next compaction anyway."""
        log = self.log_name(fq)
        stage = f"{log}__compact_stage"
        pre = f"{log}__compact_pre"
        if self.spark.catalog.tableExists(log):
            return
        if self.spark.catalog.tableExists(stage):
            self.spark.sql(f"ALTER TABLE {stage} RENAME TO {log}")
        elif self.spark.catalog.tableExists(pre):
            self.spark.sql(f"ALTER TABLE {pre} RENAME TO {log}")
        for leftover in (stage, pre):
            if self.spark.catalog.tableExists(leftover):
                self.spark.sql(f"DROP TABLE IF EXISTS {leftover}")

    def _delete_upsert(self, fq: str, where: str | None,
                       returning: str | None):
        """DELETE on an ON CONFLICT table (reference server allows DML
        on PK tables): append a tombstone per matching CURRENT row —
        same PK and version, later epoch, so the latest-by-version
        window resolves to the tombstone and the view hides the key.
        The log itself is never rewritten (append-only, like the
        server's LSM delete record)."""
        cond = F.expr(f"coalesce(({where}), false)") if where else F.lit(True)
        deleted = self.spark.table(fq).filter(cond).localCheckpoint(eager=True)
        n = deleted.count()
        if n == 0:
            return self._returning(deleted, returning) if returning else 0
        with self._lock:
            epoch = self.next_epoch()
            self._append_upsert_log(fq, deleted, epoch, deleted=True)
            self._ensure_changelog(fq)
            self._append_changelog_tagged(
                fq, self._tag_ops([(deleted, OP_DELETE)]), epoch
            )
        self.spark.catalog.refreshTable(self.log_name(fq))
        return self._returning(deleted, returning) if returning else n

    def _update_upsert(self, fq: str, assignments: list[tuple[str, str]],
                       where: str | None, returning: str | None):
        """UPDATE on an ON CONFLICT table: append the updated image of
        each matching CURRENT row (same PK and version, later epoch →
        wins the latest-by-version window). Updating a primary-key
        column is rejected — that is a delete+insert of a different
        key, which the reference server also refuses."""
        meta = self.upsert_meta[fq]
        pk_lower = {c.lower() for c in meta["pk"]}
        for col, _ in assignments:
            if col.lower() in pk_lower:
                raise RuntimeError(
                    f"UPDATE of primary-key column {col} on upsert table {fq}"
                )
        cur = self.spark.table(fq)
        schema = {f.name.lower(): f.dataType for f in cur.schema.fields}
        for col, _ in assignments:
            if col.lower() not in schema:
                raise RuntimeError(f"column {col} does not exist in {fq}")
        cond = F.expr(f"coalesce(({where}), false)") if where else F.lit(True)
        old = cur.filter(cond).localCheckpoint(eager=True)
        n = old.count()
        if n == 0:
            return self._returning(old, returning) if returning else 0
        new = old.withColumns(
            {col: F.expr(expr).cast(schema[col.lower()]) for col, expr in assignments}
        ).localCheckpoint(eager=True)
        with self._lock:
            epoch = self.next_epoch()
            self._append_upsert_log(fq, new, epoch, deleted=False)
            self._ensure_changelog(fq)
            self._append_changelog_tagged(fq, self._tag_ops(
                [(old, OP_UPDATE_DELETE), (new, OP_UPDATE_INSERT)]
            ), epoch)
        self.spark.catalog.refreshTable(self.log_name(fq))
        return self._returning(new, returning) if returning else n

    # -- flush / MV maintenance -------------------------------------------

    def flush(self) -> None:
        """Read-your-writes barrier (reference FLUSH, core.py:121):
        base-table writes are already synchronous; this refreshes every
        registered MV so MVs + their changelogs observe prior writes,
        and invalidates file-source tables' cached listings so files
        that landed out-of-band are visible to the next read."""
        for fq in self.sources:
            if self.spark.catalog.tableExists(fq):
                self.spark.catalog.refreshTable(fq)
        for state in list(self.mvs.values()):
            self.refresh_mv(state)
        for fq, meta in list(self.upsert_meta.items()):
            if int(meta.get("appends", 0)) >= self.UPSERT_COMPACT_BATCHES:
                self._compact_upsert_log(fq)
        self.flush_sinks()

    # -- external file sources (CREATE SOURCE, SURVEY §2.1 connectors) ----

    SOURCE_FORMATS = ("parquet", "csv", "json")

    def create_source(
        self,
        name: str,
        props: dict[str, str],
        ignore_exist: bool = True,
        schema_name: str | None = None,
    ) -> None:
        """Register an external file-backed source table.

        The RisingWave surface reaches CREATE SOURCE via SQL
        pass-through (/root/reference/risingwave/core.py:161-181); the
        filesystem connector maps to a Spark external datasource table
        over the given path — no data is copied, the scan gets
        pushdown/pruning like any parquet read, and new files appearing
        under the path are visible after FLUSH (listing refresh). At
        cluster scale the same DDL points at object-store URIs.
        """
        fq = self.qualify(name, schema_name)
        connector = props.get("connector", "filesystem").lower()
        if connector in self.STREAM_CONNECTORS:
            self._create_stream_source(fq, connector, props, ignore_exist)
            return
        if connector not in ("filesystem", "posix_fs", "s3", "s3_v2"):
            raise RuntimeError(
                f"unsupported source connector {connector!r} "
                f"(supported: filesystem, posix_fs, s3, s3_v2, "
                f"{', '.join(self.STREAM_CONNECTORS)})"
            )
        path = props.get("path") or props.get("posix_fs.root")
        if connector in ("s3", "s3_v2"):
            # RisingWave s3 WITH-properties → Spark's s3a filesystem
            # (reference reach: pass-through DDL, core.py:161-181). The
            # object-store path IS a Spark file source — same format
            # machinery as filesystem; schema inference at DDL time is
            # the capability check (no hadoop-aws jar / no reachable
            # endpoint ⇒ CREATE SOURCE fails, not first read). An
            # explicit `path` property overrides the derived URI (any
            # scheme Spark's Hadoop FS layer knows — the dev/test path).
            hc = self.spark.sparkContext._jsc.hadoopConfiguration()
            bucket = props.get("s3.bucket_name")
            if not bucket and path and "://" in path:
                scheme, rest = path.split("://", 1)
                if scheme in ("s3a", "s3", "s3n"):
                    bucket = rest.split("/", 1)[0]
            cred_map = {
                "s3.credentials.access": "access.key",
                "s3.credentials.secret": "secret.key",
                "s3.region_name": "endpoint.region",
                "s3.endpoint_url": "endpoint",
            }
            # Credentials/endpoint go into PER-BUCKET scoped Hadoop
            # keys (s3a's fs.s3a.bucket.<bucket>.* overrides): two
            # sources over different buckets with different credentials
            # coexist, and DROP SOURCE unsets only its own keys. A
            # second source on the SAME bucket with CONFLICTING values
            # is rejected — the old session-global fs.s3a.* write meant
            # last-DDL-wins for every read in the session.
            scope = f"fs.s3a.bucket.{bucket}." if bucket else "fs.s3a."
            staged: dict[str, str] = {}
            for rw_key, suffix in cred_map.items():
                if not props.get(rw_key):
                    continue
                key = scope + suffix
                for ofq, om in self.sources.items():
                    owned = om.get("hadoop_keys") or {}
                    if key in owned and owned[key] != props[rw_key]:
                        raise RuntimeError(
                            f"s3 source {fq}: {rw_key!r} conflicts with "
                            f"live source {ofq} on {key} — drop it first "
                            f"or use a different bucket"
                        )
                staged[key] = props[rw_key]
            for key, val in staged.items():
                hc.set(key, val)
            if not path:
                if not bucket:
                    raise RuntimeError(
                        "s3 source requires s3.bucket_name (or a path override)"
                    )
                # glob patterns narrow to their literal prefix — Spark
                # lists recursively under it; partition pruning and
                # pushdown apply as with any file source
                prefix = props.get("match_pattern", "").split("*")[0]
                path = f"s3a://{bucket}/{prefix}".rstrip("/")
            props = dict(props, hadoop_keys=staged)
        if not path:
            raise RuntimeError("CREATE SOURCE requires a path property")
        fmt = props.get("format", "parquet").lower()
        if fmt not in self.SOURCE_FORMATS:
            raise RuntimeError(f"unsupported source format {fmt!r}")
        if self.spark.catalog.tableExists(fq):
            if ignore_exist:
                return
            raise RuntimeError(f"source {fq} already exists")
        opts = {
            k: v
            for k, v in props.items()
            if k not in ("connector", "path", "posix_fs.root", "format",
                         "match_pattern", "hadoop_keys")
            and not k.startswith("s3.")
        }
        self.spark.catalog.createTable(fq, source=fmt, path=path, **opts)
        self.sources[fq] = dict(props, format=fmt, path=path)

    # Streaming-class connectors (SURVEY §2.1 'Kafka/S3/CDC connectors').
    # RisingWave's kafka WITH-properties map onto Spark's kafka
    # readStream options; datagen (RisingWave's synthetic-load
    # connector, reachable in the reference via the same SQL
    # pass-through core.py:161-181) maps to Spark's built-in `rate`
    # source and doubles as the jar-free test path for the plumbing.
    STREAM_CONNECTORS = ("kafka", "datagen")

    def _create_stream_source(
        self, fq: str, connector: str, props: dict[str, str], ignore_exist: bool,
        resume: bool = False,
    ) -> None:
        """CREATE SOURCE for a streaming connector: the stream lands in
        a backing table via foreachBatch inserts through insert_df, so
        every micro-batch is an ordinary engine epoch — MVs,
        changelogs, and subscriptions downstream work unchanged (the
        same contract as the PushSource bridge, sources/push.py).

        Capability check: `readStream.format(...).load()` raises
        DATA_SOURCE_NOT_FOUND at DDL time when the connector jar is not
        on the classpath (e.g. kafka in this container) — the failure
        is at CREATE SOURCE, not first read.

        ``resume=True`` (catalog restore) re-attaches the readStream to
        an EXISTING backing table — the exists-check would otherwise
        silently drop the source on restart."""
        if not resume and (fq in self.sources or self.spark.catalog.tableExists(fq)):
            if ignore_exist:
                return
            raise RuntimeError(f"source {fq} already exists")
        if connector == "kafka":
            fmt = "kafka"
            opts = {}
            servers = (
                props.get("properties.bootstrap.server")
                or props.get("properties.bootstrap.servers")
            )
            if not servers:
                raise RuntimeError(
                    "kafka source requires properties.bootstrap.server"
                )
            opts["kafka.bootstrap.servers"] = servers
            if props.get("topic"):
                opts["subscribe"] = props["topic"]
            opts["startingOffsets"] = (
                "earliest"
                if props.get("scan.startup.mode", "earliest") == "earliest"
                else "latest"
            )
            for k, v in props.items():  # expert pass-through
                if k.startswith("kafka."):
                    opts[k] = v
        else:  # datagen -> rate
            fmt = "rate"
            opts = {
                "rowsPerSecond": props.get(
                    "datagen.rows.per.second", props.get("rows.per.second", "10")
                )
            }
        reader = self.spark.readStream.format(fmt)
        for k, v in opts.items():
            reader = reader.option(k, v)
        sdf = reader.load()  # <- capability check (DATA_SOURCE_NOT_FOUND)
        if not resume:
            self._clear_stale_location(fq)
            self.spark.createDataFrame([], sdf.schema).write.format(
                "parquet"
            ).saveAsTable(fq)
        self._ensure_changelog(fq)
        db, tbl = _split_fq(fq)
        wh = re.sub(r"^file:", "", self.spark.conf.get("spark.sql.warehouse.dir"))
        ckpt = os.path.join(wh, "__rw_stream_ckpt__", db, tbl)
        query = (
            sdf.writeStream.foreachBatch(
                lambda bdf, _bid: self.insert_df(tbl, bdf, schema_name=db)
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=props.get("trigger.interval", "1 second"))
            .start()
        )
        self.sources[fq] = dict(props, format=fmt, stream_query=query)

    def drop_source(self, name: str, schema_name: str | None = None) -> None:
        fq = self.qualify(name, schema_name)
        meta = self.sources.pop(fq, None)
        if meta and meta.get("hadoop_keys"):
            # release this source's per-bucket s3 conf keys — unless a
            # surviving source owns the same key (same-bucket twin with
            # identical values, the only way two can share one)
            still_owned = {
                k
                for om in self.sources.values()
                for k in (om.get("hadoop_keys") or {})
            }
            hc = self.spark.sparkContext._jsc.hadoopConfiguration()
            for key in meta["hadoop_keys"]:
                if key not in still_owned:
                    hc.unset(key)
        if meta and meta.get("stream_query") is not None:
            try:
                meta["stream_query"].stop()
            except Exception:  # noqa: BLE001 — already stopped/failed
                pass
            self.spark.sql(f"DROP TABLE IF EXISTS {self.changelog_name(fq)}")
        # external table: drops only catalog metadata, never the files
        self.spark.sql(f"DROP TABLE IF EXISTS {fq}")

    # -- external file sinks (CREATE SINK, SURVEY §2.1 connectors) --------

    def create_sink(
        self,
        name: str,
        props: dict[str, str],
        from_rel: str | None = None,
        stmt: str | None = None,
        ignore_exist: bool = True,
        schema_name: str | None = None,
    ) -> None:
        """Register an external file sink over a relation or a query.

        The RisingWave surface reaches ``CREATE SINK … FROM rel`` /
        ``AS SELECT …`` via SQL pass-through
        (/root/reference/risingwave/core.py:161-181). Mapping:

        - ``type='append-only'`` (default): only ``Insert`` changes are
          written, as plain data rows (RisingWave's force_append_only
          behavior for updating upstreams);
        - ``type='changelog'``: every change is written with ``op`` and
          ``rw_timestamp`` columns (debezium-style change feed).
        - ``snapshot='true'`` (default): the relation's current content
          is emitted once at creation, as Insert rows at the current
          epoch; then each FLUSH incrementally forwards changelog
          epochs beyond the sink's position.
        - ``AS SELECT``: backed by a hidden MV so the sink sees that
          query's own changelog (dropped with the sink).

        Scale: both snapshot and incremental paths are DataFrame
        writes straight from the changelog parquet to the target files
        — executor-parallel, never collected to the driver; per-flush
        output is one job whose atomicity rides on Spark's file output
        committer.
        """
        fq = self.qualify(name, schema_name)
        if fq in self.sinks:
            if ignore_exist:
                return
            raise RuntimeError(f"sink {fq} already exists")
        connector = props.get("connector", "filesystem").lower()
        if connector == "kafka":
            # RisingWave kafka-sink properties → Spark's batch kafka
            # writer. Capability-checked at DDL time: a zero-row probe
            # write resolves the data source, so a missing
            # spark-sql-kafka package fails the CREATE, not the flush.
            topic = props.get("topic")
            servers = (
                props.get("properties.bootstrap.server")
                or props.get("properties.bootstrap.servers")
            )
            if not topic or not servers:
                raise RuntimeError(
                    "kafka sink requires topic and properties.bootstrap.server"
                )
            probe = self.spark.createDataFrame([], "value string")
            probe.write.format("kafka").option(
                "kafka.bootstrap.servers", servers
            ).option("topic", topic).save()
            fmt, path = "kafka", None
        elif connector not in ("filesystem", "posix_fs"):
            raise RuntimeError(f"unsupported sink connector {connector!r}")
        else:
            path = props.get("path") or props.get("posix_fs.root")
            if not path:
                raise RuntimeError("CREATE SINK requires a path property")
            fmt = props.get("format", "parquet").lower()
            if fmt not in self.SOURCE_FORMATS:
                raise RuntimeError(f"unsupported sink format {fmt!r}")
        mode = props.get("type", "append-only").lower()
        if mode not in ("append-only", "changelog"):
            raise RuntimeError(f"unsupported sink type {mode!r}")
        owned_mv = None
        if stmt is not None:
            db, tbl = _split_fq(fq)
            owned_mv = f"{db}.__rw_sinkmv__{tbl}"
            self.create_mv(owned_mv, stmt, ignore_exist=False)
            rel = owned_mv
        else:
            rel = self.qualify(from_rel)
            if not self.spark.catalog.tableExists(rel):
                raise RuntimeError(f"relation {rel} does not exist")
        self._ensure_changelog(rel)
        if fmt == "kafka":
            opts = {
                "kafka.bootstrap.servers": servers,
                "topic": topic,
            }
        else:
            opts = {
                k: v
                for k, v in props.items()
                if k not in ("connector", "path", "posix_fs.root", "format", "type", "snapshot")
            }
        sink = {
            "rel": rel,
            "path": path,
            "format": fmt,
            "mode": mode,
            "opts": opts,
            "pos": self.current_epoch,
            "owned_mv": owned_mv,
        }
        if props.get("snapshot", "true").lower() != "false":
            snap = self.spark.table(rel)
            if mode == "changelog":
                snap = snap.withColumn("op", F.lit(OP_INSERT)).withColumn(
                    "rw_timestamp", F.lit(self.current_epoch).cast("bigint")
                )
            self._sink_write(snap, sink)
        self.sinks[fq] = sink

    def drop_sink(self, name: str, schema_name: str | None = None) -> None:
        sink = self.sinks.pop(self.qualify(name, schema_name), None)
        # written files are the sink's product: always left in place
        if sink and sink["owned_mv"]:
            self.drop_mv(sink["owned_mv"])

    def flush_sinks(self) -> None:
        """Forward each sink's pending changelog epochs to its files.
        Runs after MV refresh inside flush(), so sinks over MVs see the
        deltas that refresh just emitted."""
        for sink in self.sinks.values():
            upto = self.current_epoch
            if upto <= sink["pos"]:
                continue
            batch = self.changelog_table(sink["rel"]).filter(
                (F.col("rw_timestamp") > sink["pos"]) & (F.col("rw_timestamp") <= upto)
            )
            if sink["mode"] == "append-only":
                batch = batch.filter(F.col("op") == OP_INSERT).drop("op", "rw_timestamp")
            self._sink_write(batch, sink)
            sink["pos"] = upto

    def _sink_write(self, df: DataFrame, sink: dict) -> None:
        if sink["format"] == "kafka":
            # one JSON document per change row, executor-parallel
            out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
            out.write.format("kafka").options(**sink["opts"]).save()
            return
        df.write.mode("append").options(**sink["opts"]).format(sink["format"]).save(
            sink["path"]
        )

    # an internal changelog table named in user SQL, with its schema
    _CHANGELOG_REF = re.compile(r"(?:\b(\w+)\.)?\b(__rw_changelog__\w+)", re.I)

    def sql(self, sql: str, args=None) -> DataFrame:
        """Run a query; ``args`` are Spark SQL bind parameters — a dict
        for named ``:name`` markers (the same marker syntax SQLAlchemy
        ``text()`` uses, which is where the reference forwards its
        ``*args`` — /root/reference/risingwave/core.py:176,202,234) or
        a list for positional ``?`` markers."""
        self.spark.catalog.setCurrentDatabase(self.default_schema)
        if re.search(r"\binformation_schema\.", sql, re.I):
            self.refresh_info_schema()
        for db, cl in self._CHANGELOG_REF.findall(sql):
            self._sync_changelog(f"{db or self.default_schema}.{cl}")
        if self._ASOF_EPOCH.search(sql):
            sql = self._rewrite_asof_epoch(sql)
        rewritten = RW.rewrite_query(sql, self.version_string)
        if args:
            return self.spark.sql(rewritten, args=args)
        return self.spark.sql(rewritten)

    # -- time travel (FOR SYSTEM_TIME AS OF EPOCH n) ------------------------
    #
    # The engine's changelog already holds every table's full history
    # as (payload…, op, rw_timestamp=epoch) — the same log cursors
    # replay and incremental MVs consume — so point-in-time reads are
    # a fold over it, not a new storage format. RisingWave spells
    # temporal access FOR SYSTEM_TIME AS OF (proctime(), for lookup
    # joins); this extends the spelling to historical epochs the way
    # a lakehouse exposes VERSION AS OF over its commit log.

    # Anchored to FROM/JOIN context with an optional [AS] alias, so an
    # aliased reference (FROM t AS x FOR SYSTEM_TIME …) resolves the
    # TABLE, not the alias, and the pattern inside an unrelated select
    # item never rewrites literal text. Known limitation (documented):
    # the phrase inside a string literal or comment that happens to
    # follow the token FROM/JOIN still matches — the rewrite is
    # textual, like the reference's own psql-style parameterization.
    _ASOF_EPOCH = re.compile(
        r"(?P<kw>\b(?:FROM|JOIN)\s+|,\s*)(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+(?:AS\s+)?(?!FOR\b)(?P<alias>[A-Za-z_]\w*))?"
        r"\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+EPOCH\s+(?P<n>\d+)",
        re.I,
    )

    def _rewrite_asof_epoch(self, sql: str) -> str:
        """Replace every ``FROM/JOIN tbl [AS alias] FOR SYSTEM_TIME AS
        OF EPOCH n`` with a temp view holding the reconstructed state
        (one view per (table, epoch), reused within the statement);
        the alias, if any, is re-attached to the view."""
        def sub(m: "re.Match[str]") -> str:
            fq = self.qualify(m.group("tbl"))
            n = int(m.group("n"))
            view = "__rw_asof_" + re.sub(r"[^0-9a-zA-Z]", "_", fq) + f"_{n}"
            self.table_asof(fq, n).createOrReplaceTempView(view)
            alias = m.group("alias")
            return m.group("kw") + view + (f" AS {alias}" if alias else "")

        return self._ASOF_EPOCH.sub(sub, sql)

    def table_asof(self, fq: str, epoch: int) -> DataFrame:
        """The table's state as of ``epoch``, reconstructed from its
        changelog under bag semantics: per distinct row value,
        multiplicity = Σ(+1 for Insert/UpdateInsert, −1 for Delete/
        UpdateDelete) over epochs ≤ n. Cost is one aggregation over
        the epoch-pruned changelog suffix — the same partition-pruned
        scan shape cursors use — never a snapshot copy. Requires the
        COMPLETE history: a vacuumed changelog (or an upsert table,
        whose log carries version-resolution columns, not bag ops)
        is refused loudly rather than answered wrongly."""
        fq = self.qualify(fq)
        if fq in self.upsert_meta:
            raise ValueError(
                f"time travel is not supported on upsert table {fq}: its "
                "changelog resolves versions, it is not a bag-op history"
            )
        if fq in getattr(self, "mvs", {}):
            return self._mv_asof(fq, epoch)
        cl = self.changelog_name(fq)
        if not self.spark.catalog.tableExists(cl):
            raise ValueError(f"no changelog for {fq}: not an engine table")
        if self.vacuum_floor.get(cl, 0) > 0:
            raise ValueError(
                f"time travel to epoch {epoch} needs the full history of "
                f"{fq}, but its changelog is vacuumed through epoch "
                f"{self.vacuum_floor[cl]}"
            )
        log = self.changelog_table(fq).filter(F.col("rw_timestamp") <= epoch)
        payload = [c for c in log.columns if c not in ("op", "rw_timestamp")]
        weight = F.when(
            F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT), F.lit(1)
        ).otherwise(F.lit(-1))
        bag = (
            log.groupBy(*payload)
            .agg(F.sum(weight).alias("__rw_cnt"))
            .filter(F.col("__rw_cnt") > 0)
        )
        return bag.select(
            *payload,
            F.explode(F.expr("sequence(1, __rw_cnt)")).alias("__rw_i"),
        ).select(*payload)

    def _mv_asof(self, fq: str, epoch: int) -> DataFrame:
        """An MV's state as of ``epoch`` via the REVERSE fold: the
        current stored result minus the changelog suffix with
        rw_timestamp > epoch (subtract its inserts, add back its
        deletes). The MV changelog starts at the first refresh delta —
        the creation snapshot is not in it, so a forward fold would
        silently drop the initial rows; the reverse fold needs no
        snapshot copy at all because the CURRENT table already embeds
        it, and it only requires suffix completeness, so a changelog
        vacuumed through floor <= epoch still answers. Epochs before
        the creation anchor (MVState.created_epoch, persisted in the
        engine catalog) are refused — the view did not exist."""
        st = self.mvs[fq]
        if st.created_epoch is None:
            raise ValueError(
                f"time travel is not supported on materialized view {fq}: "
                "its creation epoch is unknown (created by a pre-anchor "
                "engine version). Recreate the view, or time-travel the "
                "BASE tables and re-apply the view query instead."
            )
        if epoch < st.created_epoch:
            raise ValueError(
                f"materialized view {fq} was created at epoch "
                f"{st.created_epoch}; epoch {epoch} predates it. "
                "Time-travel the BASE tables and re-apply the view "
                "query for pre-creation states."
            )
        cl = self.changelog_name(fq)
        if not self.spark.catalog.tableExists(cl):
            raise ValueError(f"no changelog for materialized view {fq}")
        # Floor check + two-source read + fold all under the engine
        # lock, with the RESULT pinned eagerly before releasing it:
        # vacuum advances the floor and truncates under this same
        # lock, and every refresh commits changelog-then-table under
        # it, so nothing can truncate the suffix or swap the table
        # between the check and the evaluation (ADVICE r10: the
        # unlocked check raced a concurrent vacuum, and a lazy return
        # value re-read both sources after arbitrary later commits).
        with self._lock:
            if self.vacuum_floor.get(cl, 0) > epoch:
                raise ValueError(
                    f"time travel to epoch {epoch} needs the changelog "
                    f"suffix of {fq} above it, but the changelog is "
                    f"vacuumed through epoch {self.vacuum_floor[cl]}"
                )
            self.spark.catalog.refreshTable(fq)
            cur = self.spark.table(fq)
            payload = cur.columns
            log = self.changelog_table(fq)
            missing = set(payload) - set(log.columns)
            if missing:
                raise ValueError(
                    f"changelog of {fq} lacks columns {sorted(missing)} "
                    "(post-hoc schema drift): cannot reverse-fold"
                )
            suffix = log.filter(F.col("rw_timestamp") > epoch)
            # Crash re-emission probe: the refresh commit order is
            # changelog-first/table-second, so a crash between them
            # leaves an epoch in the log that the table never absorbed
            # — and the next (snapshot-diff) refresh re-emits the same
            # delta, the system's at-least-once contract. The only
            # candidate orphan is the changelog max AT RESTORE TIME
            # (recovered_epoch). If its row multiset equals the next
            # epoch's exactly, a redelivery happened: for a KEYED
            # (grouped) MV adjacent identical transition sets are
            # impossible legitimately (the second epoch's retract side
            # could not match the post-first stored state), so the
            # orphan is excluded from every fold; for a bag MV the
            # pattern is ambiguous (Insert(x) twice is legal), so the
            # travel is refused loudly rather than answered wrongly.
            # A MIXED redelivery (base changed before the re-emit,
            # folding old and new deltas into one diff) is not
            # detectable from the log alone — documented limitation.
            rec = getattr(st, "recovered_epoch", None)
            if rec is not None and rec > epoch:
                sfx_tagged = suffix.select("rw_timestamp", "op", *payload)
                a = (
                    sfx_tagged.filter(F.col("rw_timestamp") == rec)
                    .drop("rw_timestamp")
                    .localCheckpoint(eager=True)
                )
                nxt = (
                    log.filter(F.col("rw_timestamp") > rec)
                    .agg(F.min("rw_timestamp"))
                    .first()[0]
                )
                if nxt is None and not a.isEmpty() and not getattr(
                    st, "post_restore_refreshed", False
                ):
                    # No successor epoch AND no refresh has completed
                    # since the restore: the restore-time max may be a
                    # crash orphan the stored table never absorbed, and
                    # there is nothing to compare it against — folding
                    # through it would silently return wrong rows for
                    # targets below it (ADVICE r11). Refuse loudly; one
                    # FLUSH re-emits an orphan (dup probe then excludes
                    # it) or proves absorption (this branch disarms).
                    raise ValueError(
                        f"time travel on {fq}: epoch {rec} is the "
                        "changelog max across a restart boundary and no "
                        "refresh has confirmed the stored result since. "
                        "It may be an unabsorbed crash orphan — run "
                        "FLUSH (any refresh) once, then retry."
                    )
                if a.isEmpty() or nxt is None:
                    pass  # nothing to compare (yet) — fold as usual
                else:
                    b = log.filter(F.col("rw_timestamp") == nxt).select(
                        "op", *payload
                    )
                    dup = (
                        a.exceptAll(b).isEmpty()
                        and b.exceptAll(a).isEmpty()
                    )
                    if dup and st.key_cols:
                        suffix = suffix.filter(
                            F.col("rw_timestamp") != rec
                        )
                    elif dup:
                        raise ValueError(
                            f"time travel on {fq}: changelog epochs "
                            f"{rec} and {nxt} are identical across a "
                            "restart boundary — indistinguishable "
                            "from a crash redelivery (the epoch may "
                            "not be reflected in the stored result). "
                            "Recreate the view for exact pre-crash "
                            "time travel."
                        )
                    else:
                        # next epoch differs: no (detectable)
                        # redelivery — stop probing on later calls
                        st.recovered_epoch = None
            # reverse weights: undo the suffix against the current bag
            undo = F.when(
                F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT), F.lit(-1)
            ).otherwise(F.lit(1))
            union = cur.select(
                *payload, F.lit(1).alias("__rw_w")
            ).unionByName(suffix.select(*payload, undo.alias("__rw_w")))
            bag = (
                union.groupBy(*payload)
                .agg(F.sum("__rw_w").alias("__rw_cnt"))
                .filter(F.col("__rw_cnt") > 0)
            )
            return bag.select(
                *payload,
                F.explode(F.expr("sequence(1, __rw_cnt)")).alias("__rw_i"),
            ).select(*payload).localCheckpoint(eager=True)

    _GROUP_BY = re.compile(
        r"\bGROUP\s+BY\s+(?P<cols>.+?)(?:\bHAVING\b|\bORDER\s+BY\b|\bLIMIT\b|$)", re.I | re.S
    )

    def _infer_key_cols(self, stmt: str, out_cols: list[str]) -> list[str] | None:
        m = self._GROUP_BY.search(stmt)
        if not m:
            return None
        # A group column may be SELECTED under an alias (c.user_id AS
        # uid) — the OUTPUT name is the key. Full qualified lookup
        # first; the bare terminal name only when unambiguous.
        full_alias: dict[str, str] = {}
        term_alias: dict[str, list[str]] = {}
        expr_alias: dict[str, str] = {}  # normalized expr text → alias
        sel_m = re.match(r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\b", stmt,
                         re.I | re.S)
        if sel_m:
            for item in RW.split_top_level(sel_m.group("sel")):
                im = re.match(
                    r"^\s*(?P<expr>[\w.]+)\s+(?:AS\s+)?(?P<alias>\w+)\s*$",
                    item, re.I,
                )
                if im and im.group("alias").upper() != "AS":
                    full_alias[im.group("expr").lower()] = im.group("alias")
                    term_alias.setdefault(
                        im.group("expr").split(".")[-1].lower(), []
                    ).append(im.group("alias"))
                    continue
                xm = re.match(
                    r"^\s*(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)\s*$",
                    item, re.I | re.S,
                )
                if xm:
                    expr_alias[_norm_sql(xm.group("expr"))] = xm.group("alias")
        keys = []
        for part in RW.split_top_level(m.group("cols")):
            ident = part.strip().strip(";")
            if not re.fullmatch(r"[\w.]+", ident):
                # Expression group key (date_trunc(...), CAST(...),
                # arithmetic): keyed only when SELECTED verbatim under
                # an alias — the OUTPUT alias is then the key column.
                alias = expr_alias.get(_norm_sql(ident))
                if alias is None or alias not in out_cols:
                    return None  # not selected → fall back to bag diff
                keys.append(alias)
                continue
            term = ident.split(".")[-1]
            if term in out_cols:
                keys.append(term)
                continue
            alias = full_alias.get(ident.lower())
            if alias is None:
                cands = term_alias.get(term.lower(), [])
                alias = cands[0] if len(cands) == 1 else None
            if alias is None or alias not in out_cols:
                return None
            keys.append(alias)
        return keys or None

    # -- incremental MV maintenance (delta-merge fast path) ----------------
    #
    # For MVs of the shape  SELECT keys…, agg(expr) AS a, …
    #                       FROM one_table [WHERE …] GROUP BY keys…
    # over an APPEND-ONLY base, a refresh does not need to rescan the
    # base: the base changelog supplies exactly the rows added since
    # the last refresh, the delta is aggregated by the SAME select
    # list, and the stored result is merged group-wise (sum/count add,
    # min/max take least/greatest). Refresh cost becomes
    # O(delta + touched groups), independent of base-table size — the
    # property that makes an aggregation MV viable over a 100 TB fact
    # table. The single-table agg path is RETRACTION-CAPABLE: delete/
    # update deltas re-aggregate only the touched groups from the base
    # table (see _refresh_incremental), so arbitrary DML keeps the MV
    # on the fast path. The JOIN and join+agg fast paths are also
    # retraction-capable: a batch containing deletes takes the
    # touched-key recompute + bag-diff branch (_join_retract_refresh /
    # _joinagg_retract) instead of demoting. A vacuumed unconsumed
    # delta epoch (changelog floor > last_epoch) or any unexpected
    # error still demotes to the snapshot-diff path (full recompute),
    # which remains the general-SQL fallback.

    _INC_BLOCKERS = re.compile(
        r"\b(JOIN|HAVING|UNION|INTERSECT|EXCEPT|DISTINCT|OVER|LIMIT|ORDER\s+BY"
        r"|WINDOW|TUMBLE|HOP|SESSION_WINDOW|AVG|STDDEV\w*|VAR_POP|VAR_SAMP"
        r"|PERCENTILE\w*|COLLECT_\w+|ARRAY_AGG|STRING_AGG|LISTAGG|FIRST|LAST"
        r"|ANY_VALUE|EVERY|BOOL_AND|BOOL_OR"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|UNIX_TIMESTAMP)\b"
        r"|\(\s*SELECT\b|\bcurrent_timestamp\b|\bcurrent_date\b"
        r"|\bnow\s*\(|\brandn?\s*\(|\brandom\s*\(|\buuid\s*\(",
        re.I,
    )
    _INC_SHAPE = re.compile(
        r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?\s+GROUP\s+BY\s+(?P<grp>.+?)"
        r"(?:\s+HAVING\s+(?P<hav>.+?))?\s*;?\s*$",
        re.I | re.S,
    )
    # The EXACT derived table rewrite_hop emits (plans/rewrite.py:517)
    # — like _DIRECT_TUMBLE, window_start/window_end (and the per-row
    # window explode) are deterministic per-row expressions, so a
    # delta view wrapped in the same derived table yields exactly the
    # windowed delta rows and the group-wise merge applies unchanged.
    _INC_HOP = re.compile(
        r"\(SELECT \*, timestamp_micros\(__ws\) AS window_start, "
        r"timestamp_micros\(__ws \+ (?P<size>\d+)\) AS window_end FROM "
        r"\(SELECT \*, explode\(sequence\((?P<first>\(CAST\(floor\("
        r"unix_micros\((?P<col>\w+)\) / (?P<slide>\d+)\) AS BIGINT\) - "
        r"\d+\) \* (?P=slide)), (?P=first) \+ \d+, (?P=slide)\)\) "
        r"AS __ws FROM (?P<rel>[\w.]+)\)\)"
    )
    # Agg args may be scalar EXPRESSIONS (sum(price * (1 - disc))) —
    # one paren-nesting level; deeper nesting falls back to
    # snapshot-diff. The merge rule only depends on the agg FUNCTION
    # (sum/count add, min/max least/greatest), never the argument, and
    # the retraction re-agg evaluates the original select list, so any
    # deterministic argument is safe (volatiles are blocked above;
    # DISTINCT is blocked; double-typed sums are rejected later).
    _INC_AGG_ITEM = re.compile(
        r"^\s*(?P<fn>sum|count|min|max)\s*\(\s*"
        r"(?P<arg>\*|(?:[^()]|\([^()]*\))*?)\s*\)"
        r"\s+AS\s+(?P<alias>\w+)\s*$",
        re.I,
    )
    _INC_KEY_ITEM = re.compile(r"^\s*(?P<col>\w+)\s*(?:AS\s+(?P<alias>\w+))?\s*$", re.I)
    # A deterministic scalar EXPRESSION selected under an alias and
    # repeated (or alias-referenced) in GROUP BY — date_trunc, CAST,
    # substr, arithmetic. Volatile functions are excluded by the
    # blocker scans above; the expression becomes a per-row DERIVE
    # step (same mechanism as the tumble/hop window templates), after
    # which the whole plan sees it as a bare key column.
    _INC_EXPR_KEY = re.compile(
        r"^\s*(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)\s*$", re.I | re.S
    )
    _QUALIFIED_REF = re.compile(r"[A-Za-z_]\w*\.\w")
    # RECOMPUTE-ONLY blockers: relax the mergeable-agg list to anything
    # DETERMINISTIC — avg/stddev/var/percentile/corr/bool aggs have no
    # group-wise merge rule, but the recompute-touched-groups plan
    # never merges: touched groups are re-aggregated wholesale from the
    # pinned base (the same machinery the retraction path uses), so the
    # only hard requirements are determinism (no volatiles, no
    # order-dependent or sketch aggregates) and the single-table shape.
    _INC_RC_BLOCKERS = re.compile(
        r"\b(JOIN|UNION|INTERSECT|EXCEPT|OVER|LIMIT|ORDER\s+BY"
        r"|WINDOW|TUMBLE|HOP|SESSION_WINDOW"
        r"|PERCENTILE_APPROX|APPROX_\w+|COLLECT_\w+|ARRAY_AGG|STRING_AGG"
        r"|LISTAGG|FIRST|LAST|ANY_VALUE"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|UNIX_TIMESTAMP)\b"
        r"|\(\s*SELECT\b|\bcurrent_timestamp\b|\bcurrent_date\b"
        r"|\bnow\s*\(|\brandn?\s*\(|\brandom\s*\(|\buuid\s*\("
        # order/tie-sensitive aggregates: a touched-group re-agg can
        # legally break ties differently from a from-scratch recompute,
        # violating bit-reproducibility (SCALE.md rule 5) — call-form
        # matched so a COLUMN named e.g. `mode` never blocks arming
        r"|\bmode\s*\(|\bhistogram_numeric\s*\(|\bmax_by\s*\("
        r"|\bmin_by\s*\(|\bfirst_value\s*\(|\blast_value\s*\(",
        re.I,
    )
    # A non-key, non-mergeable select item: any expression with a
    # function call and an explicit alias. SQL validity at CREATE time
    # guarantees it aggregates (or is grouped) — the recompute plan
    # evaluates it verbatim per touched group, so its internals never
    # need to be understood, only deterministic (blockers above).
    _INC_RC_ITEM = re.compile(
        r"^\s*(?P<expr>\S(?:.*\S)?\(.*\S)\s+AS\s+(?P<alias>\w+)\s*$",
        re.I | re.S,
    )

    def _parse_simple_agg(self, stmt: str) -> dict | None:
        """Return the incremental plan for a simple single-table
        aggregation, or None if the statement is not (provably) one.
        Two regimes share the plan shape: MERGEABLE (every aggregate is
        sum/count/min/max — insert deltas merge group-wise in O(delta))
        and RECOMPUTE-ONLY (any other deterministic aggregate present,
        a DISTINCT aggregate, or a HAVING clause — every delta takes
        the touched-group re-aggregation branch, so refresh stays
        O(delta + touched groups' base rows) instead of a full
        snapshot-diff; HAVING is applied at publication time: a
        recomputed group entering/leaving the predicate emits
        Insert/Delete through the retract bag-diff).

        Windowed shapes: the tumble/hop-rewritten derived tables
        (plans/rewrite.py:485,517) are recognized and replaced by the
        inner relation plus a derive template — window_start/window_end
        are deterministic per-row expressions, so re-deriving them on
        the delta view (and on the touched-group re-agg relation)
        yields exactly the rows a full recompute would see. This keeps
        the reference's canonical MV shape (tumble + agg,
        /root/reference/demo.py:98-100) O(delta) at bulk ingest rates
        instead of falling from the 512-row direct cap to O(base).

        EXPRESSION group keys (round 12): any deterministic scalar
        expression in GROUP BY that is selected verbatim under an
        alias — ``GROUP BY date_trunc('day', ts), region`` being the
        canonical real-world MV shape — generalizes the same derive
        mechanism: the expression becomes a per-row derive column on
        the FROM relation (delta view and touched-group re-agg relation
        identically), after which the whole plan sees a bare key.
        Volatile functions are excluded by the blocker scans; the
        reference's MV surface is arbitrary SELECT text
        (/root/reference/risingwave/core.py:453-455)."""
        derive_tpl = None
        derive_info = None
        m_d = self._DIRECT_TUMBLE.search(stmt) or self._INC_HOP.search(stmt)
        if m_d:
            sql = m_d.group(0)
            rel = m_d.group("rel")
            head, _, tail = sql.rpartition(f"FROM {rel})")
            derive_tpl = head + "FROM {0})" + tail
            # window LENGTH in µs + event column: the touched-window
            # re-agg turns small touched-key sets into a ts-range
            # prefilter (row ∈ window [ws, we) ⟺ ts ∈ [ws, we), for
            # hop too) — a pushable predicate parquet min/max pruning
            # turns into a near-indexed read of the touched span.
            gd = m_d.groupdict()
            derive_info = {
                "col": gd["col"],
                "us": int(gd.get("size") or gd["us"]),
            }
            stmt = stmt[: m_d.start()] + rel + stmt[m_d.end():]
        if self._INC_RC_BLOCKERS.search(stmt):
            return None
        m = self._INC_SHAPE.match(stmt)
        if not m:
            return None
        sel, where, grp = m.group("sel"), m.group("where"), m.group("grp")
        having = (m.group("hav") or "").strip() or None
        # Qualified column refs (t.col) would dangle once FROM is
        # rebound to the delta view; bare columns only.
        if self._QUALIFIED_REF.search(
            " ".join(filter(None, (sel, where, grp, having)))
        ):
            return None
        grp_terms = [t.strip() for t in RW.split_top_level(grp)]
        if any(not t or t.isdigit() for t in grp_terms):
            return None  # ordinal group keys unsupported
        grp_norm = [_norm_sql(t) for t in grp_terms]
        bare_grp = {t for t in grp_terms if re.fullmatch(r"\w+", t)}
        kinds: dict[str, str] = {}
        keys: list[str] = []
        key_map: list[tuple[str, str]] = []  # (base col, output name)
        derive_items: list[tuple[str, str]] = []  # (expr sql, alias)
        sel_out: list[str] = []  # select list after key-expr rewrite
        recompute_only = (
            self._INC_BLOCKERS.search(stmt) is not None or having is not None
        )
        for item in RW.split_top_level(sel):
            am = self._INC_AGG_ITEM.match(item)
            if am:
                if re.match(r"\s*DISTINCT\b", am.group("arg"), re.I):
                    # sum/count(DISTINCT x): deterministic but NOT
                    # group-wise mergeable — recompute regime only
                    kinds.setdefault(am.group("alias"), "recompute")
                    recompute_only = True
                    sel_out.append(item.strip())
                    continue
                kinds[am.group("alias")] = am.group("fn").lower()
                sel_out.append(item.strip())
                continue
            km = self._INC_KEY_ITEM.match(item)
            if km and km.group("col") in bare_grp:
                out = km.group("alias") or km.group("col")
                keys.append(out)
                key_map.append((km.group("col"), out))
                sel_out.append(item.strip())
                continue
            em = self._INC_EXPR_KEY.match(item)
            if em is not None:
                ex_raw = em.group("expr").strip()
                ex, alias = _norm_sql(ex_raw), em.group("alias")
                if ex in grp_norm or alias.lower() in grp_norm:
                    # Deterministic expression GROUP BY key: derive it
                    # per row (delta view AND touched-group re-agg see
                    # the identical derive — exactly the windowed-MV
                    # template rule, generalized). Braces would break
                    # the str.format template; bail on them.
                    if "{" in ex_raw or "}" in ex_raw:
                        return None
                    derive_items.append((ex_raw, alias))
                    grp_norm = [
                        alias.lower()
                        if t in (ex, alias.lower())
                        else t
                        for t in grp_norm
                    ]
                    keys.append(alias)
                    key_map.append((alias, alias))
                    sel_out.append(alias)
                    continue
            rm = self._INC_RC_ITEM.match(item)
            if rm is None or rm.group("alias") in kinds:
                return None
            recompute_only = True
            kinds.setdefault(rm.group("alias"), "recompute")
            sel_out.append(item.strip())
        if not kinds or not keys:
            return None
        # Every rewritten GROUP BY term must now be a bare output key;
        # an unselected expression key cannot key the stored result.
        if any(not re.fullmatch(r"\w+", t) for t in grp_norm):
            return None
        # key_map must be a bijection grp terms ↔ output keys: the
        # retraction path semi-joins the base on these columns, so a
        # group column selected twice (or not at all) is unsafe.
        if (
            len(key_map) != len(grp_terms)
            or len({c for c, _ in key_map}) != len(key_map)
            or len(set(keys)) != len(keys)
            or len(set(kinds) & set(keys)) > 0
        ):
            return None
        base_fq = self.qualify(m.group("tbl"))
        if derive_items:
            # The derive wraps the FROM relation as
            # (SELECT *, expr AS alias, … FROM rel) — an alias equal
            # to an existing base column would duplicate the name and
            # make every later reference ambiguous; probe the catalog
            # once at parse time and bail on collision.
            try:
                base_cols = {
                    c.lower() for c in self.spark.table(base_fq).columns
                }
            except Exception:  # noqa: BLE001 — unknown base: no arm
                return None
            if derive_tpl is not None:
                base_cols |= {"window_start", "window_end"}
            if any(a.lower() in base_cols for _, a in derive_items):
                return None
            expr_tpl = (
                "(SELECT *, "
                + ", ".join(f"{e} AS {a}" for e, a in derive_items)
                + " FROM {0})"
            )
            # Composition: the window template (if any) stays the
            # INNER relation — str.format leaves the argument's own
            # {0} untouched, so the combined template still formats
            # against the final view name.
            derive_tpl = (
                expr_tpl.format(derive_tpl) if derive_tpl else expr_tpl
            )
        return {
            "base_fq": base_fq,
            "sel": ", ".join(sel_out) if derive_items else sel.strip(),
            "where": (where or "").strip() or None,
            "grp": ", ".join(grp_norm) if derive_items else grp.strip(),
            "having": having,
            "derive_tpl": derive_tpl,
            "derive_info": derive_info,
            "kinds": kinds,
            "keys": keys,
            "key_map": key_map,
            "recompute_only": recompute_only,
        }

    # Touched-window sets at or below this size become a driver-built
    # ts-range scan predicate (a BOUNDED collect of window keys — the
    # same catalog-metadata scale as a partition listing, never rows).
    TOUCHED_WINDOW_PRUNE_CAP = 256

    def _touched_window_filter(self, inc: dict, r_keys: DataFrame):
        """OR of per-touched-window ``ts ∈ [ws, we)`` ranges, or None
        when pruning does not apply (no derive info, too many touched
        windows, NULL window keys, or no window key in the output)."""
        import datetime as _dt

        dinfo = inc.get("derive_info")
        if dinfo is None:
            return None
        ws_out = next(
            (out for col, out in inc["key_map"] if col == "window_start"),
            None,
        )
        we_out = next(
            (out for col, out in inc["key_map"] if col == "window_end"),
            None,
        )
        if ws_out is None and we_out is None:
            return None
        rows = r_keys.limit(self.TOUCHED_WINDOW_PRUNE_CAP + 1).collect()
        if len(rows) > self.TOUCHED_WINDOW_PRUNE_CAP:
            return None
        span = _dt.timedelta(microseconds=dinfo["us"])
        cond = None
        for r in rows:
            if ws_out is not None:
                ws = r[ws_out]
                if ws is None:
                    return None  # NULL-ts rows group under NULL windows
                we = ws + span
            else:
                we = r[we_out]
                if we is None:
                    return None
                ws = we - span
            e = (F.col(dinfo["col"]) >= F.lit(ws)) & (
                F.col(dinfo["col"]) < F.lit(we)
            )
            cond = e if cond is None else (cond | e)
        return cond

    def _inc_from(self, inc: dict, view: str) -> str:
        """The FROM relation for an inc-plan statement over ``view``:
        the view itself, or the tumble/hop derive template re-applied
        to it (window columns recomputed per row — deterministic, so
        bit-identical to what a full recompute derives)."""
        tpl = inc.get("derive_tpl")
        return tpl.format(view) if tpl else view

    def _inc_delta_stmt(self, inc: dict, view: str, wrap: bool = True) -> str:
        """``wrap=False`` when ``view`` is ALREADY the derived relation
        (the touched-group re-agg builds it explicitly to semi-join on
        window keys); the HAVING gate applies only in the recompute
        regime, where this statement re-aggregates touched groups
        wholesale — groups failing it vanish from r_rows and the merge
        bag-diff emits their Deletes (publication-time gating)."""
        q = f"SELECT {inc['sel']} FROM {self._inc_from(inc, view) if wrap else view}"
        if inc["where"]:
            q += f" WHERE {inc['where']}"
        q += f" GROUP BY {inc['grp']}"
        if inc.get("having"):
            q += f" HAVING {inc['having']}"
        return q

    # -- DRIVER-SIDE agg refresh (zero Spark jobs for small deltas) --------

    # A 1-row client insert costs 1 direct-ingest publication (zero
    # jobs since round 8); its MV refresh must not re-introduce job
    # dispatches. Bounds: the delta fold and full-result rewrite are
    # driver-side Python/pyarrow, so both must stay small — above
    # either bound the Spark fast path / snapshot-diff takes over.
    DIRECT_MAX_DELTA_ROWS = 512
    DIRECT_MAX_RESULT_ROWS = 4096

    _DIRECT_SHAPE = re.compile(
        r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<grp>[\w\s,]+?))?\s*;?\s*$",
        re.I | re.S,
    )
    # Direct agg args must be BARE columns (or *): the delta fold is
    # evaluated in Python, not SQL, so expressions are out of scope
    # (they stay on the Spark inc path, which accepts them).
    _DIRECT_AGG_ITEM = re.compile(
        r"^\s*(?P<fn>sum|count|min|max)\s*\(\s*(?P<arg>\*|\w+)\s*\)"
        r"\s+AS\s+(?P<alias>\w+)\s*$",
        re.I,
    )
    # avg(col) and ROUND(avg(col)[, n]) decompose into the sum/count
    # the fold already merges; ROUND is finalized at publication with
    # Spark's exact HALF_UP-on-shortest-repr semantics.
    _DIRECT_AVG_ITEM = re.compile(
        r"^\s*(?:ROUND\s*\(\s*AVG\s*\(\s*(?P<arg2>\w+)\s*\)\s*"
        r"(?:,\s*(?P<nd>-?\d+)\s*)?\)|AVG\s*\(\s*(?P<arg1>\w+)\s*\))"
        r"\s+AS\s+(?P<alias>\w+)\s*$",
        re.I,
    )
    # Same blockers as the Spark inc path MINUS avg (handled via the
    # sum/count decomposition above).
    _DIRECT_BLOCKERS = re.compile(
        r"\b(JOIN|HAVING|UNION|INTERSECT|EXCEPT|DISTINCT|OVER|LIMIT|ORDER\s+BY"
        r"|WINDOW|TUMBLE|HOP|SESSION_WINDOW|STDDEV\w*|VAR_POP|VAR_SAMP"
        r"|PERCENTILE\w*|COLLECT_\w+|ARRAY_AGG|STRING_AGG|LISTAGG|FIRST|LAST"
        r"|ANY_VALUE|EVERY|BOOL_AND|BOOL_OR"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|UNIX_TIMESTAMP)\b"
        r"|\(\s*SELECT\b|\bcurrent_timestamp\b|\bcurrent_date\b"
        r"|\bnow\s*\(|\brandn?\s*\(|\brandom\s*\(|\buuid\s*\(",
        re.I,
    )
    # The EXACT derived table rewrite_tumble emits (plans/rewrite.py:
    # 485) — recognizing it lets the reference's canonical demo MV
    # (tumble + round(avg), /root/reference/demo.py:98-100) take the
    # zero-job path: window_start/window_end are recomputed per delta
    # row with the same floor(unix_micros/us) double arithmetic.
    _DIRECT_TUMBLE = re.compile(
        r"\(SELECT \*, "
        r"timestamp_micros\(CAST\(floor\(unix_micros\((?P<col>\w+)\) / "
        r"(?P<us>\d+)\) AS BIGINT\) \* (?P=us)\) AS window_start, "
        r"timestamp_micros\(CAST\(floor\(unix_micros\((?P=col)\) / "
        r"(?P=us)\) AS BIGINT\) \* (?P=us) \+ (?P=us)\) AS window_end "
        r"FROM (?P<rel>[\w.]+)\)"
    )
    # WHERE terms the Python fold can evaluate byte-identically to
    # Spark: bare column vs numeric/bool/string literal, or IS [NOT]
    # NULL, AND-combined. Runtime type guards (_direct_where_keep)
    # demote anything whose Python comparison could diverge (NaN,
    # Decimal, cross-type) back to the Spark paths.
    _DIRECT_WHERE_TERM = re.compile(
        r"^\s*(?P<col>\w+)\s*(?:"
        r"(?P<op><=|>=|<>|!=|=|<|>)\s*(?:"
        r"(?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)(?![\w.])"
        r"|(?P<bool>TRUE|FALSE)\b"
        r"|'(?P<str>[^']*)')"
        r"|IS\s+(?P<notnull>NOT\s+)?NULL)\s*$",
        re.I,
    )

    def _parse_direct_where(self, where: str) -> list[tuple] | None:
        preds: list[tuple] = []
        for term in RW._split_and(where):
            m = self._DIRECT_WHERE_TERM.match(term)
            if not m:
                return None
            col = m.group("col")
            if m.group("op") is None:
                preds.append(("null", col, m.group("notnull") is not None))
                continue
            op = {"!=": "<>"}.get(m.group("op"), m.group("op"))
            if m.group("num") is not None:
                txt = m.group("num")
                lit = (
                    float(txt)
                    if any(ch in txt for ch in ".eE")
                    else int(txt)
                )
                preds.append(("cmp", col, op, lit, "num"))
            elif m.group("bool") is not None:
                preds.append(
                    ("cmp", col, op, m.group("bool").upper() == "TRUE",
                     "bool")
                )
            else:
                preds.append(("cmp", col, op, m.group("str"), "str"))
        return preds

    def _parse_direct_agg(self, stmt: str) -> dict | None:
        """Plan for the driver-side agg refresh: ``SELECT [keys,]
        sum/count/min/max(col|*)|avg(col)|round(avg(col)[,n]) AS a, ...
        FROM tbl|tumble-derived [WHERE simple-predicates]
        [GROUP BY keys]`` — bare-column args, and (unlike
        _parse_simple_agg) GROUP BY is OPTIONAL: a global aggregate is
        a single-group merge, the cheapest possible incremental MV and
        the reference's canonical subscription demo shape."""
        derived = None
        m_t = self._DIRECT_TUMBLE.search(stmt)
        if m_t:
            sql = m_t.group(0)
            head, _, _ = sql.rpartition(f"FROM {m_t.group('rel')})")
            derived = {
                "col": m_t.group("col"),
                "us": int(m_t.group("us")),
                "sql_tpl": head + "FROM {0})",
            }
            stmt = stmt[: m_t.start()] + m_t.group("rel") + stmt[m_t.end():]
        if self._DIRECT_BLOCKERS.search(stmt):
            return None
        m = self._DIRECT_SHAPE.match(stmt)
        if not m:
            return None
        sel, where, grp = m.group("sel"), m.group("where"), m.group("grp")
        if self._QUALIFIED_REF.search(
            " ".join(filter(None, (sel, where, grp)))
        ):
            return None
        computed = {"window_start", "window_end"} if derived else set()
        preds = None
        if where:
            preds = self._parse_direct_where(where)
            if preds is None or any(p[1] in computed for p in preds):
                return None
        grp_cols: list[str] = []
        if grp:
            for part in grp.split(","):
                ident = part.strip()
                if not re.fullmatch(r"\w+", ident) or ident.isdigit():
                    return None
                grp_cols.append(ident)
        kinds: dict[str, str] = {}
        args: dict[str, str | None] = {}
        finalize: dict[str, int | None] = {}
        keys: list[str] = []
        key_map: list[tuple[str, str]] = []
        for item in RW.split_top_level(sel):
            am = self._DIRECT_AGG_ITEM.match(item)
            if am:
                alias = am.group("alias")
                kinds[alias] = am.group("fn").lower()
                arg = am.group("arg")
                args[alias] = None if arg == "*" else arg
                continue
            vm = self._DIRECT_AVG_ITEM.match(item)
            if vm:
                alias = vm.group("alias")
                kinds[alias] = "avg"
                args[alias] = vm.group("arg1") or vm.group("arg2")
                if vm.group("arg2") is not None:
                    finalize[alias] = int(vm.group("nd") or 0)
                continue
            km = self._INC_KEY_ITEM.match(item)
            if not km or km.group("col") not in grp_cols:
                return None
            out = km.group("alias") or km.group("col")
            keys.append(out)
            key_map.append((km.group("col"), out))
        if not kinds:
            return None
        # agg args and WHERE columns must be readable from the base
        # changelog delta — a computed (tumble) column can only key.
        if computed & ({a for a in args.values() if a}):
            return None
        if (
            len(key_map) != len(grp_cols)
            or len({c for c, _ in key_map}) != len(key_map)
            or len(set(keys)) != len(keys)
            or len(set(kinds) & set(keys)) > 0
        ):
            return None
        return {
            "base_fq": self.qualify(m.group("tbl")),
            "sel": sel.strip(),
            "grp": (grp or "").strip() or None,
            "where_sql": (where or "").strip() or None,
            "where": preds,
            "derived": derived,
            "kinds": kinds,
            "args": args,
            "finalize": finalize,
            "keys": keys,
            "key_map": key_map,
        }

    def _direct_from(self, d: dict, view: str) -> str:
        if d.get("derived"):
            return d["derived"]["sql_tpl"].format(view)
        return view

    def _direct_stmt(self, d: dict, view: str) -> str:
        q = f"SELECT {d['sel']} FROM {self._direct_from(d, view)}"
        if d.get("where_sql"):
            q += f" WHERE {d['where_sql']}"
        if d["grp"]:
            q += f" GROUP BY {d['grp']}"
        return q

    def _direct_collect_aux(self, d: dict, view: str) -> dict | None:
        """sum/count companions for every avg alias, computed from the
        SAME pinned snapshot view as the visible result — the sum is
        ``sum(CAST(arg AS DOUBLE))``, exactly the double accumulator
        Spark's Average maintains internally. Returns {key tuple:
        {alias: (sum, count)}}, or None when the grouped result
        exceeds DIRECT_MAX_RESULT_ROWS (the refresh would reject such
        a result anyway, so the plan should not arm)."""
        avg_aliases = [a for a, fn in d["kinds"].items() if fn == "avg"]
        items = [
            f"{src} AS __k{j}" for j, (src, _) in enumerate(d["key_map"])
        ]
        for i, a in enumerate(avg_aliases):
            arg = d["args"][a]
            items.append(f"sum(CAST({arg} AS DOUBLE)) AS __s{i}")
            items.append(f"count({arg}) AS __c{i}")
        q = f"SELECT {', '.join(items)} FROM {self._direct_from(d, view)}"
        if d.get("where_sql"):
            q += f" WHERE {d['where_sql']}"
        if d["grp"]:
            q += f" GROUP BY {d['grp']}"
        cap = self.DIRECT_MAX_RESULT_ROWS
        rows = self.spark.sql(q).limit(cap + 1).collect()
        if len(rows) > cap:
            return None
        nk = len(d["key_map"])
        aux: dict = {}
        for r in rows:
            k = tuple(self._dnorm(r[j]) for j in range(nk))
            aux[k] = {
                a: (r[nk + 2 * i], r[nk + 2 * i + 1])
                for i, a in enumerate(avg_aliases)
            }
        return aux

    @staticmethod
    def _dnorm(v):
        # group-key normalization matching the merge fold (Spark
        # normalizes -0.0 to 0.0 in grouping keys); NaN keys never
        # reach an aux lookup (the merge demotes on them first)
        if isinstance(v, float) and v == 0.0:
            return 0.0
        return v

    @staticmethod
    def _direct_avg_value(s, c, nd):
        """Finalize one avg group: double division, then (for the
        ROUND form) Spark's exact semantics — HALF_UP on the shortest
        round-trip decimal representation (BigDecimal.valueOf), with
        NaN/inf passed through unrounded as Spark's Round does."""
        if not c:
            return None
        v = s / c
        if nd is None:
            return v
        if v != v or v in (float("inf"), float("-inf")):
            return v
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(v)).quantize(
                Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
            )
        )

    @staticmethod
    def _direct_where_keep(preds: list[tuple], get) -> bool:
        """Evaluate the parsed WHERE for one delta row with Spark's
        semantics; raises _DirectIneligible whenever the Python
        comparison could diverge from Spark's (NaN ordering, Decimal
        vs double-literal cast, string-vs-number coercion, >2^53 int
        vs float literal)."""
        import math

        for p in preds:
            if p[0] == "null":
                if (get(p[1]) is None) == p[2]:
                    return False
                continue
            _, col, op, lit, kind = p
            v = get(col)
            if v is None:
                return False
            if kind == "num":
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    raise _DirectIneligible
                if isinstance(v, float) and math.isnan(v):
                    raise _DirectIneligible  # Spark: NaN sorts greatest
                if (
                    isinstance(v, int)
                    and isinstance(lit, float)
                    and abs(v) > 2**53
                ):
                    raise _DirectIneligible  # Spark casts the int lossily
                if (
                    isinstance(v, float)
                    and isinstance(lit, int)
                    and abs(lit) > 2**53
                ):
                    # mirror case: Spark casts the LITERAL to double
                    # lossily while Python compares exactly
                    raise _DirectIneligible
            elif kind == "bool":
                if not isinstance(v, bool):
                    raise _DirectIneligible
            elif not isinstance(v, str):
                raise _DirectIneligible
            ok = (
                v == lit if op == "=" else
                v != lit if op == "<>" else
                v < lit if op == "<" else
                v <= lit if op == "<=" else
                v > lit if op == ">" else
                v >= lit
            )
            if not ok:
                return False
        return True

    def _direct_types_ok(self, d: dict, df: DataFrame) -> bool:
        """The direct path merges in Python and rebuilds the stored
        result with pyarrow, so every output column must be
        arrow-mappable. float32 sums are excluded (the Python fold is
        float64; casting back would drift); float64 sums ARE allowed —
        the fold is a sequential left-add in insertion order, the same
        single addition per row the reference's streaming accumulator
        performs (Spark's parallel recompute order is itself
        unspecified, so exact-type discipline, not ordering, is what
        the grouped Spark fast path's double-sum rejection protects)."""
        types = {f.name: f.dataType for f in df.schema.fields}
        for col, kind in d["kinds"].items():
            if col not in types:
                return False
            if kind == "sum" and isinstance(types[col], T.FloatType):
                return False
            # avg merges through a double sum/count pair; a DECIMAL
            # avg (exact BigDecimal arithmetic) stays on Spark.
            if kind == "avg" and not isinstance(types[col], T.DoubleType):
                return False
        return all(self._arrow_type(t) is not None for t in types.values())

    @staticmethod
    def _direct_part_files(loc: str) -> list[str]:
        try:
            return [
                os.path.join(loc, f)
                for f in sorted(os.listdir(loc))
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
        except OSError:
            return []

    def _refresh_direct(self, state: MVState) -> bool:
        """Zero-Spark-job refresh of a simple-agg MV for a small
        insert-only delta: pending epochs come from the engine's epoch
        manifest (_changelog_epochs), the delta rows from just those
        epoch dirs (_epoch_files: the file the ingest just wrote comes
        from memory, any other is read with pyarrow), the group merge
        is a Python fold, and publication is the same changelog
        epoch-directory rename the direct ingest path uses plus a
        metadata-only location swap (_set_location) of the (small)
        rewritten result. This
        closes the reference's insert → FLUSH → on_change loop
        (/root/reference/risingwave/core.py:541-560) at engine-native
        cost: no job dispatch anywhere between the client's insert and
        the subscriber's delivery. On a cluster lakehouse the
        equivalent is a driver-side merge commit of touched groups
        (Delta/Iceberg MERGE over a tiny delta file).

        The stored result is read from disk only when it is not
        resident: after a publication the merged column lists stay on
        ``state.direct_result`` with the record installed for that
        generation, and the next refresh merges into them while
        ``self._records`` still holds that record (an identity test; a
        refresh whose delta changes nothing keeps them). A warm tick
        therefore reads no parquet and converts no stored row.

        Returns True when fully handled; False falls through to the
        Spark fast path / snapshot-diff (large delta, retractions in
        the delta, oversized stored result, NaN values, legacy
        layouts, unmappable types, cast overflow — all decided BEFORE
        any mutation). Emission contract matches whichever Spark path
        the MV would otherwise take: UpdateDelete/UpdateInsert pairs
        when the group keys are known, Delete+Insert bag-diff ops
        otherwise (global aggregates) — so a fallback mid-stream never
        changes what subscribers observe.

        Catalog cost of a warm refresh: one _set_location; no SQL
        statement and no epoch registration (_sync_changelog does that
        when Spark reads). Locations and schemas come from the relation
        records (_relation): this path writes the MV's record after its
        swap, and every other publication of the MV clears it
        (_refresh_mv_locked), as DDL does for the tables it touches.
        The swap's capability probe runs once per arm
        (MVState.set_location_ok)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = state.inc_direct
        fq = state.fq
        base_cl = self.changelog_name(d["base_fq"])
        with self._lock:
            if self.vacuum_floor.get(base_cl, 0) > state.last_epoch:
                state.inc_direct = None
                return False
            rec_cl = self._relation(base_cl)
            if rec_cl is None or rec_cl["parts"] != ["rw_timestamp"]:
                # legacy unpartitioned layout: answer the no-op check
                # (the common idle-flush case) before handing larger
                # work to the Spark paths
                m1 = self._changelog_max_epoch(base_cl)
                if m1 is None or m1 <= state.last_epoch:
                    self.next_epoch()  # refresh always consumes one epoch
                    return True
                return False
            # The epoch manifest (one os.stat when warm) serves both the
            # high-water check and the pending-epoch list.
            eps_all = self._changelog_epochs(base_cl)
            if eps_all is None:
                return False
            m1 = max(eps_all, default=None)
            if m1 is None or m1 <= state.last_epoch:
                self.next_epoch()  # refresh always consumes one epoch
                return True
            epochs = sorted(
                e for e in eps_all if state.last_epoch < e <= m1
            )
            files = [
                f for e in epochs
                for f in self._epoch_files(rec_cl["loc"], e)
            ]
            if sum(n for _, n, _ in files) > self.DIRECT_MAX_DELTA_ROWS:
                return False
            # The MV's record is current: this path writes it after
            # its own _set_location swap below, and every other
            # publication of fq (the Spark paths' DROP+RENAME to the
            # canonical location) clears it in _refresh_mv_locked, so
            # a generation dir read here is never a superseded one.
            rec_mv = self._relation(fq)
            if rec_mv is None or rec_mv["parts"]:
                return False
            loc_mv = rec_mv["loc"]
            # The resident result is this generation's only while fq's
            # record is the very one installed with it.
            resident = state.direct_result
            if resident is not None and resident[0] is not rec_mv:
                resident = state.direct_result = None
            if resident is None:
                mv_files = self._direct_part_files(loc_mv)
                n_stored = sum(
                    pq.ParquetFile(f).metadata.num_rows for f in mv_files
                )
            else:
                n_stored = len(next(iter(resident[1].values())))
            if n_stored > self.DIRECT_MAX_RESULT_ROWS:
                return False
            cl = self.changelog_name(fq)
            self._ensure_changelog(fq)
            cl_rec = self._relation(cl)
            if cl_rec is None or cl_rec["parts"] != ["rw_timestamp"]:
                return False
            cl_loc = cl_rec["loc"]
            # avg groups merge through their sum/count companions;
            # without them (engine restart, post-Spark-path rewrite)
            # the re-arm probe must rebuild the aux first.
            aux = state.direct_aux
            has_avg = any(fn == "avg" for fn in d["kinds"].values())
            if has_avg and aux is None:
                return False
            # delta read: agg-arg + key + WHERE columns, plus op
            # (tumble-computed keys are derived from the ts column)
            computed = {"window_start", "window_end"} if d["derived"] else set()
            need = sorted(
                ({c for c in d["args"].values() if c}
                 | {c for c, _ in d["key_map"]}
                 | {p[1] for p in (d["where"] or [])}
                 | ({d["derived"]["col"]} if d["derived"] else set()))
                - computed
            )
            delta_cols: dict[str, list] = {c: [] for c in need}
            ops: list[str] = []
            for f, _, t in files:
                if t is None:
                    t = pq.read_table(f, columns=[*need, "op"])
                ops.extend(t.column("op").to_pylist())
                for c in need:
                    delta_cols[c].extend(self._pa_column_pylist(t.column(c)))
            if any(op != OP_INSERT for op in ops):
                return False  # retractions: touched-group re-agg needs Spark
            n_delta = len(ops)
            if d["derived"] is not None and n_delta:
                # window_start/window_end per delta row: the same
                # floor(unix_micros/us) DOUBLE arithmetic the rewrite
                # emits (Python float division == Spark double)
                import datetime as _dt
                import math as _math

                us = d["derived"]["us"]
                ep0 = _dt.datetime(1970, 1, 1)
                ws_l: list = []
                we_l: list = []
                for v in delta_cols[d["derived"]["col"]]:
                    if v is None:
                        ws_l.append(None)
                        we_l.append(None)
                        continue
                    td = v - ep0
                    mic = (td.days * 86400 + td.seconds) * 1_000_000 \
                        + td.microseconds
                    b = int(_math.floor(mic / us)) * us
                    ws_l.append(ep0 + _dt.timedelta(microseconds=b))
                    we_l.append(ep0 + _dt.timedelta(microseconds=b + us))
                delta_cols["window_start"] = ws_l
                delta_cols["window_end"] = we_l
            if n_delta == 0:
                self.next_epoch()
                state.last_epoch = m1
                return True
            mv_schema = self._relation_schema(fq)
            cols = [f.name for f in mv_schema.fields]
            pa_types: dict[str, "pa.DataType"] = {}
            for fld in mv_schema.fields:
                at = self._arrow_type(fld.dataType)
                if at is None:
                    return False
                pa_types[fld.name] = at
            if resident is not None:
                stored = resident[1]
            else:
                stored = {c: [] for c in cols}
                for f in mv_files:
                    t = pq.read_table(f)
                    for c in cols:
                        stored[c].extend(self._pa_column_pylist(t.column(c)))
            try:
                merged = self._direct_merge(
                    d, state, cols, stored, delta_cols, n_delta,
                    aux if has_avg else None,
                )
            except _DirectIneligible:
                return False
            new_rows, batches, aux_new = merged
            if new_rows is None:  # no visible change (all-null sums,
                # WHERE-filtered delta, or avg movement hidden by ROUND
                # — companions still advance)
                self.next_epoch()
                state.last_epoch = m1
                if aux_new is not None:
                    state.direct_aux = aux_new
                return True
            # Build EVERY arrow table before any mutation: a cast
            # overflow here must leave the MV untouched for the Spark
            # path to redo the work.
            cl_phys = [f.name for f in self._relation_schema(cl).fields
                       if f.name != "rw_timestamp"]
            try:
                mv_tab = pa.table(
                    {c: pa.array(new_rows[c], type=pa_types[c]) for c in cols}
                )
                cl_cols: dict[str, list] = {c: [] for c in cl_phys}
                for rows, op in batches:
                    for c in cl_phys:
                        if c == "op":
                            cl_cols[c].extend([op] * len(rows))
                        elif c in cols:
                            cl_cols[c].extend(r[c] for r in rows)
                        else:  # post-hoc ALTER ADD COLUMN drift
                            cl_cols[c].extend([None] * len(rows))
                cl_tab = pa.table({
                    c: pa.array(
                        cl_cols[c],
                        type=pa.string() if c == "op" else pa_types[c],
                    )
                    for c in cl_phys
                })
            except Exception:  # noqa: BLE001 — overflow/coercion: Spark path
                return False
            # Capability probe BEFORE any mutation, once per arm: a
            # no-op _set_location to the current path. A catalog that
            # refuses the op (exotic deployments) falls back cleanly
            # here, and every later refresh of this arm falls back
            # without asking again; a catalog that accepted it makes
            # the real swap after the changelog commit below
            # near-certain to succeed.
            if state.set_location_ok is None:
                try:
                    self._set_location(fq, loc_mv)
                    state.set_location_ok = True
                except Exception:  # noqa: BLE001 — catalog refused
                    state.set_location_ok = False
            if not state.set_location_ok:
                return False
            epoch = self.next_epoch()
            # Same commit order as the Spark refresh paths: changelog
            # epoch FIRST, result swap second. A failure (or crash)
            # between them leaves the table stale with the epoch
            # published — the fallback recompute then re-emits, which
            # is the system's at-least-once contract. The reverse
            # order could let the fallback re-MERGE an already-merged
            # delta into the table: wrong results, not just duplicate
            # delivery.
            self._publish_epoch_dir(cl_loc, epoch, cl_tab)
            self._touch_epoch_marker(cl, epoch)
            new_loc = (
                re.sub(r"__rwgen_\d+$", "", loc_mv.rstrip("/"))
                + f"__rwgen_{epoch}"
            )
            os.makedirs(new_loc, exist_ok=True)
            pq.write_table(
                mv_tab, os.path.join(new_loc, f"rwfast-{epoch}.parquet")
            )
            self._set_location(fq, new_loc)
            # The swap dropped fq's cached relation. Record the new
            # generation dir (same schema, unpartitioned) and keep the
            # metadata the swap installed instead of re-resolving them;
            # the merged lists stay resident with that record.
            rec = dict(self._records.get(fq, {}), loc=new_loc, parts=[],
                       schema=mv_schema)
            self._records[fq] = rec
            state.direct_result = (rec, new_rows)
            shutil.rmtree(loc_mv, ignore_errors=True)  # superseded gen
            state.last_epoch = m1
            if aux_new is not None:
                state.direct_aux = aux_new
            return True

    def _direct_merge(
        self,
        d: dict,
        state: MVState,
        cols: list[str],
        stored: dict[str, list],
        delta_cols: dict[str, list],
        n_delta: int,
        aux: dict | None,
    ) -> tuple[dict[str, list] | None, list, dict | None]:
        """Pure-Python group merge of an insert-only delta into the
        stored result. Returns (full new result columns or None when
        no visible value changed, changelog batches, updated avg
        companions or None when the plan has no avg). Raises
        _DirectIneligible on anything whose Python semantics could
        diverge from Spark's (NaN values, duplicate stored keys,
        WHERE type coercion, an aux missing a stored group)."""
        import math

        def norm_key(v):
            if isinstance(v, float):
                if math.isnan(v):
                    raise _DirectIneligible  # Spark groups NaN==NaN
                if v == 0.0:
                    return 0.0  # Spark normalizes -0.0 to 0.0 in keys
            return v

        def check_val(v):
            if isinstance(v, float) and math.isnan(v):
                raise _DirectIneligible  # Spark compares NaN==NaN
            return v

        kinds, args, keys = d["kinds"], d["args"], d["keys"]
        finalize = d["finalize"]
        vals = [c for c in cols if c not in keys]
        if set(vals) != set(kinds):
            raise _DirectIneligible
        preds = d["where"]
        # delta fold, grouped on the base key columns (insertion order)
        groups: dict[tuple, dict] = {}
        for i in range(n_delta):
            if preds is not None and not self._direct_where_keep(
                preds, lambda c, _i=i: delta_cols[c][_i]
            ):
                continue
            k = tuple(
                norm_key(delta_cols[c][i]) for c, _ in d["key_map"]
            )
            g = groups.setdefault(k, {})
            for alias, fn in kinds.items():
                arg = args[alias]
                v = None if arg is None else check_val(delta_cols[arg][i])
                if fn == "count":
                    g[alias] = g.get(alias, 0) + (
                        1 if arg is None or v is not None else 0
                    )
                    continue
                if fn == "avg":
                    # the same cast-to-double accumulate Spark's
                    # Average performs per input row
                    s, c0 = g.get(alias, (None, 0))
                    if v is not None:
                        fv = float(v)
                        s = fv if s is None else s + fv
                        c0 += 1
                    g[alias] = (s, c0)
                    continue
                cur = g.get(alias)
                if v is None:
                    g.setdefault(alias, None)
                elif cur is None:
                    g[alias] = v
                elif fn == "sum":
                    g[alias] = cur + v
                elif fn == "min":
                    g[alias] = v if v < cur else cur
                else:  # max
                    g[alias] = v if v > cur else cur
        n_stored = len(stored[cols[0]]) if cols else 0
        stored_idx: dict[tuple, int] = {}
        for i in range(n_stored):
            k = tuple(norm_key(stored[c][i]) for c in keys)
            if k in stored_idx:
                raise _DirectIneligible  # duplicate group: not our MV shape
            stored_idx[k] = i
            for v in vals:
                check_val(stored[v][i])

        def same(a, b) -> bool:
            if a is None or b is None:
                return a is None and b is None
            return a == b

        aux_new = (
            {k: dict(v) for k, v in aux.items()} if aux is not None else None
        )
        updates: dict[int, dict] = {}
        changed: list[tuple[dict, dict]] = []
        inserts: list[dict] = []
        for k, g in groups.items():
            i = stored_idx.get(k)
            if i is None:
                row = {out: k[j] for j, (_, out) in enumerate(d["key_map"])}
                for alias, fn in kinds.items():
                    if fn == "avg":
                        s, c0 = g.get(alias, (None, 0))
                        row[alias] = self._direct_avg_value(
                            s, c0, finalize.get(alias)
                        )
                        if aux_new is not None:
                            aux_new.setdefault(k, {})[alias] = (s, c0)
                    else:
                        row[alias] = g.get(
                            alias, 0 if fn == "count" else None
                        )
                inserts.append(row)
                continue
            old_row = {c: stored[c][i] for c in cols}
            new_row = dict(old_row)
            for alias, fn in kinds.items():
                if fn == "avg":
                    if aux_new is None or k not in aux_new:
                        raise _DirectIneligible  # companions out of sync
                    s0, c0 = aux_new[k][alias]
                    ds, dc = g.get(alias, (None, 0))
                    s1 = ds if s0 is None else (
                        s0 if ds is None else s0 + ds
                    )
                    c1 = (c0 or 0) + dc
                    aux_new[k][alias] = (s1, c1)
                    new_row[alias] = self._direct_avg_value(
                        s1, c1, finalize.get(alias)
                    )
                    continue
                ov, dv = old_row[alias], g.get(alias)
                if ov is None:
                    nv = dv
                elif dv is None:
                    nv = ov
                elif fn in ("sum", "count"):
                    nv = ov + dv
                elif fn == "min":
                    nv = dv if dv < ov else ov
                else:
                    nv = dv if dv > ov else ov
                new_row[alias] = nv
            if any(not same(old_row[v], new_row[v]) for v in vals):
                updates[i] = new_row
                changed.append((old_row, new_row))
        if not updates and not inserts:
            return None, [], aux_new
        new_rows: dict[str, list] = {c: [] for c in cols}
        for i in range(n_stored):
            row = updates.get(i)
            for c in cols:
                new_rows[c].append(stored[c][i] if row is None else row[c])
        for row in inserts:
            for c in cols:
                new_rows[c].append(row[c])
        # Emission mirrors what the Spark path this MV would otherwise
        # take emits: key-aware paths pair updates, the keyless bag
        # diff (global aggregates) emits Delete+Insert.
        pairs_mode = bool(keys) and bool(state.key_cols) and set(
            state.key_cols
        ) == set(keys)
        if pairs_mode:
            batches = [
                ([o for o, _ in changed], OP_UPDATE_DELETE),
                ([n for _, n in changed], OP_UPDATE_INSERT),
                (inserts, OP_INSERT),
            ]
        else:
            batches = [
                ([o for o, _ in changed], OP_DELETE),
                ([n for _, n in changed] + inserts, OP_INSERT),
            ]
        return (
            new_rows,
            [(rows, op) for rows, op in batches if rows],
            aux_new,
        )

    # -- incremental JOIN MVs (delta rules over changelog provenance) ------

    _INCJ_SHAPE = re.compile(
        r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+"
        r"(?P<t1>[\w.]+)\s+(?:AS\s+)?(?P<a1>\w+)\s+"
        r"(?:(?P<jt>LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?|INNER\s+)?JOIN\s+"
        r"(?P<t2>[\w.]+)\s+(?:AS\s+)?(?P<a2>\w+)\s+ON\s+(?P<on>.+?)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.I | re.S,
    )
    _INCJ_BLOCKERS = re.compile(
        r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|"
        r"DISTINCT|OVER|LATERAL|CROSS|ASOF|"
        # Volatile functions make delta rules unsound: a WHERE like
        # `a.ts > now() - interval 1 hour` keeps stale rows the
        # snapshot-diff path would age out (mirrors _INCJA_BLOCKERS).
        # Call-shaped ones require the paren so column ALIASES named
        # uuid/now/random don't spuriously demote the MV.
        r"CURRENT_TIMESTAMP|CURRENT_DATE)\b"
        r"|\b(?:NOW|RANDN?|RANDOM|UUID|UNIX_TIMESTAMP)\s*\("
        r"|\(\s*SELECT",
        re.I,
    )

    # Non-equi residual ON terms an incremental join can carry: a
    # time/range bound (`p.ts <= c.ts + INTERVAL 10 MINUTE`) or a
    # side-local literal filter (`c.event_type = 'click'`). The delta
    # rule ΔOUT = ΔA⋈B_new ∪ A_old⋈ΔB is bilinear in its inputs, so it
    # holds for ANY deterministic join predicate; the equi pairs are
    # still required (they keep the join a hash join at scale and key
    # the retraction branch's touched-key recompute, which re-applies
    # the FULL on-text within the restricted keys — exact because an
    # inner output row depends only on the rows carrying its own equi
    # key on both sides, residuals merely filtering within them).
    _INCJ_RESIDUAL = re.compile(
        r"^\s*\w+\.\w+\s*(?:<=|>=|<>|!=|<|>|=)\s*"
        r"(?:\w+\.\w+|'[^']*'|-?\d+(?:\.\d+)?)"
        r"(?:\s*[+-]\s*INTERVAL\s+'?\d+'?\s+\w+)?\s*$",
        re.I,
    )

    def _parse_simple_join(self, stmt: str) -> dict | None:
        """Incremental plan for a two-table join MV with equi keys and
        optional non-equi residual terms — the interval join included
        (ΔOUT = ΔA⋈B_new ∪ A_old⋈ΔB for insert-only batches; batches
        with UPDATE/DELETE take the touched-key retraction branch in
        _join_retract_refresh), or None. Residual terms restrict the
        plan to INNER joins: outer-pad maintenance derives "newly
        matched keys" from equi key-set diffs, which residuals can
        invalidate (a pad may flip without any key appearing)."""
        if self._INCJ_BLOCKERS.search(stmt):
            return None
        if len(re.findall(r"\bJOIN\b", stmt, re.I)) != 1:
            return None
        m = self._INCJ_SHAPE.match(stmt)
        if not m:
            return None
        a1, a2 = m.group("a1"), m.group("a2")
        if (
            a1.upper() in ("JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "OUTER")
            or a2.upper() in ("ON", "WHERE")
            or a1 == a2
        ):
            return None
        key_pairs: list[tuple[str, str]] = []  # (a1 col, a2 col)
        residuals = 0
        for term in RW._split_and(m.group("on")):
            e = re.match(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", term)
            if e and {e.group(1), e.group(3)} == {a1, a2}:
                if e.group(1) == a1:
                    key_pairs.append((e.group(2), e.group(4)))
                else:
                    key_pairs.append((e.group(4), e.group(2)))
                continue
            if not self._INCJ_RESIDUAL.match(term):
                return None
            refs = re.findall(r"\b(\w+)\.\w+", term)
            if not refs or any(x not in (a1, a2) for x in refs):
                return None
            residuals += 1
        if not key_pairs:
            return None  # no equi key: nested loop at scale — never arm
        # OUTER + residual terms (the outer interval join): the
        # insert-only delta rule is unsound — `_pad_retraction` derives
        # newly-matched keys from equi KEY-SET diffs, and a residual
        # can flip a pad with no key appearing (a new B row under an
        # EXISTING key newly satisfying `b.ts <= a.ts + gap`). The
        # touched-key retraction branch, however, is exact for
        # LEFT/FULL with residuals: an output row (pad included)
        # depends only on the rows carrying its own equi key on both
        # sides, and residuals merely filter within them. So arm, but
        # route EVERY batch through _join_retract_refresh —
        # O(touched keys' rows) instead of O(delta ⋈ partner), still
        # incremental (round 12; closes VERDICT r11 'missing' #4).
        force_retract = bool(
            residuals
            and (m.group("jt") or "").upper() in ("LEFT", "RIGHT", "FULL")
        )
        # SELECT items: qualified refs (al.col [AS alias]) only — they
        # rebind cleanly when FROM is rebound to the delta views.
        for item in RW.split_top_level(m.group("sel")):
            if not re.fullmatch(
                rf"\s*(?:{a1}|{a2})\.\w+(?:\s+(?:AS\s+)?\w+)?\s*",
                item,
                re.I,
            ):
                return None
        jt = (m.group("jt") or "inner").lower()
        incj = {
            "a_fq": self.qualify(m.group("t1")),
            "b_fq": self.qualify(m.group("t2")),
            "a1": a1,
            "a2": a2,
            "sel": m.group("sel").strip(),
            "on": m.group("on").strip(),
            "where": (m.group("where") or "").strip() or None,
            "how": jt if jt in ("left", "full") else
                   ("left" if jt == "right" else "inner"),
            "key_pairs": key_pairs,
            "force_retract": force_retract,
        }
        if jt == "right":
            # RIGHT JOIN ≡ LEFT JOIN with the sides swapped: the
            # PRESERVED side becomes the engine's "A" side. Aliases
            # stay glued to their tables; _incj_stmt writes each
            # side's own alias, so sel/on/where rebind unchanged.
            incj["a_fq"], incj["b_fq"] = incj["b_fq"], incj["a_fq"]
            incj["a1"], incj["a2"] = incj["a2"], incj["a1"]
            incj["key_pairs"] = [(b, a) for a, b in key_pairs]
        return incj

    def _incj_stmt(
        self, incj: dict, view_a: str, view_b: str, how: str = "inner",
        swap: bool = False,
    ) -> str:
        """SQL text joining two delta views under the original aliases.
        ``swap=True`` puts the B side in FROM position (so a LEFT
        keyword preserves B) — used by the full-outer delta rules."""
        kw = {"left": "LEFT JOIN", "full": "FULL OUTER JOIN"}.get(how, "JOIN")
        if swap:
            frm = (
                f"FROM {view_b} AS {incj['a2']} {kw} {view_a} AS {incj['a1']}"
            )
        else:
            frm = (
                f"FROM {view_a} AS {incj['a1']} {kw} {view_b} AS {incj['a2']}"
            )
        q = f"SELECT {incj['sel']} {frm} ON {incj['on']}"
        if incj["where"]:
            q += f" WHERE {incj['where']}"
        return q

    def _refresh_incremental_join(self, state: MVState) -> bool:
        """Delta refresh for a two-table equi-join MV. Insert-only
        batches append ΔOUT (no table rewrite); batches with DML take
        the touched-key retraction branch.

        The publish lock is held for the WHOLE refresh: partner tables
        are read LAZILY (no O(table) snapshot copies) and stay
        consistent because every publication commits through _publish,
        under this same re-entrant lock — the agg path's
        pin-under-lock contract, extended to cover the computation
        instead of paying for a materialized copy."""
        with self._lock:
            return self._refresh_incremental_join_locked(state)

    def _refresh_incremental_join_locked(self, state: MVState) -> bool:
        incj = state.inc_join
        spark = self.spark
        fq = state.fq
        a_fq, b_fq = incj["a_fq"], incj["b_fq"]
        how = incj.get("how", "inner")
        p = self._pending(
            state, "inc_join",
            [self.changelog_name(a_fq), self.changelog_name(b_fq)],
        )
        if isinstance(p, bool):
            return p
        m1, (da, db) = p
        da_ins = da.filter(
            F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)
        ).drop("op", "rw_timestamp")
        db_ins = db.filter(
            F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)
        ).drop("op", "rw_timestamp")
        da_del = da.filter(
            F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
        ).drop("op", "rw_timestamp")
        db_del = db.filter(
            F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
        ).drop("op", "rw_timestamp")
        a_has, b_has = not da_ins.isEmpty(), not db_ins.isEmpty()
        has_del = not da_del.isEmpty() or not db_del.isEmpty()
        # (The enclosing wrapper holds the lock — tables below are
        # read lazily and stay consistent through publication.)
        # Expose only the partner tables some term will actually scan:
        # a fact-append flush on an inner/left join never touches the
        # fact table at all.
        if has_del or how == "full" or incj.get("force_retract"):
            need_a = need_b = True
        elif how == "left":
            # ΔB alone still needs B state (pad retraction derives
            # the pre-batch key set from it) and A state (the
            # padded rows being retracted).
            need_a = b_has
            need_b = a_has or b_has
        else:
            need_a, need_b = b_has, a_has
        ts_a = ts_b = None
        if need_a:
            spark.catalog.refreshTable(a_fq)
            ts_a = spark.table(a_fq)
        if need_b:
            spark.catalog.refreshTable(b_fq)
            ts_b = spark.table(b_fq)
        if has_del or incj.get("force_retract"):
            # UPDATE/DELETE in the batch — or an outer join carrying
            # residual ON terms (every batch takes the touched-key
            # branch; the insert-only pad rule is unsound there):
            # retraction branch (touched-key recompute + bag diff)
            # instead of demoting.
            return self._join_retract_refresh(
                state, incj, ts_a, ts_b, da_ins, da_del, db_ins, db_del, m1
            )

        tag = "_".join(_split_fq(fq))
        v_da, v_db = f"__rw_incj_da_{tag}", f"__rw_incj_db_{tag}"
        v_aold, v_bfull = f"__rw_incj_ao_{tag}", f"__rw_incj_bf_{tag}"
        da_ins.createOrReplaceTempView(v_da)
        db_ins.createOrReplaceTempView(v_db)
        # Pre-batch partner state, algebraically: table − Δins (the
        # batch is all-insert here). Views over un-needed sides are
        # never created — and never scanned.
        if need_a:
            ts_a.exceptAll(da_ins).createOrReplaceTempView(v_aold)
        if need_b:
            ts_b.createOrReplaceTempView(v_bfull)
        retr = None
        a_advanced = a_has  # ΔA empty ⇒ no right-side retraction
        b_advanced = b_has  # ΔB empty ⇒ no left-side retraction
        v_afull = f"__rw_incj_afull_{tag}"
        if need_a:
            ts_a.createOrReplaceTempView(v_afull)

        def _pad_retraction(preserved_view: str, delta_keys_view: str,
                            other_old: DataFrame, pairs, empty_view_src: str,
                            swap: bool) -> DataFrame:
            """Rebuild the padded output rows of `preserved_view` rows
            whose join keys just became matched (keys of the other
            side's delta minus its pre-batch keys)."""
            own = [a for a, _ in pairs] if not swap else [b for _, b in pairs]
            other = [b for _, b in pairs] if not swap else [a for a, _ in pairs]
            d_keys = spark.table(delta_keys_view).select(*other).distinct()
            # Pre-batch key set from the pre-batch relation: a key
            # whose rows were all deleted before this batch must count
            # as new when ΔB re-inserts it (its A pads exist and must
            # retract).
            old_keys = other_old.select(*other).distinct()
            new_keys = d_keys.exceptAll(old_keys)
            pres = spark.table(preserved_view)
            cond = None
            for oc, nc in zip(own, other):
                e = pres[oc] == new_keys[nc]
                cond = e if cond is None else (cond & e)
            affected = pres.join(new_keys, cond, "left_semi")
            v_aff = f"__rw_incj_aff_{tag}"
            v_empty = f"__rw_incj_emp_{tag}"
            affected.createOrReplaceTempView(v_aff)
            spark.table(empty_view_src).limit(0).createOrReplaceTempView(v_empty)
            try:
                if swap:
                    out = spark.sql(
                        self._incj_stmt(incj, v_empty, v_aff, "left", swap=True)
                    )
                else:
                    out = spark.sql(
                        self._incj_stmt(incj, v_aff, v_empty, "left")
                    )
                return out.localCheckpoint(eager=True)
            finally:
                spark.catalog.dropTempView(v_aff)
                spark.catalog.dropTempView(v_empty)

        try:
            # Terms with an empty delta side are SKIPPED outright —
            # their output is empty and skipping avoids even planning
            # a scan over the partner relation.
            parts: list[DataFrame] = []
            if how == "full":
                # d1: new A rows, padded when unmatched in B_full;
                # d2: new B rows, padded when unmatched in A_full
                # (A_full so a ΔA match suppresses the pad);
                # overlap: (ΔA ⋈ ΔB) pairs appear in both — subtract.
                if a_has:
                    parts.append(
                        spark.sql(self._incj_stmt(incj, v_da, v_bfull, "left"))
                    )
                if b_has:
                    parts.append(
                        spark.sql(
                            self._incj_stmt(incj, v_afull, v_db, "left",
                                            swap=True)
                        )
                    )
                delta_out = parts[0]
                for p in parts[1:]:
                    delta_out = delta_out.unionByName(p)
                if a_has and b_has:
                    overlap = spark.sql(self._incj_stmt(incj, v_da, v_db))
                    delta_out = delta_out.exceptAll(overlap)
                delta_out = delta_out.localCheckpoint(eager=True)
            else:
                # d1: new left rows against the full (post-batch)
                # right side — LEFT keeps its padded semantics here;
                # d2: old left rows gaining matches from ΔB (inner
                # for both join kinds).
                if a_has:
                    parts.append(
                        spark.sql(self._incj_stmt(incj, v_da, v_bfull, how))
                    )
                if b_has:
                    parts.append(
                        spark.sql(self._incj_stmt(incj, v_aold, v_db))
                    )
                delta_out = parts[0]
                for p in parts[1:]:
                    delta_out = delta_out.unionByName(p)
                delta_out = delta_out.localCheckpoint(eager=True)
            if how in ("left", "full") and b_advanced:
                # A-side pads whose keys just matched: retract.
                retr = _pad_retraction(
                    v_aold, v_db, ts_b.exceptAll(db_ins), incj["key_pairs"],
                    v_bfull, swap=False,
                )
            if how == "full" and a_advanced:
                # B-side pads whose keys just matched by ΔA: retract.
                v_bold = f"__rw_incj_bold_{tag}"
                ts_b.exceptAll(db_ins).createOrReplaceTempView(v_bold)
                try:
                    retr_b = _pad_retraction(
                        v_bold, v_da, ts_a.exceptAll(da_ins),
                        incj["key_pairs"], v_afull, swap=True,
                    )
                finally:
                    spark.catalog.dropTempView(v_bold)
                retr = retr_b if retr is None else retr.unionByName(retr_b)
        finally:
            for v, made in ((v_da, True), (v_db, True), (v_aold, need_a),
                            (v_bfull, need_b), (v_afull, need_a)):
                if made:
                    spark.catalog.dropTempView(v)
        state.last_epoch = m1
        # padded rows that leave the result (retr) make it a rewrite
        return self._publish_net(state, delta_out, retr)

    def _join_retract_refresh(
        self,
        state: MVState,
        incj: dict,
        ts_a: DataFrame,
        ts_b: DataFrame,
        da_ins: DataFrame,
        da_del: DataFrame,
        db_ins: DataFrame,
        db_del: DataFrame,
        m1: int,
    ) -> bool:
        """Retraction refresh for a plain-join MV whose delta epochs
        contain UPDATE/DELETE (the RisingWave server's IVM over a
        mutable base — /root/reference/risingwave/core.py:453-455 with
        DML reachable via core.py:161-181): recompute the join ONLY
        over TOUCHED join keys — keys present in either side's delta,
        inserts and retractions alike — before and after the batch,
        and bag-diff the two restrictions. Both sides' state comes
        from the pinned TABLE snapshots (post-batch), with pre-batch
        state recovered algebraically as (table + Δdel) − Δins, in
        THAT order (union the deletes back BEFORE subtracting the
        inserts — same-batch insert+delete of one value otherwise
        under-subtracts, leaving a phantom pre-batch row) — O(table
        + delta), never O(changelog history).

        Exact for INNER/LEFT/FULL: an equi-join output row's existence
        (outer pads included) depends only on the rows carrying its own
        key on both sides, which are unchanged for untouched keys, and
        restricting BOTH sides to the same key set preserves every
        match and every pad within it. NULL delta keys are restricted
        null-safely; the join condition itself stays non-null-safe, so
        NULL-key pads diff correctly.

        Emits net Insert/Delete (the same vocabulary the snapshot-diff
        bag path uses for non-keyed MVs), cancelling intra-batch
        insert/delete pairs first so applying the delete bag to the
        stored result is always exact."""
        spark = self.spark
        fq = state.fq
        a_keys = [a for a, _ in incj["key_pairs"]]
        b_keys = [b for _, b in incj["key_pairs"]]
        touched = (
            da_ins.select(*a_keys)
            .unionByName(da_del.select(*a_keys))
            .unionByName(
                db_ins.unionByName(db_del).select(
                    *[F.col(b).alias(a) for a, b in incj["key_pairs"]]
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

        def restrict(df: DataFrame, cols: list[str]) -> DataFrame:
            probe = touched.select(
                *[F.col(a).alias(c) for a, c in zip(a_keys, cols)]
            ).alias("t")
            s = df.alias("s")
            cond = None
            for c in cols:
                e = F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}"))
                cond = e if cond is None else (cond & e)
            return s.join(probe, cond, "left_semi")

        # Pre-batch bag = (post-batch ∪ Δdel) − Δins, in THAT order:
        # a row value inserted and deleted within the same batch has
        # ins-count > post-batch count, so subtracting Δins first
        # would under-subtract (exceptAll floors at zero) and leave a
        # phantom pre-batch row behind.
        a_old = restrict(
            ts_a.unionByName(da_del).exceptAll(da_ins), a_keys
        )
        a_new = restrict(ts_a, a_keys)
        b_old = restrict(
            ts_b.unionByName(db_del).exceptAll(db_ins), b_keys
        )
        b_new = restrict(ts_b, b_keys)
        tag = "_".join(_split_fq(fq))
        names = [f"__rw_jr_{p}_{tag}" for p in ("ao", "an", "bo", "bn")]
        for df, v in zip((a_old, a_new, b_old, b_new), names):
            df.createOrReplaceTempView(v)
        how = incj.get("how", "inner")
        try:
            old_out = spark.sql(self._incj_stmt(incj, names[0], names[2], how))
            new_out = spark.sql(self._incj_stmt(incj, names[1], names[3], how))
            netdel = old_out.exceptAll(new_out).localCheckpoint(eager=True)
            netins = new_out.exceptAll(old_out).localCheckpoint(eager=True)
        finally:
            for v in names:
                spark.catalog.dropTempView(v)
        state.last_epoch = m1
        return self._publish_net(state, netins, netdel)

    # -- session-window MVs: touched-span recompute ---------------------

    # Same discipline as _INC_RC_BLOCKERS minus SESSION_WINDOW itself
    # (note \bWINDOW\b cannot match inside "session_window" — the
    # underscore is a word character, so there is no boundary).
    _SESS_BLOCKERS = re.compile(
        r"\b(JOIN|UNION|INTERSECT|EXCEPT|OVER|LIMIT|ORDER\s+BY"
        r"|HAVING|TUMBLE|HOP"
        r"|PERCENTILE_APPROX|APPROX_\w+|COLLECT_\w+|ARRAY_AGG|STRING_AGG"
        r"|LISTAGG|FIRST|LAST|ANY_VALUE"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|UNIX_TIMESTAMP)\b"
        r"|\(\s*SELECT\b|\bcurrent_timestamp\b|\bcurrent_date\b"
        r"|\bnow\s*\(|\brandn?\s*\(|\brandom\s*\(|\buuid\s*\("
        r"|\bmode\s*\(|\bhistogram_numeric\s*\(|\bmax_by\s*\("
        r"|\bmin_by\s*\(|\bfirst_value\s*\(|\blast_value\s*\(",
        re.I,
    )
    _SESS_WINDOW_TERM = re.compile(
        r"^session_window\s*\(\s*(?P<col>\w+)\s*,\s*"
        r"(?:'(?P<g1>[^']+)'"
        r"|interval\s+'(?P<g2>[^']+)'(?:\s+(?P<unit>\w+))?)\s*\)$",
        re.I,
    )
    _SESS_FIELD_ITEM = re.compile(
        r"^\s*session_window\s*\.\s*(?P<fld>start|end)\s+AS\s+"
        r"(?P<alias>\w+)\s*$",
        re.I,
    )

    def _parse_session_agg(self, stmt: str) -> dict | None:
        """Incremental plan for a SESSION-window MV:

            SELECT session_window.start AS a, session_window.end AS b,
                   keys…, agg(...) …
            FROM tbl [WHERE …]
            GROUP BY session_window(col, '<gap>'), keys…

        Sessions are data-dependent (a delta row can merge or split
        sessions), so there is no per-row derive — the refresh is a
        TOUCHED-SPAN recompute (see _refresh_incremental_session):
        delta rows of a key can only affect stored sessions whose
        extents intersect [min(ts)−gap, max(ts)+gap]; one expansion to
        those sessions' full extents closes the region (stored
        sessions of one key are disjoint and ≥gap-separated, so no
        second-order reach exists). Any deterministic aggregate is
        allowed — the affected region is re-aggregated wholesale.
        Both window bounds must be selected (they identify the stored
        rows the bag-diff replaces); at least one plain key is
        required (the per-key span join shape)."""
        if self._SESS_BLOCKERS.search(stmt):
            return None
        if not re.search(r"\bsession_window\s*\(", stmt, re.I):
            return None
        m = self._INC_SHAPE.match(stmt)
        if not m or m.group("hav"):
            return None
        sel, where, grp = m.group("sel"), m.group("where"), m.group("grp")
        # The only qualified references allowed are
        # session_window.start/end (the grouping struct's fields).
        for alq in re.findall(
            r"\b([A-Za-z_]\w*)\s*\.\s*\w+",
            " ".join(filter(None, (sel, where, grp))),
        ):
            if alq.lower() != "session_window":
                return None
        sess = None
        part: list[str] = []
        for t in (x.strip() for x in RW.split_top_level(grp)):
            sm = self._SESS_WINDOW_TERM.match(t)
            if sm:
                if sess is not None:
                    return None
                sess = sm
                continue
            if not re.fullmatch(r"\w+", t) or t.isdigit():
                return None
            part.append(t)
        if sess is None or not part:
            return None
        gap_txt = sess.group("g1") or (
            sess.group("g2")
            + (f" {sess.group('unit')}" if sess.group("unit") else "")
        )
        try:
            gap_us = RW.interval_to_micros(gap_txt)
        except ValueError:
            return None
        start_out = end_out = None
        keys: list[str] = []
        key_map: list[tuple[str, str]] = []  # (base col, output name)
        has_agg = False
        for item in RW.split_top_level(sel):
            fm = self._SESS_FIELD_ITEM.match(item)
            if fm:
                if fm.group("fld").lower() == "start":
                    if start_out is not None:
                        return None
                    start_out = fm.group("alias")
                else:
                    if end_out is not None:
                        return None
                    end_out = fm.group("alias")
                continue
            am = self._INC_AGG_ITEM.match(item)
            if am and not re.match(r"\s*DISTINCT\b", am.group("arg"), re.I):
                has_agg = True
                continue
            km = self._INC_KEY_ITEM.match(item)
            if km and km.group("col") in part:
                out = km.group("alias") or km.group("col")
                keys.append(out)
                key_map.append((km.group("col"), out))
                continue
            rm = self._INC_RC_ITEM.match(item)
            if rm is None:
                return None
            has_agg = True  # any deterministic aggregate: recomputed
        if start_out is None or end_out is None or not has_agg:
            return None
        out_all = keys + [start_out, end_out]
        if (
            len(key_map) != len(part)
            or len({c for c, _ in key_map}) != len(key_map)
            or len(set(out_all)) != len(out_all)
        ):
            return None
        return {
            "base_fq": self.qualify(m.group("tbl")),
            "sel": sel.strip(),
            "where": (where or "").strip() or None,
            "grp": grp.strip(),
            "col": sess.group("col"),
            "gap_us": gap_us,
            "key_map": key_map,
            "start_out": start_out,
            "end_out": end_out,
        }

    def _sess_stmt(self, plan: dict, view: str) -> str:
        q = f"SELECT {plan['sel']} FROM {view}"
        if plan["where"]:
            q += f" WHERE {plan['where']}"
        q += f" GROUP BY {plan['grp']}"
        return q

    def _refresh_incremental_session(self, state: MVState) -> bool:
        """Touched-span recompute for a session-window MV — retraction
        capable (merge-two-sessions and split-by-DELETE both land in
        the recomputed region).

        Region proof sketch: per key, delta rows span
        S = [min(ts)−gap, max(ts)+gap] (one contiguous interval).
        Stored sessions intersecting S are affected; expand S to their
        extents → S'. (1) No UNAFFECTED stored session intersects S':
        same-key sessions are disjoint intervals, and any interval
        between/overlapping the expanded extremes would overlap an
        affected session's interval. (2) No post-batch session spans
        beyond S': new rows end ≥gap inside S, and chains past the
        boundary could only pass through a stored session, which
        expansion absorbed. Hence sessions recomputed over base rows
        with ts ∈ [S'.lo, S'.hi) — half-open so a next session
        starting exactly at a replaced end stays untouched — equal
        exactly the post-batch state of the replaced region, and the
        bag-diff against the stored affected rows emits the net
        Insert/Delete.

        SCALE: the global [min lo, max hi) bound is a PUSHABLE scan
        predicate (parquet min/max or time-partition pruning at
        lakehouse scale); the per-key exactness comes from the
        span join, which touches only pruned rows."""
        with self._lock:
            return self._refresh_incremental_session_locked(state)

    def _refresh_incremental_session_locked(self, state: MVState) -> bool:
        plan = state.inc_session
        spark = self.spark
        fq = state.fq
        p = self._pending(
            state, "inc_session", [self.changelog_name(plan["base_fq"])]
        )
        if isinstance(p, bool):
            return p
        m1, (delta,) = p
        delta = delta.drop("op", "rw_timestamp")
        tag = "_".join(_split_fq(fq))
        col, gap = plan["col"], plan["gap_us"]
        base_keys = [c for c, _ in plan["key_map"]]
        v_d = f"__rw_sess_d_{tag}"
        delta.createOrReplaceTempView(v_d)
        try:
            q = f"SELECT * FROM {v_d}"
            if plan["where"]:
                q += f" WHERE {plan['where']}"
            # NULL session timestamps never form windows (Spark drops
            # them from session grouping) — they cannot touch any span
            d_f = spark.sql(q).filter(F.col(col).isNotNull())
            spans = (
                d_f.groupBy(*base_keys)
                .agg(
                    F.timestamp_micros(
                        F.unix_micros(F.min(col)) - gap
                    ).alias("__lo"),
                    F.timestamp_micros(
                        F.unix_micros(F.max(col)) + gap
                    ).alias("__hi"),
                )
                .localCheckpoint(eager=True)
            )
        finally:
            spark.catalog.dropTempView(v_d)
        if spans.isEmpty():
            state.last_epoch = m1
            self.next_epoch()
            return True
        so, eo = plan["start_out"], plan["end_out"]
        stored = spark.table(fq)
        # Prune the STORED-result scan with the global delta span too
        # (pushable on the MV's own parquet): only sessions
        # intersecting [min __lo, max __hi] can be affected, so the
        # O(result) read becomes a near-indexed read of the span. The
        # per-key join below still decides exact membership.
        g0 = spans.agg(F.min("__lo"), F.max("__hi")).first()
        stored = stored.filter(
            (F.col(eo) >= F.lit(g0[0])) & (F.col(so) <= F.lit(g0[1]))
        )

        def keyed(left, right, lcols, rcols):
            cond = None
            for lc, rc in zip(lcols, rcols):
                e = F.col(lc).eqNullSafe(F.col(rc))
                cond = e if cond is None else (cond & e)
            return cond

        s_al, p_al = stored.alias("s"), spans.alias("p")
        kcond = keyed(
            s_al, p_al,
            [f"s.{out}" for _, out in plan["key_map"]],
            [f"p.{c}" for c in base_keys],
        )
        inter = (F.col(f"s.{eo}") >= F.col("p.__lo")) & (
            F.col(f"s.{so}") <= F.col("p.__hi")
        )
        # expansion: the affected sessions' full extents widen the span
        ext = (
            s_al.join(p_al, kcond & inter, "inner")
            .select(
                *[F.col(f"p.{c}").alias(c) for c in base_keys],
                F.col(f"s.{so}").alias("__as"),
                F.col(f"s.{eo}").alias("__ae"),
            )
            .groupBy(*base_keys)
            .agg(F.min("__as").alias("__ms"), F.max("__ae").alias("__me"))
        )
        x_al = ext.alias("x")
        kcond_px = keyed(
            p_al, x_al,
            [f"p.{c}" for c in base_keys],
            [f"x.{c}" for c in base_keys],
        )
        spans2 = (
            p_al.join(x_al, kcond_px, "left")
            .select(
                *[F.col(f"p.{c}").alias(c) for c in base_keys],
                F.least(F.col("p.__lo"), F.col("x.__ms")).alias("__lo2"),
                F.greatest(F.col("p.__hi"), F.col("x.__me")).alias("__hi2"),
            )
            .localCheckpoint(eager=True)
        )
        # global prune bounds: ONE pushable range predicate on the scan
        gl = spans2.agg(F.min("__lo2"), F.max("__hi2")).first()
        spark.catalog.refreshTable(plan["base_fq"])
        pre = spark.table(plan["base_fq"]).filter(
            (F.col(col) >= F.lit(gl[0])) & (F.col(col) < F.lit(gl[1]))
        )
        b_al, p2_al = pre.alias("b"), spans2.alias("p")
        kcond_b = keyed(
            b_al, p2_al,
            [f"b.{c}" for c in base_keys],
            [f"p.{c}" for c in base_keys],
        )
        rng = (F.col(f"b.{col}") >= F.col("p.__lo2")) & (
            F.col(f"b.{col}") < F.col("p.__hi2")
        )
        restricted = b_al.join(p2_al, kcond_b & rng, "inner").select("b.*")
        v_r = f"__rw_sess_r_{tag}"
        restricted.createOrReplaceTempView(v_r)
        try:
            new_rows = (
                spark.sql(self._sess_stmt(plan, v_r))
                .select(*stored.columns)
                .localCheckpoint(eager=True)
            )
        finally:
            spark.catalog.dropTempView(v_r)
        old_rows = (
            s_al.join(p_al, kcond & inter, "left_semi")
            .localCheckpoint(eager=True)
        )
        netdel = old_rows.exceptAll(new_rows).localCheckpoint(eager=True)
        netins = new_rows.exceptAll(old_rows).localCheckpoint(eager=True)
        state.last_epoch = m1
        return self._publish_net(state, netins, netdel)

    # -- N-way plain-join MVs (no aggregate): signed telescoping delta --

    # LEFT is deliberately NOT a blocker: fact-preserving star joins
    # arm the touched-fact recompute mode (_star_nway_diff). RIGHT and
    # FULL stay blocked — their preserved side breaks the one-fact-row
    # output derivation the star argument needs.
    _INCJN_BLOCKERS = re.compile(
        r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|"
        r"DISTINCT|OVER|LATERAL|RIGHT|FULL|CROSS|ASOF|"
        r"CURRENT_TIMESTAMP|CURRENT_DATE)\b"
        r"|\b(?:NOW|RANDN?|RANDOM|UUID|UNIX_TIMESTAMP)\s*\("
        r"|\(\s*SELECT",
        re.I,
    )

    def _parse_join_nway(self, stmt: str) -> dict | None:
        """Incremental plan for an N-way (>= 3 tables) equi-join MV
        with NO aggregate — the enrichment/serving view (fact plus
        several dimensions; the reference's MV surface is arbitrary
        SELECT text, /root/reference/risingwave/core.py:453-455).
        2-table MVs stay on _parse_simple_join (outer-capable).

        Two regimes, chosen at parse time:

        ALL-INNER → mode "telescope" (ℤ-multiplicity bag algebra —
        join is bilinear over signed bags, so this is exact for INNER
        joins under ANY deterministic ON/WHERE predicate, retraction
        batches included):

            OUT_new − OUT_old = Σᵢ new₀..ᵢ₋₁ ⋈ Δᵢ ⋈ oldᵢ₊₁..ₙ₋₁,
            Δᵢ = Δᵢ⁺ − Δᵢ⁻

        Each telescoping term splits into a positive part (Δᵢ⁺) and a
        negative part (Δᵢ⁻); net Insert = P ∸ N and net Delete = N ∸ P
        recover the ℤ result with exceptAll. No touched-key recompute
        and no key-set reasoning is needed — which is why UPDATE/DELETE
        on any side keeps this plan armed with zero extra machinery.

        ANY LEFT → mode "star" (fact LEFT JOIN dims — the common
        enrichment view that keeps facts with missing dims): the
        bilinear rule breaks on pads, so the refresh recomputes over
        TOUCHED FACT ROWS instead (_star_nway_diff). Armable only
        under star discipline — every ON references ONLY the first
        alias and the dim it binds — because that is what makes each
        output row derive from exactly one fact row. RIGHT/FULL stay
        blocked (their preserved side breaks that derivation).

        SCALE: telescope cost is Σᵢ |Δᵢ| ⋈ partners — empty-delta
        sides are skipped outright, so the common fact-append flush
        joins ONE delta against the (broadcastable) dimensions; star
        cost is O(touched fact rows ⋈ key-restricted dims). Equi keys
        are required per ON so every term stays a hash join."""
        if self._INCJN_BLOCKERS.search(stmt):
            return None
        m = re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<frm>.+?)"
            r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            return None
        toks = re.split(
            r"\s+(LEFT(?:\s+OUTER)?\s+JOIN|INNER\s+JOIN|JOIN)\s+",
            m.group("frm"),
            flags=re.I,
        )
        segs = toks[0::2]
        hows = [
            "left" if sep.upper().startswith("LEFT") else "inner"
            for sep in toks[1::2]
        ]
        if len(segs) < 3:  # 2-table MVs: _parse_simple_join's territory
            return None
        star = "left" in hows
        first = self._INCJA_FROM_SEG.match(segs[0])
        if not first:
            return None
        sides: list[tuple[str, str]] = [
            (self.qualify(first.group("tbl")), first.group("alias"))
        ]
        ons: list[str] = []
        for seg in segs[1:]:
            jm = self._INCJA_JOIN_SEG.match(seg)
            if not jm:
                return None
            sides.append((self.qualify(jm.group("tbl")), jm.group("alias")))
            ons.append(jm.group("on").strip())
        aliases = [al for _, al in sides]
        if len(set(aliases)) != len(aliases) or any(
            al.upper() in self._RESERVED_ALIASES for al in aliases
        ):
            return None
        # Same ON discipline as _parse_join_agg: every term is either
        # an equi-condition between two distinct in-scope aliases or a
        # residual the bilinear rule absorbs; each join needs >= 1
        # equi key (hash join at scale, never a nested loop). Star
        # mode tightens the scope to {fact, this dim} — the exactness
        # argument of _star_nway_diff needs every output row to
        # derive from one fact row — and records the fact↔dim key
        # pairs that drive the touched-fact probe.
        star_keys: list[list[tuple[str, str]]] = []
        for i, on in enumerate(ons):
            in_scope = set(aliases[: i + 2])
            pair_scope = {aliases[0], aliases[i + 1]}
            equi = 0
            kp: list[tuple[str, str]] = []
            for term in RW._split_and(on):
                e = re.match(
                    r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", term
                )
                if (
                    e
                    and e.group(1) != e.group(3)
                    and e.group(1) in in_scope
                    and e.group(3) in in_scope
                ):
                    if star:
                        if {e.group(1), e.group(3)} != pair_scope:
                            return None
                        if e.group(1) == aliases[0]:
                            kp.append((e.group(2), e.group(4)))
                        else:
                            kp.append((e.group(4), e.group(2)))
                    equi += 1
                    continue
                if not self._INCJ_RESIDUAL.match(term):
                    return None
                refs = re.findall(r"\b(\w+)\.\w+", term)
                scope = pair_scope if star else in_scope
                if not refs or any(x not in scope for x in refs):
                    return None
            if not equi:
                return None
            star_keys.append(kp)
        # SELECT items: qualified refs only (al.col [AS name]) — they
        # rebind cleanly when FROM is rebound to delta/partner views.
        out_names: list[str] = []
        for item in RW.split_top_level(m.group("sel")):
            im = re.fullmatch(
                r"\s*(?P<al>\w+)\.(?P<col>\w+)"
                r"(?:\s+(?:AS\s+)?(?P<out>\w+))?\s*",
                item,
                re.I,
            )
            if not im or im.group("al") not in aliases:
                return None
            out_names.append(im.group("out") or im.group("col"))
        if len(set(out_names)) != len(out_names):
            return None  # duplicate output names: ambiguous bag diff
        if m.group("where"):
            refs = re.findall(r"\b(\w+)\.\w+", m.group("where"))
            if any(x not in aliases for x in refs):
                return None
        return {
            "sides": sides,  # [(fq, alias), ...] in FROM order
            "ons": ons,  # on-condition for join i (binds sides[i+1])
            "hows": hows,  # "inner" | "left" per join, FROM order
            "mode": "star" if star else "telescope",
            "star_keys": star_keys if star else None,
            "sel": m.group("sel").strip(),
            "where": (m.group("where") or "").strip() or None,
        }

    def _incjn_stmt(self, plan: dict, views: list[str]) -> str:
        """Join all N sides' views under their original aliases,
        projecting the MV's own select list."""
        aliases = [al for _, al in plan["sides"]]
        hows = plan.get("hows") or ["inner"] * len(plan["ons"])
        frm = f"{views[0]} AS {aliases[0]}"
        for i, on in enumerate(plan["ons"]):
            kw = "LEFT JOIN" if hows[i] == "left" else "JOIN"
            frm += f" {kw} {views[i + 1]} AS {aliases[i + 1]} ON {on}"
        q = f"SELECT {plan['sel']} FROM {frm}"
        if plan["where"]:
            q += f" WHERE {plan['where']}"
        return q

    def _star_nway_diff(
        self,
        plan: dict,
        deltas: list[tuple],
        tabs: list[DataFrame],
        tag: str,
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """Touched-fact-row bag diff for a STAR N-way join MV carrying
        LEFT (fact-preserving) terms — the enrichment/serving view
        `fact LEFT JOIN dim …` that keeps facts with missing dims.
        The signed telescoping rule is exact only for INNER joins
        (bilinearity breaks on pads), so star mode recomputes the view
        restricted to the fact rows this batch can affect and
        bag-diffs old vs new.

        Exactness: star discipline pins every ON to reference only
        {fact, that dim}, so each output row — pads included — derives
        from exactly ONE fact row: its value plus, per dim, the dim
        rows matching its key tuple. A fact row is TOUCHED iff some
        dim's delta (insert or retraction) carries its key tuple for
        that dim, or the row's value appears in the fact delta.
        Untouched fact rows therefore join identical dim-key
        partitions before and after the batch — their output rows are
        unchanged — so the old/new diff over touched fact rows equals
        the global diff, and netdel ⊆ stored holds for exceptAll.
        eqNullSafe in the probes over-touches NULL keys (a pad row can
        never gain a match), which is a sound superset.

        SCALE: the probes are distinct'd delta key tuples hash-joined
        against the fact — O(|fact| scan, |delta| build side) — and
        each dim is semi-join-restricted to the touched rows' key
        tuples before the rejoin, so a one-dim-row update rejoins only
        the fact rows carrying that key, never fact × dims."""
        spark = self.spark
        n = len(tabs)
        f_ins, f_del, f_hi, f_hd = deltas[0]
        fact_new = tabs[0]
        fact_old = fact_new
        if f_hd:
            fact_old = fact_old.unionByName(f_del)
        if f_hi:
            fact_old = fact_old.exceptAll(f_ins)
        # (probe df, [(fact col, probe col)], flag col) per delta side
        probes: list[tuple[DataFrame, list[tuple[str, str]], str]] = []
        for i in range(1, n):
            ins, dele, hi, hd = deltas[i]
            if not hi and not hd:
                continue
            kp = plan["star_keys"][i - 1]
            pairs = [
                (fc, f"__rw_sp{i}_{j}") for j, (fc, _) in enumerate(kp)
            ]
            pr = (
                ins.unionByName(dele)
                .select(
                    *[
                        F.col(dc).alias(pc)
                        for (_, pc), (_, dc) in zip(pairs, kp)
                    ]
                )
                .dropDuplicates()
                .withColumn(f"__rw_st{i}", F.lit(1))
            )
            probes.append((pr, pairs, f"__rw_st{i}"))
        if f_hi or f_hd:
            fcols = tabs[0].columns
            dd = f_ins if f_hi else None
            if f_hd:
                dd = f_del if dd is None else dd.unionByName(f_del)
            pairs = [(c, f"__rw_spf_{j}") for j, c in enumerate(fcols)]
            pr = (
                dd.select(*[F.col(c).alias(pc) for c, pc in pairs])
                .dropDuplicates()
                .withColumn("__rw_stf", F.lit(1))
            )
            probes.append((pr, pairs, "__rw_stf"))
        if not probes:
            return None, None

        def marked(df: DataFrame) -> DataFrame:
            # Probe dfs are dropDuplicates'd, so each left join
            # preserves the fact bag's multiplicities exactly.
            for pr, pairs, _flag in probes:
                cond = None
                for fc, pc in pairs:
                    e = F.col(fc).eqNullSafe(F.col(pc))
                    cond = e if cond is None else cond & e
                df = df.join(pr, cond, "left").drop(
                    *[pc for _, pc in pairs]
                )
            return df

        flags = [flag for _, _, flag in probes]
        or_cond = None
        for flag in flags:
            c = F.col(flag).isNotNull()
            or_cond = c if or_cond is None else or_cond | c
        t_new = (
            marked(fact_new).filter(or_cond).drop(*flags)
            .localCheckpoint(eager=True)
        )
        t_old = (
            marked(fact_old).filter(or_cond).drop(*flags)
            .localCheckpoint(eager=True)
        )
        key_src = t_new.unionByName(t_old)
        made: list[str] = []

        def mkview(df: DataFrame, name: str) -> str:
            df.createOrReplaceTempView(name)
            made.append(name)
            return name

        try:
            vold: list[str] = [mkview(t_old, f"__rw_sn_fo_{tag}")]
            vnew: list[str] = [mkview(t_new, f"__rw_sn_fn_{tag}")]
            for i in range(1, n):
                ins, dele, hi, hd = deltas[i]
                kp = plan["star_keys"][i - 1]
                dim_new = tabs[i]
                dim_old = dim_new
                if hd:
                    dim_old = dim_old.unionByName(dele)
                if hi:
                    dim_old = dim_old.exceptAll(ins)
                # Restrict BOTH generations to the touched rows' key
                # tuples (same probe both sides — the diff argument
                # needs identical restriction predicates).
                kprobe = key_src.select(
                    *[
                        F.col(fc).alias(f"__rw_sk_{j}")
                        for j, (fc, _) in enumerate(kp)
                    ]
                ).dropDuplicates()
                cond = None
                for j, (_, dc) in enumerate(kp):
                    e = F.col(dc).eqNullSafe(F.col(f"__rw_sk_{j}"))
                    cond = e if cond is None else cond & e
                dim_new = dim_new.join(kprobe, cond, "left_semi")
                dim_old = dim_old.join(kprobe, cond, "left_semi")
                vold.append(mkview(dim_old, f"__rw_sn_o{i}_{tag}"))
                vnew.append(mkview(dim_new, f"__rw_sn_n{i}_{tag}"))
            old_out = spark.sql(self._incjn_stmt(plan, vold))
            new_out = spark.sql(self._incjn_stmt(plan, vnew))
            netdel = old_out.exceptAll(new_out).localCheckpoint(eager=True)
            netins = new_out.exceptAll(old_out).localCheckpoint(eager=True)
        finally:
            for v in made:
                spark.catalog.dropTempView(v)
        return netins, netdel

    def _refresh_incremental_join_nway(self, state: MVState) -> bool:
        """Signed telescoping refresh for an N-way plain-join MV —
        retraction capable by construction (Δᵢ⁻ terms carry deletes
        through the same bilinear rule; no touched-key recompute).

        The publish lock is held for the WHOLE refresh (re-entrant):
        partner tables are read lazily — no O(table) snapshot copies —
        and stay consistent because every publication commits through
        _publish, under this same lock (the inc_join/inc_joinagg
        contract)."""
        with self._lock:
            return self._refresh_incremental_join_nway_locked(state)

    def _refresh_incremental_join_nway_locked(self, state: MVState) -> bool:
        plan = state.inc_join_nway
        spark = self.spark
        fq = state.fq
        p = self._pending(
            state, "inc_join_nway",
            [self.changelog_name(b) for b, _ in plan["sides"]],
        )
        if isinstance(p, bool):
            return p
        m1, slices = p
        deltas: list[tuple] = []  # (ins_df, del_df, has_ins, has_del)
        for d in slices:
            ins = d.filter(
                F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)
            ).drop("op", "rw_timestamp")
            dele = d.filter(
                F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
            ).drop("op", "rw_timestamp")
            deltas.append((ins, dele, not ins.isEmpty(), not dele.isEmpty()))
        tabs: list[DataFrame] = []
        for b, _ in plan["sides"]:
            spark.catalog.refreshTable(b)
            tabs.append(spark.table(b))
        n = len(tabs)
        tag = "_".join(_split_fq(fq))
        if plan.get("mode") == "star":
            netins, netdel = self._star_nway_diff(plan, deltas, tabs, tag)
            state.last_epoch = m1
            return self._publish_net(state, netins, netdel)
        pos: list[DataFrame] = []
        neg: list[DataFrame] = []
        made: list[str] = []

        def mkview(df: DataFrame, name: str) -> str:
            df.createOrReplaceTempView(name)
            made.append(name)
            return name

        try:
            for i, (ins, dele, has_i, has_d) in enumerate(deltas):
                if not has_i and not has_d:
                    continue  # term is empty: partners never scanned
                views: list[str | None] = [None] * n
                for j in range(n):
                    if j < i:
                        # prefix: POST-batch state (the table itself)
                        views[j] = mkview(tabs[j], f"__rw_jn_n{j}i{i}_{tag}")
                    elif j > i:
                        # suffix: PRE-batch state, algebraically
                        # (table ∪ Δdel) − Δins — add-before-subtract
                        # (engine bag invariant: same-batch ins+del of
                        # one value otherwise under-subtracts)
                        old_j = tabs[j]
                        if deltas[j][3]:
                            old_j = old_j.unionByName(deltas[j][1])
                        if deltas[j][2]:
                            old_j = old_j.exceptAll(deltas[j][0])
                        views[j] = mkview(old_j, f"__rw_jn_o{j}i{i}_{tag}")
                if has_i:
                    views[i] = mkview(ins, f"__rw_jn_dp{i}_{tag}")
                    pos.append(
                        spark.sql(self._incjn_stmt(plan, views))
                        .localCheckpoint(eager=True)
                    )
                if has_d:
                    views[i] = mkview(dele, f"__rw_jn_dn{i}_{tag}")
                    neg.append(
                        spark.sql(self._incjn_stmt(plan, views))
                        .localCheckpoint(eager=True)
                    )
        finally:
            for v in made:
                spark.catalog.dropTempView(v)
        state.last_epoch = m1
        P = pos[0] if pos else None
        for p in pos[1:]:
            P = P.unionByName(p)
        Ng = neg[0] if neg else None
        for q_ in neg[1:]:
            Ng = Ng.unionByName(q_)
        if P is not None and Ng is not None:
            netins = P.exceptAll(Ng).localCheckpoint(eager=True)
            netdel = Ng.exceptAll(P).localCheckpoint(eager=True)
        elif P is not None:
            netins, netdel = P, None
        elif Ng is not None:
            netins, netdel = None, Ng
        else:
            self.next_epoch()
            return True
        return self._publish_net(state, netins, netdel)

    # -- UNION ALL MVs: linear bag-sum delta ----------------------------

    _INCU_BLOCKERS = re.compile(
        r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|JOIN|OVER|LATERAL"
        r"|DISTINCT|INTERSECT|EXCEPT|TUMBLE|HOP|SESSION_WINDOW"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE)\b"
        r"|\b(?:NOW|RANDN?|RANDOM|UUID|UNIX_TIMESTAMP)\s*\("
        r"|\(\s*SELECT",
        re.I,
    )
    _INCU_BRANCH = re.compile(
        r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[\w.]+)"
        r"(?:\s+(?:AS\s+)?(?P<alias>\w+))?"
        r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.I | re.S,
    )

    def _parse_union_all(self, stmt: str) -> dict | None:
        """Incremental plan for a UNION ALL MV — the consolidation
        view stacking per-source SELECTs (the reference's MV surface
        is arbitrary SELECT text,
        /root/reference/risingwave/core.py:453-455). Bag sum is
        LINEAR: Δout = Σᵢ branchᵢ(Δᵢ⁺) − Σᵢ branchᵢ(Δᵢ⁻), each
        branch's own projection/filter applied to that branch's delta
        — exact under arbitrary DML with no touched-key machinery,
        and branches over the SAME table (the poor man's CASE) just
        contribute two terms over one delta.

        Armable: every branch is SELECT <deterministic exprs> FROM
        <one engine table> [WHERE <pred>] — no joins, aggregates,
        windows, set-ops beyond the top-level UNION ALL, or volatile
        functions. Aggregates are rejected structurally (the analyzed
        plan must contain no Aggregate/Window node), not just by
        name-list, so an exotic implicit-global-agg branch can never
        arm wrongly. Plain UNION (distinct) stays on snapshot-diff —
        its dedup needs multiplicity counts.

        SCALE: O(Σ|Δᵢ|) per refresh; each branch term is a pushed
        projection+filter over a delta scan, no shuffle at all."""
        if re.search(r"\bUNION\s+(?!ALL\b)", stmt, re.I):
            return None  # plain UNION / UNION DISTINCT: bag dedup
        parts = re.split(r"\bUNION\s+ALL\b", stmt, flags=re.I)
        if len(parts) < 2:
            return None
        branches: list[dict] = []
        for part in parts:
            if self._INCU_BLOCKERS.search(part):
                return None
            bm = self._INCU_BRANCH.match(part)
            if not bm:
                return None
            tbl = bm.group("tbl")
            alias = bm.group("alias") or tbl.split(".")[-1]
            if alias.upper() in self._RESERVED_ALIASES or alias.upper() in (
                "UNION", "ALL", "SELECT", "FROM"
            ):
                return None
            branches.append(
                {
                    "sel": bm.group("sel").strip(),
                    "tbl_fq": self.qualify(tbl),
                    "alias": alias,
                    "where": (bm.group("where") or "").strip() or None,
                }
            )
        ncols = None
        for br in branches:
            # Structural aggregate/window rejection: analyze the branch
            # over its real table (arming sites guarantee it exists) —
            # analysis only, nothing executes.
            try:
                df = self.spark.sql(
                    self._incu_branch_stmt(br, br["tbl_fq"])
                )
                plan_str = df._jdf.queryExecution().analyzed().toString()
            except Exception:
                return None
            if "Aggregate" in plan_str or "Window" in plan_str:
                return None
            if ncols is None:
                ncols = len(df.columns)
            elif len(df.columns) != ncols:
                return None
        return {"branches": branches}

    def _incu_branch_stmt(self, br: dict, view: str) -> str:
        """One branch's SELECT with FROM rebound to ``view`` under the
        branch's original alias (or the table's bare name, so
        table-qualified refs keep resolving)."""
        q = f"SELECT {br['sel']} FROM {view} AS {br['alias']}"
        if br["where"]:
            q += f" WHERE {br['where']}"
        return q

    def _refresh_incremental_union(self, state: MVState) -> bool:
        """Linear bag-sum refresh for a UNION ALL MV. The publish lock
        is held for the whole refresh (re-entrant) — same consistency
        contract as the join paths."""
        with self._lock:
            return self._refresh_incremental_union_locked(state)

    def _refresh_incremental_union_locked(self, state: MVState) -> bool:
        plan = state.inc_union
        spark = self.spark
        fq = state.fq
        fqs = sorted({br["tbl_fq"] for br in plan["branches"]})
        p = self._pending(
            state, "inc_union", [self.changelog_name(b) for b in fqs]
        )
        if isinstance(p, bool):
            return p
        m1, slices = p
        deltas: dict[str, tuple] = {}
        for b, d in zip(fqs, slices):
            ins = d.filter(
                F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)
            ).drop("op", "rw_timestamp")
            dele = d.filter(
                F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
            ).drop("op", "rw_timestamp")
            deltas[b] = (ins, dele, not ins.isEmpty(), not dele.isEmpty())
        out_cols = spark.table(fq).columns
        tag = "_".join(_split_fq(fq))
        pos: list[DataFrame] = []
        neg: list[DataFrame] = []
        made: list[str] = []
        try:
            for bi, (b, (ins, dele, has_i, has_d)) in enumerate(
                deltas.items()
            ):
                if has_i:
                    v = f"__rw_u_p{bi}_{tag}"
                    ins.createOrReplaceTempView(v)
                    made.append(v)
                if has_d:
                    v = f"__rw_u_n{bi}_{tag}"
                    dele.createOrReplaceTempView(v)
                    made.append(v)
            for br in plan["branches"]:
                bi = list(deltas).index(br["tbl_fq"])
                _, _, has_i, has_d = deltas[br["tbl_fq"]]
                if has_i:
                    pos.append(
                        spark.sql(
                            self._incu_branch_stmt(br, f"__rw_u_p{bi}_{tag}")
                        ).toDF(*out_cols)
                    )
                if has_d:
                    neg.append(
                        spark.sql(
                            self._incu_branch_stmt(br, f"__rw_u_n{bi}_{tag}")
                        ).toDF(*out_cols)
                    )
            P = pos[0] if pos else None
            for p in pos[1:]:
                P = P.unionByName(p)
            Ng = neg[0] if neg else None
            for q_ in neg[1:]:
                Ng = Ng.unionByName(q_)
            if P is not None and Ng is not None:
                netins = P.exceptAll(Ng).localCheckpoint(eager=True)
                netdel = Ng.exceptAll(P).localCheckpoint(eager=True)
            elif P is not None:
                netins = P.localCheckpoint(eager=True)
                netdel = None
            elif Ng is not None:
                netins, netdel = None, Ng.localCheckpoint(eager=True)
            else:
                state.last_epoch = m1
                self.next_epoch()
                return True
        finally:
            for v in made:
                spark.catalog.dropTempView(v)
        state.last_epoch = m1
        return self._publish_net(state, netins, netdel)

    # -- SELECT DISTINCT MVs: touched-value membership recompute --------

    # Same discipline as _INCU_BLOCKERS minus DISTINCT (which is the
    # shape itself — nested DISTINCT is rejected separately) plus
    # UNION (any set-op demotes).
    _INCD_BLOCKERS = re.compile(
        r"\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|JOIN|OVER|LATERAL"
        r"|UNION|INTERSECT|EXCEPT|TUMBLE|HOP|SESSION_WINDOW"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE)\b"
        r"|\b(?:NOW|RANDN?|RANDOM|UUID|UNIX_TIMESTAMP)\s*\("
        r"|\(\s*SELECT",
        re.I,
    )
    _INCD_BRANCH = re.compile(
        r"^\s*SELECT\s+DISTINCT\s+(?P<sel>.+?)\s+FROM\s+(?P<tbl>[\w.]+)"
        r"(?:\s+(?:AS\s+)?(?P<alias>\w+))?"
        r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
        re.I | re.S,
    )

    def _parse_distinct(self, stmt: str) -> dict | None:
        """Incremental plan for ``SELECT DISTINCT exprs FROM t
        [WHERE …]`` — the dimension-extraction view (the reference's
        MV surface is arbitrary SELECT text,
        /root/reference/risingwave/core.py:453-455).

        Delta rule: a value tuple's MEMBERSHIP depends only on the
        base rows that project to it, and every row of this batch
        projects into π(σ_WHERE(Δ⁺ ∪ Δ⁻)) — the TOUCHED values. The
        stored result is exactly the pre-batch membership set, so the
        refresh needs no old-state reconstruction at all:

            present_new = distinct(π(σ_WHERE(t_post)) ⋉ touched)
            netins = present_new ∖ (stored ⋉ touched)
            netdel = (stored ⋉ touched) ∖ present_new

        SCALE: one projection scan of the base with the touched
        probe semi-joined BELOW the distinct (broadcast hash semi —
        the distinct then runs over matching rows only, no full
        distinct shuffle), plus two diffs over touched-sized sets.

        Armable: single table, deterministic select list (volatile
        functions blocked by regex; aggregates rejected structurally —
        the analyzed plan must carry no Aggregate/Window beyond the
        DISTINCT's own), no joins/set-ops/GROUP BY."""
        if self._INCD_BLOCKERS.search(stmt):
            return None
        bm = self._INCD_BRANCH.match(stmt)
        if not bm:
            return None
        if re.search(r"\bDISTINCT\b", bm.group("sel"), re.I):
            return None  # nested DISTINCT: not this shape
        tbl = bm.group("tbl")
        alias = bm.group("alias") or tbl.split(".")[-1]
        if alias.upper() in self._RESERVED_ALIASES or alias.upper() in (
            "UNION", "ALL", "SELECT", "FROM", "DISTINCT"
        ):
            return None
        plan = {
            "sel": bm.group("sel").strip(),
            "tbl_fq": self.qualify(tbl),
            "alias": alias,
            "where": (bm.group("where") or "").strip() or None,
        }
        try:
            df = self.spark.sql(self._incd_stmt(plan, plan["tbl_fq"]))
            pstr = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            return None
        # The Deduplicate node is the DISTINCT itself; any Aggregate/
        # Window means an expression this rule cannot maintain.
        if "Aggregate" in pstr or "Window" in pstr:
            return None
        if len(set(df.columns)) != len(df.columns):
            return None  # duplicate output names: ambiguous semi join
        return plan

    def _incd_stmt(
        self, plan: dict, view: str, distinct: bool = True
    ) -> str:
        kw = "DISTINCT " if distinct else ""
        q = (
            f"SELECT {kw}{plan['sel']} FROM {view} AS {plan['alias']}"
        )
        if plan["where"]:
            q += f" WHERE {plan['where']}"
        return q

    def _refresh_incremental_distinct(self, state: MVState) -> bool:
        with self._lock:
            return self._refresh_incremental_distinct_locked(state)

    def _refresh_incremental_distinct_locked(self, state: MVState) -> bool:
        plan = state.inc_distinct
        spark = self.spark
        fq = state.fq
        p = self._pending(
            state, "inc_distinct", [self.changelog_name(plan["tbl_fq"])]
        )
        if isinstance(p, bool):
            return p
        m1, (d,) = p
        d = d.drop("op", "rw_timestamp")
        tag = "_".join(_split_fq(fq))
        v_d = f"__rw_dx_d_{tag}"
        v_t = f"__rw_dx_t_{tag}"
        d.createOrReplaceTempView(v_d)
        try:
            touched = (
                spark.sql(self._incd_stmt(plan, v_d))
                .localCheckpoint(eager=True)
            )
        finally:
            spark.catalog.dropTempView(v_d)
        if touched.isEmpty():
            state.last_epoch = m1
            self.next_epoch()
            return True
        out_cols = touched.columns

        def restrict(df: DataFrame) -> DataFrame:
            probe = touched.select(
                *[F.col(c).alias(f"__rw_dxp_{i}")
                  for i, c in enumerate(out_cols)]
            ).dropDuplicates()
            cond = None
            for i, c in enumerate(out_cols):
                e = F.col(c).eqNullSafe(F.col(f"__rw_dxp_{i}"))
                cond = e if cond is None else cond & e
            return df.join(probe, cond, "left_semi")

        spark.catalog.refreshTable(plan["tbl_fq"])
        base = spark.table(plan["tbl_fq"])
        base.createOrReplaceTempView(v_t)
        try:
            # π(σ_WHERE(t)) WITHOUT the distinct, semi-restricted to
            # touched values BEFORE deduplicating — the distinct then
            # runs over matching rows only.
            present_new = (
                restrict(
                    spark.sql(self._incd_stmt(plan, v_t, distinct=False))
                )
                .dropDuplicates()
                .localCheckpoint(eager=True)
            )
        finally:
            spark.catalog.dropTempView(v_t)
        present_old = restrict(spark.table(fq))
        netins = present_new.exceptAll(present_old).localCheckpoint(
            eager=True
        )
        netdel = present_old.exceptAll(present_new).localCheckpoint(
            eager=True
        )
        state.last_epoch = m1
        return self._publish_net(state, netins, netdel)

    def create_mv(
        self,
        name: str,
        stmt: str,
        ignore_exist: bool = True,
        schema_name: str | None = None,
    ) -> None:
        fq = self.qualify(name, schema_name)
        stmt, emit_on_close = RW.extract_emit_on_close(stmt)
        if fq in self.mvs or self.spark.catalog.tableExists(fq):
            if ignore_exist:
                if fq not in self.mvs and self.spark.catalog.tableExists(fq):
                    # table exists from a previous engine instance; re-register
                    out_cols = [f.name for f in self.spark.table(fq).schema.fields]
                    self._register_existing_mv(
                        fq, RW.rewrite_query(stmt, self.version_string),
                        self._infer_key_cols(stmt, out_cols), emit_on_close,
                    )
                return
            raise RuntimeError(f"materialized view {fq} already exists")
        with self._in_default_schema():
            rewritten = RW.rewrite_query(stmt, self.version_string)
            state = MVState(fq, rewritten, None, emit_on_close)
            # time-travel anchor: the view exists from this engine epoch on
            state.created_epoch = self.current_epoch
            armed = None if emit_on_close else self._arm(state)
            if armed is None:
                df, views, finalize = self.spark.sql(rewritten), [], None
                if emit_on_close:
                    df = self._close_filter(state, df)
            else:
                df, views, finalize = armed
            state.key_cols = self._infer_key_cols(stmt, df.columns)
            self._clear_stale_location(fq)
            try:
                df.write.format("parquet").saveAsTable(fq)
            finally:
                for v in views:
                    self.spark.catalog.dropTempView(v)
            self._ensure_changelog(fq)
            if finalize is not None:
                finalize()
        self.mvs[fq] = state

    def _register_existing_mv(
        self, fq: str, stmt: str, key_cols: list[str] | None,
        emit_on_close: bool,
    ) -> MVState:
        """Register an MV whose table a previous engine created. No
        plan is armed: its first refresh re-arms one (_arm).
        recovered_epoch is the MV changelog's max (see MVState)."""
        st = MVState(fq, stmt, key_cols, emit_on_close)
        try:
            mv_cl = self.changelog_name(fq)
            if self.spark.catalog.tableExists(mv_cl):
                st.recovered_epoch = self._changelog_max_epoch(mv_cl)
        except Exception:  # noqa: BLE001 — probe only
            st.recovered_epoch = None
        self.mvs[fq] = st
        return st

    def _arm(self, state: MVState):
        """Decide the incremental plan of ``state`` and build its
        result from a freshly pinned induction base. CREATE
        MATERIALIZED VIEW runs it for the initial materialization, and
        the snapshot-diff refresh runs it to re-arm an MV that has no
        plan: after an engine restart (MVState restores with every
        plan None; the reference server's MVs likewise stay
        incremental across restarts, risingwave/core.py:453-455 of the
        reference SDK) or after a vacuum demotion. The first shape in _SHAPES whose parser accepts
        state.stmt decides.

        Returns (result, views, finalize), or None when no plan can
        arm. The caller writes ``result`` (it reads the pinned
        snapshots through ``views``, which the caller drops after the
        write), sets state.key_cols, publishes, then calls
        ``finalize()`` to arm the plan with last_epoch = the pinned
        watermark. Permanent ineligibility (no shape, upsert base,
        inexact SUM types, key columns other than the plan's) sets
        state.fastpath_blocked, so the re-arm runs at most once; a
        base changelog that is still missing does not — it may appear
        with the first insert."""
        spark = self.spark
        for shape in _SHAPES:
            plan = getattr(self, shape.parse)(state.stmt)
            # the driver-side plan covers a superset of agg shapes only
            # via GLOBAL aggregates, and shares the agg shape's snapshot
            direct = (
                self._parse_direct_agg(state.stmt)
                if shape.attr == "inc" else None
            )
            if plan is not None or direct is not None:
                break
        else:
            state.fastpath_blocked = True
            return None
        bases = list(dict.fromkeys(
            shape.bases(plan) if plan is not None else [direct["base_fq"]]
        ))
        if any(b in self.upsert_meta for b in bases):
            state.fastpath_blocked = True
            return None
        cls = [self.changelog_name(b) for b in bases]
        if not all(spark.catalog.tableExists(cl) for cl in cls):
            return None  # may appear after the first insert
        # Consistent induction base: epoch watermark and table data
        # are pinned under the same lock that publishes inserts, so the
        # result corresponds exactly to "all changelog epochs <= m0" —
        # the base the delta merge relies on. Prior UPDATE/DELETE
        # history is free (the base is the TABLE snapshot, not a
        # changelog fold; every refresh path is retraction-capable),
        # and nothing scans the changelog here. No vacuum-floor
        # condition either: the refresh paths read only the delta
        # suffix > last_epoch, and m0 is the current max, so even a
        # fully vacuumed history re-arms — a vacuum demotion is a
        # one-flush fallback, not a permanent one.
        m0 = 0
        snaps: dict[str, DataFrame] = {}
        with self._lock:
            for b, cl in zip(bases, cls):
                # include the vacuum floor: a truncated changelog can
                # read max < floor, but every epoch <= floor is folded
                # into the lock-pinned snapshot by construction — an
                # understated watermark would trip the refresh-time
                # floor check forever (demote/re-arm every flush)
                m0 = max(m0, self._changelog_max_epoch(cl) or 0,
                         self.vacuum_floor.get(cl, 0))
                spark.catalog.refreshTable(b)
                snaps[b] = spark.table(b).localCheckpoint(eager=True)
        tag = "_".join(_split_fq(state.fq))
        # Schema-qualified so same-named MVs in different schemas don't
        # share a session-global temp view.
        views = {b: f"__rw_arm{i}_{tag}" for i, b in enumerate(bases)}
        try:
            for b, v in views.items():
                snaps[b].createOrReplaceTempView(v)
            df = spark.sql(
                shape.initial(self, plan, views) if plan is not None
                else self._direct_stmt(direct, views[bases[0]])
            )
            if (
                shape.grouped and plan is not None
                and not self._fastpath_types_ok(plan, df)
            ):
                plan = None
            if direct is not None and not self._direct_types_ok(direct, df):
                direct = None
            aux = None
            if direct is not None and any(
                fn == "avg" for fn in direct["kinds"].values()
            ):
                # sum/count companions from the SAME pinned snapshot the
                # visible result materializes from; an oversize grouped
                # result (which the refresh would reject anyway) leaves
                # the MV on the Spark paths.
                aux = self._direct_collect_aux(direct, views[bases[0]])
                if aux is None:
                    direct = None
        except BaseException:
            for v in views.values():
                spark.catalog.dropTempView(v)
            raise

        def finalize() -> None:
            # Key columns that exist but differ from the plan's group
            # keys would make the snapshot-diff fallback pair-diff on
            # another key set — emission contracts must agree.
            keys = state.key_cols
            armed = plan
            if shape.grouped and armed is not None and not (
                keys and set(keys) == set(armed["keys"])
            ):
                armed = None
            d = direct
            if d is not None and keys and set(keys) != set(d["keys"]):
                d = None
            if armed is None and d is None:
                state.fastpath_blocked = True
                return
            setattr(state, shape.attr, armed)
            state.inc_direct = d
            state.direct_aux = aux if d is not None else None
            state.set_location_ok = None  # new arm: probe again
            state.direct_result = None
            state.last_epoch = m0

        return df, list(views.values()), finalize

    def drop_mv(self, name: str, schema_name: str | None = None) -> None:
        fq = self.qualify(name, schema_name)
        self.mvs.pop(fq, None)
        self.spark.sql(f"DROP TABLE IF EXISTS {fq}")
        self.spark.sql(f"DROP TABLE IF EXISTS {self.changelog_name(fq)}")
        self._forget(fq, self.changelog_name(fq))

    # -- watermarks + EMIT ON WINDOW CLOSE (RW append-only MVs) ------------

    def _watermark_for(self, stmt: str):
        """Current watermark for an MV definition: for every
        watermark-declared table the statement references, take
        max(event_col) - delay; the MV's watermark is the minimum
        across them (a join can only be as complete as its most
        lagging input). None if no referenced table has a watermark
        or a referenced table is empty (nothing can close yet)."""
        import datetime as _dt

        wm = None
        for fq_t, meta in self.watermarks.items():
            short = _split_fq(fq_t)[1]
            if not re.search(rf"\b{re.escape(fq_t)}\b|\b{re.escape(short)}\b", stmt):
                continue
            if not self.spark.catalog.tableExists(fq_t):
                return None
            self.spark.catalog.refreshTable(fq_t)
            mx = self.spark.table(fq_t).agg(F.max(meta["col"])).first()[0]
            if mx is None:
                return None
            t_wm = mx - _dt.timedelta(microseconds=meta["delay_us"])
            wm = t_wm if wm is None or t_wm < wm else wm
        return wm

    def _close_filter(self, state: MVState, df: DataFrame) -> DataFrame:
        """Restrict an EMIT ON WINDOW CLOSE result to finalized
        windows: window_end at or below the current watermark."""
        if "window_end" not in df.columns:
            raise RuntimeError(
                "EMIT ON WINDOW CLOSE requires a window_end column "
                "(tumble/hop/session windowed query)"
            )
        wm = self._watermark_for(state.stmt)
        if wm is None:
            return df.limit(0)
        return df.filter(F.col("window_end") <= F.lit(wm))

    def _refresh_emit_on_close(self, state: MVState) -> None:
        """EMIT ON WINDOW CLOSE refresh: append-only. Newly finalized
        windows are appended (Insert ops); previously emitted windows
        are FROZEN — late data arriving after the watermark closed a
        window does not reopen it (RisingWave's append-only MV
        contract: post-close changes are dropped).

        Scale note: the anti-join keying on the MV's group columns is
        a broadcast of the (small) already-emitted key set against the
        newly-closed result — no full-table diff, no retractions, so
        downstream consumers (sinks, cascades) see a pure append
        stream."""
        spark = self.spark
        fq = state.fq
        new = self._close_filter(state, spark.sql(state.stmt))
        spark.catalog.refreshTable(fq)
        old = spark.table(fq)
        keys = state.key_cols or old.columns
        fresh = new.join(old.select(*keys).distinct(), on=keys, how="left_anti")
        # Materialize on executors (NOT the driver): `fresh` reads fq,
        # which the append below overwrites — the checkpoint breaks the
        # read-your-writes hazard without collecting the delta.
        delta = fresh.localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        self._publish(fq, self._tag_ops([(delta, OP_INSERT)]), rows=delta)

    def _refresh_incremental(self, state: MVState) -> bool:
        """Delta-merge refresh for a simple-agg MV — RETRACTION
        CAPABLE: insert deltas merge group-wise in O(delta); delete /
        update deltas re-aggregate ONLY the touched groups from the
        base table (pinned under the publish lock, so the snapshot is
        exactly the fold of changelog epochs <= m1). The MV therefore
        STAYS on the fast path across arbitrary DML on its base —
        never a full recompute. A group whose rows all disappear emits
        a Delete (GROUP BY semantics: empty group, no row).

        Returns True when the refresh was fully handled; False demotes
        the MV to the snapshot-diff path (state.inc cleared)."""
        inc = state.inc
        spark = self.spark
        fq = state.fq
        tag = "_".join(_split_fq(fq))
        r_keys = r_rows = None
        with self._lock:
            p = self._pending(
                state, "inc", [self.changelog_name(inc["base_fq"])]
            )
            if isinstance(p, bool):
                return p
            m1, (delta,) = p
            recomp = bool(inc.get("recompute_only"))
            if recomp:
                # Recompute-only plan (non-mergeable aggregates): EVERY
                # delta row's group is "touched" — skip the delete
                # probe, list the touched keys cheaply (keys + WHERE
                # only, no aggregate evaluation), and re-aggregate
                # those groups wholesale from the pinned base. Refresh
                # stays O(delta + touched groups' base rows).
                v_all = f"__rw_inc_touch_{tag}"
                delta.drop("op", "rw_timestamp").createOrReplaceTempView(v_all)
                try:
                    q = "SELECT DISTINCT " + ", ".join(
                        f"{col} AS {out}" for col, out in inc["key_map"]
                    ) + f" FROM {self._inc_from(inc, v_all)}"
                    if inc["where"]:
                        q += f" WHERE {inc['where']}"
                    r_keys = spark.sql(q).localCheckpoint(eager=True)
                finally:
                    spark.catalog.dropTempView(v_all)
            has_del = recomp or (
                delta.filter(
                    F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
                ).limit(1).count()
                > 0
            )
            if has_del and not recomp:
                # Touched groups = groups of retracted rows that pass
                # the MV's WHERE (rows failing it never contributed).
                v_del = f"__rw_inc_del_{tag}"
                delta.filter(
                    F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
                ).drop("op", "rw_timestamp").createOrReplaceTempView(v_del)
                try:
                    r_keys = (
                        spark.sql(self._inc_delta_stmt(inc, v_del))
                        .select(*inc["keys"])
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
                finally:
                    spark.catalog.dropTempView(v_del)
            if has_del:
                # Re-aggregate touched groups from the base TABLE —
                # still under the lock, so the table is exactly the
                # changelog fold at m1 (no concurrent publication can
                # slip rows from epochs > m1 into the snapshot).
                spark.catalog.refreshTable(inc["base_fq"])
                v_pre = None
                if inc.get("derive_tpl"):
                    # windowed MV: key columns (window_start/end) are
                    # derived, so the semi-join probe must run against
                    # the derived relation, and the re-agg statement
                    # must NOT re-wrap it (wrap=False below). When the
                    # touched-window set is SMALL, prefilter the base
                    # on the union of their ts ranges first — a
                    # pushable scan predicate (parquet min/max / time
                    # partition pruning at lakehouse scale), so the
                    # O(base) derive+semi-join becomes a near-indexed
                    # read of the touched span. Exact for tumble AND
                    # hop: row ∈ window [ws, we) ⟺ ts ∈ [ws, we); the
                    # semi-join after the derive still decides final
                    # membership.
                    pre = self._touched_window_filter(inc, r_keys)
                    rel_src = inc["base_fq"]
                    if pre is not None:
                        v_pre = f"__rw_inc_pre_{tag}"
                        spark.table(inc["base_fq"]).filter(
                            pre
                        ).createOrReplaceTempView(v_pre)
                        rel_src = v_pre
                    base_df = spark.sql(
                        "SELECT * FROM " + self._inc_from(inc, rel_src)
                    ).alias("b")
                else:
                    base_df = spark.table(inc["base_fq"]).alias("b")
                probe = r_keys.select(
                    *[F.col(out).alias(col) for col, out in inc["key_map"]]
                ).alias("t")
                cond = None
                for col, _ in inc["key_map"]:
                    e = F.col(f"b.{col}").eqNullSafe(F.col(f"t.{col}"))
                    cond = e if cond is None else (cond & e)
                v_base = f"__rw_inc_reagg_{tag}"
                base_df.join(probe, cond, "left_semi").createOrReplaceTempView(
                    v_base
                )
                try:
                    r_rows = (
                        spark.sql(self._inc_delta_stmt(inc, v_base, wrap=False))
                        .localCheckpoint(eager=True)
                    )
                finally:
                    spark.catalog.dropTempView(v_base)
                    if v_pre is not None:
                        spark.catalog.dropTempView(v_pre)
            # A co-armed avg DIRECT plan keeps sum/count companions in
            # memory; this refresh rewrites the stored result, so the
            # companions must be recomputed from the SAME lock-pinned
            # base (== the changelog fold at m1) or the next
            # small-delta direct merge would fold into stale sums.
            # None on oversize: the direct path then defers avg MVs
            # to this path, which is always correct.
            aux2 = None
            need_aux = (
                state.inc_direct is not None
                and state.direct_aux is not None
                and any(
                    fn == "avg"
                    for fn in state.inc_direct["kinds"].values()
                )
            )
            if need_aux:
                v_aux = f"__rw_inc_aux_{tag}"
                spark.catalog.refreshTable(inc["base_fq"])
                spark.table(inc["base_fq"]).createOrReplaceTempView(v_aux)
                try:
                    aux2 = self._direct_collect_aux(
                        state.inc_direct, v_aux
                    )
                finally:
                    spark.catalog.dropTempView(v_aux)
        if recomp:
            # every touched group replaces via the retract rule; the
            # merge side sees an empty (same-schema) aggregated delta
            dagg = r_rows.limit(0)
        else:
            # Insert-side delta (Insert + UpdateInsert halves); rows
            # landing in retraction-touched groups are EXCLUDED by the
            # merge (their groups are fully covered by the
            # re-aggregation above).
            view = f"__rw_inc_delta_{tag}"
            delta.filter(F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)).drop(
                "op", "rw_timestamp"
            ).createOrReplaceTempView(view)
            try:
                dagg = spark.sql(
                    self._inc_delta_stmt(inc, view)
                ).localCheckpoint(eager=True)
            finally:
                spark.catalog.dropTempView(view)
        retract = (r_keys, r_rows) if has_del else None
        self._merge_agg_delta(state, inc, dagg, m1, retract)
        if need_aux:
            state.direct_aux = aux2
            self.direct_stats["aux_rebuild"] += 1
        return True

    def _merge_agg_delta(self, state: MVState, inc: dict,
                         dagg: DataFrame, m1: int,
                         retract: tuple | None = None) -> None:
        """Group-wise merge of an aggregated delta into the stored MV
        result + changelog emission (shared by the single-table agg
        fast path and the join+agg fast path).

        ``retract`` — None, or ``(r_keys, r_rows)``: groups listed in
        ``r_keys`` are REPLACED wholesale by their re-aggregated rows
        in ``r_rows`` (a group absent from r_rows emits Delete; a new
        one emits Insert; a changed one the UpdateDelete/UpdateInsert
        pair). The insert-delta merge below runs only over groups NOT
        in r_keys, so nothing double-counts. Exactly ONE epoch is
        consumed either way."""
        spark = self.spark
        fq = state.fq
        if dagg.isEmpty() and retract is None:
            state.last_epoch = m1
            self.next_epoch()
            return  # every delta row fell to the WHERE clause
        old = spark.table(fq)
        cols = old.columns
        keys = inc["keys"]
        vals = [c for c in cols if c not in keys]
        types = {f.name: f.dataType for f in old.schema.fields}
        repl_del = repl_ins = repl_updd = repl_updi = repl_rows = None
        if retract is not None:
            r_keys, r_rows = retract
            ok = old.alias("o2")
            tk = r_keys.alias("t2")
            kcond = None
            for k in keys:
                e = F.col(f"o2.{k}").eqNullSafe(F.col(f"t2.{k}"))
                kcond = e if kcond is None else (kcond & e)
            old_t = ok.join(tk, kcond, "left_semi")
            old = ok.join(tk, kcond, "left_anti")
            dk = dagg.alias("d2")
            dcond = None
            for k in keys:
                e = F.col(f"d2.{k}").eqNullSafe(F.col(f"t2.{k}"))
                dcond = e if dcond is None else (dcond & e)
            dagg = dk.join(tk, dcond, "left_anti")
            # Replacement diff: stored touched rows vs re-aggregated
            # rows, null-safe on keys, with presence markers (a NULL
            # group key is a legitimate value, not an absence signal).
            repl_rows = r_rows.select(
                *[F.col(c).cast(types[c]).alias(c) for c in cols]
            )
            po = old_t.withColumn("__po", F.lit(1)).alias("po")
            pn = repl_rows.withColumn("__pn", F.lit(1)).alias("pn")
            rcond = None
            for k in keys:
                e = F.col(f"po.{k}").eqNullSafe(F.col(f"pn.{k}"))
                rcond = e if rcond is None else (rcond & e)
            jr = po.join(pn, rcond, "full_outer").localCheckpoint(eager=True)
            vdiff = None
            for v in vals:
                e = ~F.col(f"po.{v}").eqNullSafe(F.col(f"pn.{v}"))
                vdiff = e if vdiff is None else (vdiff | e)
            both = F.col("po.__po").isNotNull() & F.col("pn.__pn").isNotNull()
            repl_del = jr.filter(F.col("pn.__pn").isNull()).select(
                *[F.col(f"po.{c}").alias(c) for c in cols]
            )
            repl_ins = jr.filter(F.col("po.__po").isNull()).select(
                *[F.col(f"pn.{c}").alias(c) for c in cols]
            )
            changed_r = jr.filter(both & vdiff)
            repl_updd = changed_r.select(
                *[F.col(f"po.{c}").alias(c) for c in cols]
            )
            repl_updi = changed_r.select(
                *[F.col(f"pn.{c}").alias(c) for c in cols]
            )
        o = old.withColumn("__o", F.lit(1)).alias("o")
        d = dagg.alias("d")
        cond = None
        for k in keys:
            e = F.col(f"o.{k}").eqNullSafe(F.col(f"d.{k}"))
            cond = e if cond is None else (cond & e)
        j = o.join(d, cond, "right_outer")

        def merged(c: str):
            kind = inc["kinds"].get(c)
            oc, dc = F.col(f"o.{c}"), F.col(f"d.{c}")
            if kind in (None, "recompute"):
                # recompute-only alias: dagg is empty by construction
                # (all touched groups replace via retract), so this
                # expression never evaluates a row
                m = dc
            elif kind in ("sum", "count"):
                m = F.when(oc.isNull(), dc).when(dc.isNull(), oc).otherwise(oc + dc)
            elif kind == "min":
                m = F.least(oc, dc)
            else:  # max
                m = F.greatest(oc, dc)
            return (
                F.when(F.col("o.__o").isNull(), dc).otherwise(m)
                .cast(types[c])
                .alias(c)
            )

        sel = [F.col(f"d.{c}").alias(c) if c in keys else merged(c) for c in cols]
        tdf = j.select(
            *sel,
            F.col("o.__o").alias("__o"),
            *[F.col(f"o.{c}").alias(f"__old_{c}") for c in vals],
        ).localCheckpoint(eager=True)
        changed_cond = None
        for v in vals:
            e = ~F.col(v).eqNullSafe(F.col(f"__old_{v}"))
            changed_cond = e if changed_cond is None else (changed_cond | e)
        inserts = tdf.filter(F.col("__o").isNull()).select(*cols)
        changed = tdf.filter(F.col("__o").isNotNull() & changed_cond)
        upd_del = changed.select(
            *[(F.col(f"__old_{c}") if c in vals else F.col(c)).alias(c) for c in cols]
        )
        upd_ins = changed.select(*cols)
        batches = [
            (upd_del, OP_UPDATE_DELETE),
            (upd_ins, OP_UPDATE_INSERT),
            (inserts, OP_INSERT),
        ]
        if retract is not None:
            batches += [
                (repl_updd, OP_UPDATE_DELETE),
                (repl_updi, OP_UPDATE_INSERT),
                (repl_ins, OP_INSERT),
                (repl_del, OP_DELETE),
            ]

        # New result = untouched old rows + merged touched rows; only
        # touched groups are rewritten logically (at production scale
        # this staging write is a Delta/Iceberg MERGE on the keys).
        touched = tdf.filter(F.col("__o").isNull() | changed_cond)
        anti = None
        for k in keys:
            e = old[k].eqNullSafe(touched[k])
            anti = e if anti is None else (anti & e)
        new_result = old.join(touched, anti, "left_anti").unionByName(
            touched.select(*cols)
        )
        if retract is not None:
            # retraction-touched groups re-enter as their re-agg rows
            new_result = new_result.unionByName(repl_rows)
        stage = self._stage(fq, new_result)
        # One op-tagged delta, checkpointed on executors (tdf already
        # is; the branches are cheap projections of it), published as a
        # single append under the lock — no driver-side collect.
        tagged = self._tag_ops(batches).localCheckpoint(eager=True)
        self._publish(fq, None if tagged.isEmpty() else tagged, stage=stage)
        state.last_epoch = m1

    # -- incremental JOIN + AGGREGATION MVs (the star-join aggregate) --

    _INCJA_BLOCKERS = re.compile(
        r"\b(ORDER\s+BY|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|DISTINCT|"
        r"OVER|LATERAL|LEFT|RIGHT|FULL|CROSS|ASOF|AVG|STDDEV|VAR|"
        r"CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|"
        r"UNIX_TIMESTAMP)\b|\(\s*SELECT",
        re.I,
    )
    # RECOMPUTE-ONLY blockers for the join+agg plan (same idea as the
    # single-table _INC_RC_BLOCKERS): any DETERMINISTIC aggregate may
    # appear — its groups are re-aggregated wholesale, never merged —
    # so only volatiles, order-dependent/sketch aggregates, and
    # non-INNER/shape-breaking constructs stay blocked.
    # LEFT is deliberately NOT a blocker: fact-preserving LEFT joins
    # arm the recompute-only regime when every GROUP BY key comes from
    # the preserved first side (see _parse_join_agg). RIGHT/FULL stay
    # blocked — their pad side breaks the preserved-side key rule.
    _INCJA_RC_BLOCKERS = re.compile(
        r"\b(ORDER\s+BY|LIMIT|UNION|INTERSECT|EXCEPT|"
        r"OVER|LATERAL|RIGHT|FULL|CROSS|ASOF|"
        r"PERCENTILE_APPROX|APPROX_\w+|COLLECT_\w+|ARRAY_AGG|STRING_AGG|"
        r"LISTAGG|FIRST|LAST|ANY_VALUE|"
        r"CURRENT_TIMESTAMP|CURRENT_DATE|NOW|RAND|RANDOM|UUID|"
        r"UNIX_TIMESTAMP)\b|\(\s*SELECT"
        # order/tie-sensitive aggregates (same rationale as the
        # single-table RC blockers): a touched-group re-agg may break
        # ties differently from a from-scratch recompute
        r"|\bmode\s*\(|\bhistogram_numeric\s*\(|\bmax_by\s*\("
        r"|\bmin_by\s*\(|\bfirst_value\s*\(|\blast_value\s*\(",
        re.I,
    )

    _INCJA_FROM_SEG = re.compile(
        r"^\s*(?P<tbl>[\w.]+)\s+(?:AS\s+)?(?P<alias>\w+)\s*$", re.I
    )
    _INCJA_JOIN_SEG = re.compile(
        r"^\s*(?P<tbl>[\w.]+)\s+(?:AS\s+)?(?P<alias>\w+)\s+ON\s+(?P<on>.+)$",
        re.I | re.S,
    )
    _RESERVED_ALIASES = frozenset(
        ("JOIN", "ON", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "WHERE",
         "GROUP", "CROSS")
    )

    def _parse_join_agg(self, stmt: str) -> dict | None:
        """Incremental plan for ``SELECT keys, sum/count/min/max(...)
        FROM s0 JOIN s1 ON ... [JOIN s2 ON ...]* [WHERE ...] GROUP BY
        keys`` over N tables — the star-join aggregate MV (fact + any
        number of dimensions, the 100 TB norm). The N-way join delta
        (telescoping Σᵢ new₀..ᵢ₋₁ ⋈ Δᵢ ⋈ oldᵢ₊₁..ₙ₋₁) feeds the same
        group-wise merge as the single-table agg fast path. All
        column references must be alias-qualified. Non-mergeable
        deterministic aggregates (avg/stddev/percentile/…) arm the
        RECOMPUTE-ONLY regime: every delta's touched groups are
        re-aggregated wholesale from the post-batch tables (the same
        machinery the retraction branch uses), never merged."""
        if self._INCJA_RC_BLOCKERS.search(stmt):
            return None
        m = re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<frm>.+?)"
            r"(?:\s+WHERE\s+(?P<where>.+?))?"
            r"\s+GROUP\s+BY\s+(?P<grp>.+?)"
            r"(?:\s+HAVING\s+(?P<hav>.+?))?\s*;?\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            return None
        toks = re.split(
            r"\s+(LEFT(?:\s+OUTER)?\s+JOIN|INNER\s+JOIN|JOIN)\s+",
            m.group("frm"),
            flags=re.I,
        )
        segs = toks[0::2]
        hows = [
            "left" if sep.upper().startswith("LEFT") else "inner"
            for sep in toks[1::2]
        ]
        if len(segs) < 2:
            return None
        any_left = "left" in hows
        first = self._INCJA_FROM_SEG.match(segs[0])
        if not first:
            return None
        sides: list[tuple[str, str]] = [
            (self.qualify(first.group("tbl")), first.group("alias"))
        ]
        ons: list[str] = []
        for seg in segs[1:]:
            jm = self._INCJA_JOIN_SEG.match(seg)
            if not jm:
                return None
            sides.append((self.qualify(jm.group("tbl")), jm.group("alias")))
            ons.append(jm.group("on").strip())
        aliases = [al for _, al in sides]
        if len(set(aliases)) != len(aliases) or any(
            al.upper() in self._RESERVED_ALIASES for al in aliases
        ):
            return None
        # Every ON term must be an equi-condition between two DISTINCT
        # introduced aliases, and join i may only reference aliases
        # introduced by then (standard SQL scoping) — that's what makes
        # the telescoping delta rule exact.
        for i, on in enumerate(ons):
            in_scope = set(aliases[: i + 2])
            equi = 0
            for term in RW._split_and(on):
                e = re.match(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", term)
                if (
                    e
                    and e.group(1) != e.group(3)
                    and e.group(1) in in_scope
                    and e.group(3) in in_scope
                ):
                    equi += 1
                    continue
                # Non-equi residual (time bound / literal filter), as
                # in _parse_simple_join: the telescoping delta rule is
                # bilinear per side, so it holds under ANY
                # deterministic inner-join predicate, and both
                # retraction legs re-apply the FULL on-text. All refs
                # must be in scope (standard SQL join scoping keeps
                # the telescoping terms well-formed).
                if not self._INCJ_RESIDUAL.match(term):
                    return None
                refs = re.findall(r"\b(\w+)\.\w+", term)
                if not refs or any(x not in in_scope for x in refs):
                    return None
            if not equi:
                return None  # no equi key: nested loop at scale
        # collect every qualified ref; everything must be qualified.
        # Strip quoted literals FIRST (escape-aware, same split as
        # flatten below): a literal like 'o.nonexistent' must not
        # inject a phantom column into join_proj.
        alias_alt = "|".join(re.escape(a) for a in aliases)
        text = " ".join(
            filter(None, (m.group("sel"), m.group("where"), m.group("grp"),
                          m.group("hav")))
        )
        text_nolit = re.sub(r"'(?:[^']|'')*'", " ", text)
        refs = set(re.findall(rf"\b({alias_alt})\.(\w+)", text_nolit))
        bare = re.sub(rf"\b(?:{alias_alt})\.\w+", "", text_nolit)
        if re.search(r"[A-Za-z_]\w*\.", bare):
            return None  # something qualified by an unknown alias

        def flat(al: str, col: str) -> str:
            return f"__{al}_{col}"

        def flatten(txt: str) -> str:
            # substitute only OUTSIDE string literals — a literal
            # containing "alias.word" must pass through untouched
            parts = re.split(r"('(?:[^']|'')*')", txt)
            out = []
            for i, part in enumerate(parts):
                if i % 2 == 1:  # a quoted literal
                    out.append(part)
                else:
                    out.append(
                        re.sub(
                            rf"\b({alias_alt})\.(\w+)",
                            lambda mm: flat(mm.group(1), mm.group(2)),
                            part,
                        )
                    )
            return "".join(out)

        # Flatten item-by-item: a bare key ref (c.name) must be
        # aliased BACK to its original column name, or the MV's output
        # schema would silently change to the internal flat name.
        sel_items = []
        for item in RW.split_top_level(m.group("sel")):
            flat_item = flatten(item).strip()
            if re.fullmatch(r"__\w+", flat_item):
                sel_items.append(f"{flat_item} AS {item.strip().split('.')[-1]}")
            else:
                sel_items.append(flat_item)
        flat_sel = ", ".join(sel_items)
        flat_where = flatten(m.group("where").strip()) if m.group("where") else None
        flat_grp = flatten(m.group("grp").strip())
        flat_hav = flatten(m.group("hav").strip()) if m.group("hav") else None
        grp_terms = [g.strip() for g in RW.split_top_level(flat_grp)]
        if any(not g or g.isdigit() for g in grp_terms):
            return None
        grp_norm = [_norm_sql(g) for g in grp_terms]
        bare_grp = {g for g in grp_terms if re.fullmatch(r"\w+", g)}
        kinds: dict[str, str] = {}
        keys: list[str] = []
        key_map: list[tuple[str, str]] = []  # (flat col, output name)
        derive_items: list[tuple[str, str]] = []  # (flat expr, alias)
        sel_out: list[str] = []
        recompute_only = (
            self._INCJA_BLOCKERS.search(stmt) is not None
            or flat_hav is not None
        )
        for item in RW.split_top_level(flat_sel):
            am = self._INC_AGG_ITEM.match(item)
            if am:
                if re.match(r"\s*DISTINCT\b", am.group("arg"), re.I):
                    # sum/count(DISTINCT x): deterministic but NOT
                    # group-wise mergeable — recompute regime only
                    kinds.setdefault(am.group("alias"), "recompute")
                    recompute_only = True
                    sel_out.append(item.strip())
                    continue
                kinds[am.group("alias")] = am.group("fn").lower()
                sel_out.append(item.strip())
                continue
            km = self._INC_KEY_ITEM.match(item)
            if km and km.group("col") in bare_grp:
                out = km.group("alias") or km.group("col")
                keys.append(out)
                key_map.append((km.group("col"), out))
                sel_out.append(item.strip())
                continue
            em = self._INC_EXPR_KEY.match(item)
            if em is not None:
                ex_raw = em.group("expr").strip()
                ex, alias = _norm_sql(ex_raw), em.group("alias")
                if ex in grp_norm or alias.lower() in grp_norm:
                    # Expression GROUP BY key over the flat namespace
                    # (date_trunc('day', __o_ts) etc.): derive it per
                    # row on the joined relation — the same template
                    # rule as the single-table path. Flat columns all
                    # start with "__", so a plain alias cannot collide;
                    # braces would break the str.format template.
                    if (
                        "{" in ex_raw
                        or "}" in ex_raw
                        or alias.startswith("__")
                    ):
                        return None
                    derive_items.append((ex_raw, alias))
                    grp_norm = [
                        alias.lower() if t in (ex, alias.lower()) else t
                        for t in grp_norm
                    ]
                    keys.append(alias)
                    key_map.append((alias, alias))
                    sel_out.append(alias)
                    continue
            rm = self._INC_RC_ITEM.match(item)
            if rm is None or rm.group("alias") in kinds:
                return None
            recompute_only = True
            kinds.setdefault(rm.group("alias"), "recompute")
            sel_out.append(item.strip())
        if not kinds or not keys:
            return None
        if any(not re.fullmatch(r"\w+", t) for t in grp_norm):
            return None  # an unselected expression key cannot key rows
        # merge keys must uniquely identify stored rows: every GROUP
        # BY column selected exactly once and no duplicate output
        # names (GROUP BY o.region, u.region emitting one 'region'
        # would let one delta group match multiple stored rows)
        if (
            len(keys) != len(grp_terms)
            or len(set(keys)) != len(keys)
            or len(set(kinds) & set(keys)) > 0
        ):
            return None
        if any_left:
            # LEFT join+agg (the counts-including-zero reporting view,
            # e.g. dim LEFT JOIN fact GROUP BY dim keys): sound only on
            # the recompute regime — a partner-side insert can flip a
            # pad with no retraction for the merge rule to see — and
            # only when every GROUP BY key derives from the PRESERVED
            # first side: a padded-side key would send a retracted pad
            # row to a different (NULL-keyed) group than its
            # replacement, and the touched-key derivation below maps
            # deltas to groups through the preserved side.
            recompute_only = True
            foreign = {
                flat(al, col) for al, col in refs if al != aliases[0]
            }
            for fc, _out in key_map:
                src = fc
                for e, a in derive_items:
                    if a == fc:
                        src = e
                        break
                if any(
                    re.search(rf"\b{re.escape(f)}\b", src)
                    for f in foreign
                ):
                    return None
        join_proj = ", ".join(
            f"{al}.{col} AS {flat(al, col)}" for al, col in sorted(refs)
        )
        derive_tpl = None
        if derive_items:
            derive_tpl = (
                "(SELECT *, "
                + ", ".join(f"{e} AS {a}" for e, a in derive_items)
                + " FROM {0})"
            )
        return {
            "sides": sides,  # [(fq, alias), ...] in FROM order
            "ons": ons,  # on-condition for join i (binds sides[i+1])
            "hows": hows,  # "inner" | "left" per join, FROM order
            "join_proj": join_proj,
            "sel": ", ".join(sel_out) if derive_items else flat_sel,
            "where": flat_where,
            "grp": ", ".join(grp_norm) if derive_items else flat_grp,
            "having": flat_hav,
            "derive_tpl": derive_tpl,
            "derive_items": derive_items,
            "kinds": kinds,
            "keys": keys,
            "key_map": key_map,
            "recompute_only": recompute_only,
        }

    def _incja_join_stmt(
        self,
        incja: dict,
        views: list[str],
        force_inner_at: int | None = None,
    ) -> str:
        """Join all N sides' views under their original aliases,
        projecting the flattened column namespace. ``force_inner_at``
        downgrades that ONE join index to INNER — used by the
        touched-key derivations when a DELTA occupies the bound side:
        the rows a partner-side delta can affect are exactly the
        preserved rows MATCHING it (a pad flip needs a match), so the
        inner restriction is complete and avoids touching every
        preserved row."""
        aliases = [al for _, al in incja["sides"]]
        hows = incja.get("hows") or ["inner"] * len(incja["ons"])
        frm = f"{views[0]} AS {aliases[0]}"
        for i, on in enumerate(incja["ons"]):
            kw = (
                "LEFT JOIN"
                if hows[i] == "left" and i != force_inner_at
                else "JOIN"
            )
            frm += f" {kw} {views[i + 1]} AS {aliases[i + 1]} ON {on}"
        return f"SELECT {incja['join_proj']} FROM {frm}"

    def _incja_from(self, incja: dict, view: str) -> str:
        """The FROM relation for a joinagg statement over ``view``:
        the view itself, or the expression-key derive template applied
        to it (deterministic per-row columns over the flat namespace —
        the single-table derive rule, round 12)."""
        tpl = incja.get("derive_tpl")
        return tpl.format(view) if tpl else view

    def _incja_agg_stmt(self, incja: dict, view: str,
                        gate: bool = True, wrap: bool = True) -> str:
        """``gate=False`` omits the HAVING clause — used when deriving
        TOUCHED KEYS from retracted tuples, where gating on the
        retracted subset's aggregate (not the group's real state)
        would hide groups that must be re-examined. Everywhere else
        (initial materialization, wholesale touched-group re-agg)
        HAVING applies at publication time: a re-aggregated group
        failing it vanishes from r_rows and the merge bag-diff emits
        its Delete. ``wrap=False`` when ``view`` ALREADY carries the
        derived expression-key columns (re-deriving would duplicate
        the alias)."""
        src = self._incja_from(incja, view) if wrap else view
        q = f"SELECT {incja['sel']} FROM {src}"
        if incja["where"]:
            q += f" WHERE {incja['where']}"
        q += f" GROUP BY {incja['grp']}"
        if gate and incja.get("having"):
            q += f" HAVING {incja['having']}"
        return q

    @staticmethod
    def _fastpath_types_ok(plan: dict, df: DataFrame) -> bool:
        """Sums must be exact types: incremental double accumulation
        would drift from a from-scratch recompute by float rounding,
        breaking bit-reproducibility (SCALE.md rule 5)."""
        types = {f.name: f.dataType for f in df.schema.fields}
        # recompute-only plans never run a merge rule — touched groups
        # are re-aggregated by Spark itself — so float sums are exact
        # there (same arithmetic as the snapshot recompute).
        recompute = bool(plan.get("recompute_only"))
        for col, kind in plan["kinds"].items():
            if col not in types or (
                kind == "sum"
                and not recompute
                and isinstance(types[col], (T.DoubleType, T.FloatType))
            ):
                return False
        return True

    def _refresh_incremental_joinagg(self, state: MVState) -> bool:
        """N-way join delta → aggregated delta → group-wise merge —
        RETRACTION CAPABLE: UPDATE/DELETE on ANY base keeps the MV on
        the fast path. Insert deltas follow the telescoping rule
        (Σᵢ new₀..ᵢ₋₁ ⋈ Δᵢ ⋈ oldᵢ₊₁..ₙ₋₁); groups touched by a
        retracted join tuple — keys of each side's deleted rows joined
        against the other sides' (current ∪ just-deleted) rows, a
        cheap superset — are re-aggregated from the post-batch state
        and REPLACED via the shared _merge_agg_delta retract rule
        (min/max exact too; an emptied group emits Delete).

        SCALE DESIGN: partner-side relations are pinned TABLE
        snapshots, never changelog folds — the table IS the fold of
        all published epochs (_publish swaps table + changelog under
        one hold of the engine lock), so cost is O(table), not
        O(history); pre-batch state is recovered algebraically as
        (table + Δdel) − Δins — add-before-subtract, or bag
        subtraction drops phantom rows (engine.py:2161 invariant).
        Terms whose Δᵢ is empty are SKIPPED
        OUTRIGHT and their partner tables never pinned or scanned: the
        common fact-only flush touches the fact delta and the (small)
        dimension tables only. When every GROUP BY key comes from ONE
        join side (the star-schema norm), the retraction re-agg
        semi-restricts that side to the touched keys BEFORE the join.

        Vacuum guard: only the un-consumed delta suffix comes from the
        changelog, so _pending's demotion rule (floor > last_epoch)
        applies — and the re-arm probe recovers the fast path at the
        next refresh.

        The publish lock is held for the WHOLE refresh (re-entrant):
        partner tables are read lazily with no snapshot copies, and
        stay consistent because every publication commits through
        _publish, under the same lock."""
        with self._lock:
            return self._refresh_incremental_joinagg_locked(state)

    def _refresh_incremental_joinagg_locked(self, state: MVState) -> bool:
        incja = state.inc_joinagg
        spark = self.spark
        fq = state.fq
        n = len(incja["sides"])
        bases = [b for b, _ in incja["sides"]]
        p = self._pending(
            state, "inc_joinagg", [self.changelog_name(b) for b in bases]
        )
        if isinstance(p, bool):
            return p
        m1, deltas = p
        ins_rows = [
            d.filter(F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)).drop(
                "op", "rw_timestamp"
            )
            for d in deltas
        ]
        del_rows = [
            d.filter(F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)).drop(
                "op", "rw_timestamp"
            )
            for d in deltas
        ]
        has_ins = [not r.isEmpty() for r in ins_rows]
        has_del_i = [not r.isEmpty() for r in del_rows]
        has_del = any(has_del_i)
        # (The enclosing wrapper holds the lock — tables below are read
        # lazily, no snapshot copies, consistent through publication.)
        # Expose only the sides some term actually
        # reads: all sides when retracting (or on the recompute-only
        # plan, whose re-agg reads every side), otherwise the partners
        # of sides with a non-empty insert delta.
        recomp = bool(incja.get("recompute_only"))
        need = set()
        if has_del or (recomp and any(has_ins)):
            need = set(range(n))
        else:
            for i in range(n):
                if has_ins[i]:
                    need |= {j for j in range(n) if j != i}
        tabs: dict[int, DataFrame] = {}
        for j in sorted(need):
            spark.catalog.refreshTable(bases[j])
            tabs[j] = spark.table(bases[j])
        tag = "_".join(_split_fq(fq))
        v_dins = [f"__rw_ja_d{i}_{tag}" for i in range(n)]
        v_old = [f"__rw_ja_o{i}_{tag}" for i in range(n)]
        v_new = [f"__rw_ja_n{i}_{tag}" for i in range(n)]
        made: list[str] = []
        for i in range(n):
            if has_ins[i]:
                ins_rows[i].createOrReplaceTempView(v_dins[i])
                made.append(v_dins[i])
            if i in tabs:
                tabs[i].createOrReplaceTempView(v_new[i])
                made.append(v_new[i])
                # pre-batch state, algebraically: (table + Δdel) − Δins
                # — union the deletes back BEFORE subtracting inserts
                # so a same-batch insert/delete/re-insert of one value
                # (ins-count > post-batch count) still subtracts fully;
                # exceptAll floors at zero, so the other order leaves a
                # phantom pre-batch row.
                old_i = tabs[i]
                if has_del_i[i]:
                    old_i = old_i.unionByName(del_rows[i])
                if has_ins[i]:
                    old_i = old_i.exceptAll(ins_rows[i])
                old_i.createOrReplaceTempView(v_old[i])
                made.append(v_old[i])
        retract = None
        v_delta = f"__rw_ja_delta_{tag}"
        try:
            # Telescoping delta over the NON-EMPTY insert sides only.
            join_delta = None
            for i in range(n):
                if not has_ins[i]:
                    continue
                term_views = v_new[:i] + [v_dins[i]] + v_old[i + 1:]
                term = spark.sql(self._incja_join_stmt(
                    incja, term_views,
                    force_inner_at=i - 1 if i > 0 else None,
                ))
                join_delta = (
                    term if join_delta is None
                    else join_delta.unionByName(term)
                )
            if recomp:
                # RECOMPUTE-ONLY: touched groups = keys of the
                # telescoping insert delta (WHERE applied) ∪ the
                # retracted-tuple superset; re-aggregate them wholesale
                # from the post-batch tables — no merge rule ever runs.
                dagg = None
                tkparts: list[DataFrame] = []
                if join_delta is not None:
                    join_delta = join_delta.localCheckpoint(eager=True)
                    join_delta.createOrReplaceTempView(v_delta)
                    try:
                        q = "SELECT DISTINCT " + ", ".join(
                            f"{fc} AS {out}"
                            for fc, out in incja["key_map"]
                        ) + f" FROM {self._incja_from(incja, v_delta)}"
                        # LEFT plans must NOT narrow touched keys by
                        # WHERE: an anti-join filter (dim.x IS NULL)
                        # excludes exactly the groups whose pads this
                        # delta flips. Over-touching is harmless.
                        if incja["where"] and "left" not in incja.get(
                            "hows", []
                        ):
                            q += f" WHERE {incja['where']}"
                        tkparts.append(
                            spark.sql(q).localCheckpoint(eager=True)
                        )
                    finally:
                        spark.catalog.dropTempView(v_delta)
                if has_del:
                    tkparts.append(self._joinagg_del_touched(
                        incja, tag, tabs, del_rows, has_del_i
                    ))
                if tkparts:
                    touched = tkparts[0]
                    for t in tkparts[1:]:
                        touched = touched.unionByName(t)
                    touched = touched.distinct().localCheckpoint(eager=True)
                    retract = (
                        touched,
                        self._joinagg_reagg(incja, tag, tabs, touched),
                    )
            else:
                if join_delta is None:
                    dagg = None
                else:
                    join_delta = join_delta.localCheckpoint(eager=True)
                    join_delta.createOrReplaceTempView(v_delta)
                    try:
                        dagg = spark.sql(
                            self._incja_agg_stmt(incja, v_delta)
                        ).localCheckpoint(eager=True)
                    finally:
                        spark.catalog.dropTempView(v_delta)
                if has_del:
                    retract = self._joinagg_retract(
                        incja, tag, tabs, del_rows, has_del_i
                    )
        finally:
            for v in made:
                spark.catalog.dropTempView(v)
        if dagg is None and retract is None:
            state.last_epoch = m1
            self.next_epoch()
            return True
        if dagg is None:
            # delete-only batch: empty insert delta with the MV schema
            dagg = spark.table(fq).limit(0)
        self._merge_agg_delta(state, incja, dagg, m1, retract)
        return True

    def _joinagg_retract(
        self,
        incja: dict,
        tag: str,
        tabs: dict[int, DataFrame],
        del_rows: list[DataFrame],
        has_del_i: list[bool],
    ):
        """(touched_keys, re_agg) for an N-way join+agg refresh with
        deletes. Touched groups come from the retracted-tuple SUPERSET:
        each side's deleted rows joined against the other sides'
        (current table ∪ just-deleted) rows — the union covers every
        partner counted in the stored result (pre-batch rows are
        current or just-deleted) AND intra-batch insert+delete pairs.
        Over-approximation is harmless: an untouched group re-agg's to
        its stored value and emits nothing."""
        touched = self._joinagg_del_touched(
            incja, tag, tabs, del_rows, has_del_i
        )
        return touched, self._joinagg_reagg(incja, tag, tabs, touched)

    def _joinagg_del_touched(
        self,
        incja: dict,
        tag: str,
        tabs: dict[int, DataFrame],
        del_rows: list[DataFrame],
        has_del_i: list[bool],
    ) -> DataFrame:
        spark = self.spark
        n = len(del_rows)

        def partner(i: int) -> DataFrame:
            df = tabs[i]
            if has_del_i[i]:
                df = df.unionByName(del_rows[i]).distinct()
            return df

        v_del = [f"__rw_jar_d{i}_{tag}" for i in range(n)]
        v_prt = [f"__rw_jar_e{i}_{tag}" for i in range(n)]
        v_pairs = f"__rw_jar_p_{tag}"
        for i in range(n):
            del_rows[i].createOrReplaceTempView(v_del[i])
            partner(i).createOrReplaceTempView(v_prt[i])
        try:
            del_tuples = None
            for i in range(n):
                if not has_del_i[i]:
                    continue
                term_views = v_prt[:i] + [v_del[i]] + v_prt[i + 1:]
                term = spark.sql(self._incja_join_stmt(
                    incja, term_views,
                    force_inner_at=i - 1 if i > 0 else None,
                ))
                del_tuples = (
                    term if del_tuples is None
                    else del_tuples.unionByName(term)
                )
            del_tuples.createOrReplaceTempView(v_pairs)
            try:
                if "left" in incja.get("hows", []):
                    # LEFT plans: keys straight off the retracted
                    # tuples, no WHERE/HAVING narrowing (a pad flip
                    # may pass the filter only AFTER the retraction —
                    # see the insert-side comment). Over-touching is
                    # harmless: untouched groups re-agg to themselves.
                    touched = (
                        spark.sql(
                            "SELECT DISTINCT " + ", ".join(
                                f"{fc} AS {out}"
                                for fc, out in incja["key_map"]
                            ) + f" FROM {self._incja_from(incja, v_pairs)}"
                        )
                        .localCheckpoint(eager=True)
                    )
                else:
                    touched = (
                        spark.sql(self._incja_agg_stmt(incja, v_pairs,
                                                       gate=False))
                        .select(*incja["keys"])
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
            finally:
                spark.catalog.dropTempView(v_pairs)
        finally:
            for v in v_del + v_prt:
                spark.catalog.dropTempView(v)
        return touched

    def _joinagg_reagg(
        self,
        incja: dict,
        tag: str,
        tabs: dict[int, DataFrame],
        touched: DataFrame,
    ) -> DataFrame:
        spark = self.spark
        n = len(incja["sides"])
        aliases = [al for _, al in incja["sides"]]
        # Re-aggregate touched groups from the post-batch TABLE
        # snapshots. If all GROUP BY keys come from ONE join side,
        # semi-restrict THAT side before the join (star-schema
        # pushdown: the join output is then exactly the touched
        # groups' tuples).
        def side_of(flat: str) -> str | None:
            for al in aliases:
                if flat.startswith(f"__{al}_"):
                    return al
            return None

        key_sides = {side_of(flat) for flat, _ in incja["key_map"]}
        srcs = [tabs[i] for i in range(n)]
        single_side = len(key_sides) == 1 and None not in key_sides
        if single_side:
            al = next(iter(key_sides))
            idx = aliases.index(al)
            base_cols = [
                (flat[len(f"__{al}_"):], out) for flat, out in incja["key_map"]
            ]
            probe = touched.select(
                *[F.col(out).alias(col) for col, out in base_cols]
            ).alias("t")
            side_df = srcs[idx].alias("s")
            cond = None
            for col, _ in base_cols:
                e = F.col(f"s.{col}").eqNullSafe(F.col(f"t.{col}"))
                cond = e if cond is None else (cond & e)
            srcs[idx] = side_df.join(probe, cond, "left_semi")
        v_src = [f"__rw_jar_s{i}_{tag}" for i in range(n)]
        for i in range(n):
            srcs[i].createOrReplaceTempView(v_src[i])
        v_jout = f"__rw_jar_jo_{tag}"
        try:
            jout = spark.sql(self._incja_join_stmt(incja, v_src))
            # expression keys: derive them on the join output BEFORE
            # the touched-key semi-join (the probe's flat name IS the
            # derived alias); the agg statement below then must not
            # re-derive (wrap=False)
            derived = bool(incja.get("derive_items"))
            for e, a in incja.get("derive_items") or ():
                jout = jout.withColumn(a, F.expr(e))
            if not single_side:
                # generic path: restrict the join OUTPUT to touched
                # groups on the flattened key columns
                jo = jout.alias("jo")
                pr = touched.select(
                    *[F.col(out).alias(flat) for flat, out in incja["key_map"]]
                ).alias("pr")
                cond = None
                for flat, _ in incja["key_map"]:
                    e = F.col(f"jo.{flat}").eqNullSafe(F.col(f"pr.{flat}"))
                    cond = e if cond is None else (cond & e)
                jout = jo.join(pr, cond, "left_semi")
            jout.createOrReplaceTempView(v_jout)
            try:
                re_agg = spark.sql(
                    self._incja_agg_stmt(incja, v_jout, wrap=not derived)
                ).localCheckpoint(eager=True)
            finally:
                spark.catalog.dropTempView(v_jout)
        finally:
            for v in v_src:
                spark.catalog.dropTempView(v)
        return re_agg

    # -- incremental TOP-N MVs (grouped ranking, bounded output) -----------
    #
    # For MVs of the shape
    #   SELECT <bare cols|*> FROM (
    #     SELECT <bare cols|*>, ROW_NUMBER() OVER (
    #         [PARTITION BY p1, ...] ORDER BY o1 [DESC] ...) AS rnk
    #     FROM one_table [WHERE ...]
    #   ) [t] WHERE rnk <= K
    # — RisingWave's streaming (group) Top-N operator, the one OVER
    # shape its server maintains incrementally with a per-group state
    # cache — a refresh re-ranks only the PARTITIONS touched by the
    # delta:
    #   * insert-only batches in the canonical SELECT * form never read
    #     the base at all: with additions only, a partition's new top-k
    #     is contained in (stored top-k ∪ inserted rows), so re-ranking
    #     those suffices — O(delta + k per touched partition);
    #   * batches with deletes/updates re-rank the touched partitions
    #     from the base table via a partition-key semi-join (the
    #     evicted k+1-th row is not stored, so refill must consult the
    #     base) — O(rows of touched partitions).
    # Either way refresh cost is independent of base size — what makes
    # a leaderboard MV viable over a 100 TB fact table. Untouched
    # partitions are never read, rewritten, or emitted. Changelog
    # emission is a per-partition multiset diff (Insert/Delete with
    # multiplicity): with ties under the ORDER BY, row_number() is not
    # deterministic (same caveat as the reference's Top-N without a
    # total order), so pairwise Update matching would be fiction.

    _TOPN_SHAPE = re.compile(
        r"^\s*SELECT\s+(?P<osel>.+?)\s+FROM\s*\(\s*"
        r"SELECT\s+(?P<isel>.+?)\s*,\s*ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(\s*"
        r"(?:PARTITION\s+BY\s+(?P<part>.+?)\s+)?ORDER\s+BY\s+(?P<ord>.+?)\s*\)"
        r"\s+AS\s+(?P<rn>\w+)\s+FROM\s+(?P<tbl>[A-Za-z_][\w.]*)"
        r"(?:\s+WHERE\s+(?P<where>.+?))?\s*\)\s*(?:AS\s+)?(?P<alias>\w+)?\s*"
        r"WHERE\s+(?P<rncol>\w+)\s*(?P<cmp><=?)\s*(?P<k>\d+)\s*;?\s*$",
        re.I | re.S,
    )
    _TOPN_BLOCKERS = re.compile(
        r"\b(JOIN|GROUP\s+BY|HAVING|UNION|INTERSECT|EXCEPT|DISTINCT|LIMIT"
        r"|LATERAL|CROSS|TUMBLE|HOP|SESSION_WINDOW"
        r"|CURRENT_TIMESTAMP|CURRENT_DATE)\b"
        r"|\b(?:NOW|RANDN?|RANDOM|UUID|UNIX_TIMESTAMP)\s*\(",
        re.I,
    )
    _TOPN_ORD_ITEM = re.compile(
        r"^\s*(?P<col>\w+)(?:\s+(?:ASC|DESC))?"
        r"(?:\s+NULLS\s+(?:FIRST|LAST))?\s*$",
        re.I,
    )

    def _parse_topn(self, stmt: str) -> dict | None:
        """Return the incremental plan for a (grouped) Top-N MV, or
        None if the statement is not (provably) one. Bare column
        identifiers only throughout: the refresh rebinds FROM to
        delta / semi-joined temp views, so qualified refs or aliases
        would dangle or re-key rows. Partition columns must survive
        both projections — the refresh identifies a stored row's
        partition from the MV output itself."""
        if self._TOPN_BLOCKERS.search(stmt):
            return None
        if len(re.findall(r"\(\s*SELECT\b", stmt, re.I)) != 1:
            return None  # nested subqueries beyond the one derived table
        if len(re.findall(r"\bOVER\b", stmt, re.I)) != 1:
            return None
        m = self._TOPN_SHAPE.match(stmt)
        if not m:
            return None
        osel, isel = m.group("osel").strip(), m.group("isel").strip()
        ordr, rn = m.group("ord").strip(), m.group("rn")
        if m.group("rncol").lower() != rn.lower():
            return None
        k = int(m.group("k")) - (1 if m.group("cmp") == "<" else 0)
        if k < 1:
            return None
        joined = " ".join(
            filter(None, (osel, isel, m.group("part"), ordr, m.group("where")))
        )
        if self._QUALIFIED_REF.search(joined):
            return None
        part_cols: list[str] = []
        if m.group("part"):
            for p in m.group("part").split(","):
                ident = p.strip()
                if not re.fullmatch(r"\w+", ident) or ident.isdigit():
                    return None
                part_cols.append(ident)
        for o in RW.split_top_level(ordr):
            om = self._TOPN_ORD_ITEM.match(o)
            if not om or om.group("col").isdigit():
                return None

        def _sel_cols(sel: str):
            if sel == "*":
                return "*"
            cols = []
            for item in RW.split_top_level(sel):
                ident = item.strip()
                if not re.fullmatch(r"\w+", ident) or ident.isdigit():
                    return None
                cols.append(ident)
            return cols

        i_cols, o_cols = _sel_cols(isel), _sel_cols(osel)
        if i_cols is None or o_cols is None:
            return None
        if i_cols != "*" and any(c not in i_cols for c in part_cols):
            return None
        if o_cols != "*":
            if i_cols != "*" and any(
                c not in set(i_cols) | {rn} for c in o_cols
            ):
                return None
            if any(c not in o_cols for c in part_cols):
                return None
        return {
            "base_fq": self.qualify(m.group("tbl")),
            "isel": isel,
            "osel": osel,
            "part_cols": part_cols,
            "ord": ordr,
            "rn": rn,
            "k": k,
            "where": (m.group("where") or "").strip() or None,
            # insert-only merge is exact only in the canonical
            # SELECT * form: stored rows then carry every base column
            # needed to re-rank against the delta.
            "merge_ok": isel == "*" and osel == "*",
        }

    def _topn_stmt(self, t: dict, view: str) -> str:
        pb = (
            f"PARTITION BY {', '.join(t['part_cols'])} "
            if t["part_cols"]
            else ""
        )
        w = f" WHERE {t['where']}" if t["where"] else ""
        return (
            f"SELECT {t['osel']} FROM (SELECT {t['isel']}, ROW_NUMBER() "
            f"OVER ({pb}ORDER BY {t['ord']}) AS {t['rn']} FROM {view}{w}) "
            f"__rw_t WHERE {t['rn']} <= {t['k']}"
        )

    @staticmethod
    def _bag_diff_ops(
        old: DataFrame, new: DataFrame, cols: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """Null-safe multiset diff old→new over ``cols``: returns
        (inserts, deletes) with multiplicity (a row appearing twice
        more in ``new`` yields two Insert rows). Shared by the
        snapshot-diff fallback and the Top-N partition-replace path."""
        oc = old.groupBy(*cols).agg(F.count("*").alias("__oc"))
        nc = new.groupBy(*cols).agg(F.count("*").alias("__nc"))
        cond = None
        for c in cols:
            e = oc[c].eqNullSafe(nc[c])
            cond = e if cond is None else (cond & e)
        j = oc.join(nc, cond, "full_outer")
        pick = [F.coalesce(oc[c], nc[c]).alias(c) for c in cols] + [
            (
                F.coalesce(nc["__nc"], F.lit(0))
                - F.coalesce(oc["__oc"], F.lit(0))
            ).alias("__delta")
        ]
        d = j.select(*pick).filter(F.col("__delta") != 0)
        expand = d.withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.abs(F.col("__delta"))))
        )
        inserts = expand.filter(F.col("__delta") > 0).select(*cols)
        deletes = expand.filter(F.col("__delta") < 0).select(*cols)
        return inserts, deletes

    def _refresh_incremental_topn(self, state: MVState) -> bool:
        """Partition-local Top-N refresh — retraction capable. Touched
        partitions (those with a delta row passing the MV's WHERE) are
        re-ranked — from stored winners ∪ inserts when the batch is
        append-only in the canonical form, else from the base table
        pinned under the publish lock — and replaced wholesale; the
        changelog gets the per-partition multiset diff. Returns True
        when handled; False demotes to snapshot-diff (vacuumed
        unconsumed epochs, same contract as the agg path)."""
        t = state.inc_topn
        spark = self.spark
        fq = state.fq
        tag = "_".join(_split_fq(fq))
        base_fq = t["base_fq"]
        part = t["part_cols"]
        with self._lock:
            p = self._pending(state, "inc_topn", [self.changelog_name(base_fq)])
            if isinstance(p, bool):
                return p
            m1, (delta,) = p
            # an insert-only batch re-ranks from stored winners (below)
            insert_only = delta.filter(
                F.col("op").isin(OP_DELETE, OP_UPDATE_DELETE)
            ).isEmpty()
            # Touched partitions: delta rows that pass the MV's WHERE —
            # rows failing it can never change a ranking.
            v_delta = f"__rw_topn_delta_{tag}"
            delta.drop("op", "rw_timestamp").createOrReplaceTempView(v_delta)
            try:
                w = f" WHERE {t['where']}" if t["where"] else ""
                qualifying = spark.sql(f"SELECT * FROM {v_delta}{w}")
                if part:
                    touched = (
                        qualifying.select(*part)
                        .distinct()
                        .localCheckpoint(eager=True)
                    )
                    any_touched = touched.limit(1).count() > 0
                else:
                    touched = None
                    any_touched = qualifying.limit(1).count() > 0
            finally:
                spark.catalog.dropTempView(v_delta)
            if not any_touched:
                self.next_epoch()
                state.last_epoch = m1
                return True
            spark.catalog.refreshTable(fq)
            old = spark.table(fq)
            cols = old.columns
            types = {f.name: f.dataType for f in old.schema.fields}
            if part:
                o = old.alias("o")
                tch = touched.alias("t")
                cond = None
                for c in part:
                    e = F.col(f"o.{c}").eqNullSafe(F.col(f"t.{c}"))
                    cond = e if cond is None else (cond & e)
                # Stored winners of touched partitions. Lazy on
                # purpose: every consumer (candidate set, diff, stage
                # write) runs before the table swap below, and the MV
                # is k·partitions rows — two scans beat a checkpoint
                # action.
                old_touched = o.join(tch, cond, "left_semi")
                old_keep = o.join(tch, cond, "left_anti")
            else:
                old_touched = old
                old_keep = old.limit(0)
            if insert_only and t["merge_ok"]:
                # Re-rank stored winners ∪ inserted rows — zero base
                # reads; exact because additions can only promote rows
                # already stored or just inserted.
                cand = old_touched.drop(t["rn"]).unionByName(
                    delta.filter(
                        F.col("op").isin(OP_INSERT, OP_UPDATE_INSERT)
                    ).drop("op", "rw_timestamp")
                )
            else:
                # Retraction (or non-canonical projection): the evicted
                # k+1-th row is not stored — re-rank the touched
                # partitions from the base table, still under the lock
                # so the snapshot is exactly the fold of epochs <= m1.
                spark.catalog.refreshTable(base_fq)
                if part:
                    b = spark.table(base_fq).alias("b")
                    bcond = None
                    for c in part:
                        e = F.col(f"b.{c}").eqNullSafe(F.col(f"t.{c}"))
                        bcond = e if bcond is None else (bcond & e)
                    cand = b.join(touched.alias("t"), bcond, "left_semi")
                else:
                    cand = spark.table(base_fq)
            v_cand = f"__rw_topn_cand_{tag}"
            cand.createOrReplaceTempView(v_cand)
            try:
                new_rows = (
                    spark.sql(self._topn_stmt(t, v_cand))
                    .select(
                        *[F.col(c).cast(types[c]).alias(c) for c in cols]
                    )
                    .localCheckpoint(eager=True)
                )
            finally:
                spark.catalog.dropTempView(v_cand)
        # Outside the lock: diff + stage write (inputs are pinned).
        inserts, deletes = self._bag_diff_ops(old_touched, new_rows, cols)
        stage = self._stage(fq, old_keep.unionByName(new_rows))
        tagged = self._tag_ops(
            [(deletes, OP_DELETE), (inserts, OP_INSERT)]
        ).localCheckpoint(eager=True)
        self._publish(fq, None if tagged.isEmpty() else tagged, stage=stage)
        state.last_epoch = m1
        return True

    def refresh_mv(self, state: MVState) -> None:
        """Recompute the MV and emit changelog deltas.

        Incremental paths first: an MV whose plan is armed (any shape
        in _SHAPES, plus the driver-side direct plan for small
        aggregates) merges the base-changelog delta since last_epoch
        into the stored result, retractions included. Otherwise
        snapshot-diff derivation (SURVEY §7 'what's hard' #1): new
        result vs stored result. With inferable group keys we emit
        RisingWave-style UpdateDelete/UpdateInsert pairs for changed
        groups; otherwise a null-safe bag diff emits Insert/Delete
        with multiplicity. A snapshot-diff refresh of an MV with no
        plan re-arms one (_arm) unless it is blocked."""
        with state.refresh_lock:
            self._refresh_mv_locked(state)
            # A completed refresh brings the stored table current: if
            # the restore-time changelog max was a crash orphan, this
            # refresh just RE-EMITTED its delta (snapshot-diff against
            # the unabsorbed table) as a successor epoch — the _mv_asof
            # dup probe now has both sides to compare. If it emitted
            # nothing, the epoch was genuinely absorbed pre-restart.
            # Either way, travel below recovered_epoch is safe again.
            state.post_restore_refreshed = True

    def _refresh_mv_locked(self, state: MVState) -> None:
        if not state.emit_on_close and state.inc_direct is not None:
            try:
                if self._refresh_direct(state):
                    return
                self.direct_stats["fallback"] += 1
            except Exception:  # pragma: no cover - defensive demotion
                logger.exception(
                    "direct refresh of %s failed; falling back", state.fq,
                )
                state.inc_direct = None
                self.direct_stats["fallback"] += 1
        try:
            with self._in_default_schema():
                self._refresh_mv_spark(state)
        finally:
            # Every non-direct publication swaps or rewrites the MV's
            # files (DROP+RENAME to the canonical location, appends),
            # so its record is stale: the direct path re-resolves it.
            self._forget(state.fq)

    def _refresh_mv_spark(self, state: MVState) -> None:
        if state.emit_on_close:
            self._refresh_emit_on_close(state)
            return
        for shape in _SHAPES:
            if getattr(state, shape.attr) is None:
                continue
            try:
                if getattr(self, shape.refresh)(state):
                    return
            except Exception:  # pragma: no cover - defensive demotion
                logger.exception(
                    "%s refresh of %s failed; demoting to snapshot-diff",
                    shape.attr, state.fq,
                )
                setattr(state, shape.attr, None)
                state.fastpath_blocked = True
        spark = self.spark
        fq = state.fq
        # The snapshot-diff recompute below folds epochs the direct
        # path's watermark knows nothing about — disarm it; the re-arm
        # pins a fresh induction base.
        state.inc_direct = None
        armed = None
        if not state.fastpath_blocked and all(
            getattr(state, s.attr) is None for s in _SHAPES
        ):
            try:
                armed = self._arm(state)
            except Exception:  # pragma: no cover - defensive
                logger.exception("fast-path re-arm of %s failed", fq)
                state.fastpath_blocked = True
        src, views, finalize = armed or (
            spark.sql(RW.rewrite_query(state.stmt, self.version_string)),
            [], None,
        )
        try:
            stage = self._stage(fq, src)
        finally:
            for v in views:
                spark.catalog.dropTempView(v)

        old = spark.table(fq)
        new = spark.table(stage)
        cols = old.columns

        if state.key_cols:
            keys = state.key_cols
            vals = [c for c in cols if c not in keys]
            o = old.alias("o").withColumn("__o", F.lit(1))
            n = new.alias("n").withColumn("__n", F.lit(1))
            cond = None
            for k in keys:
                e = o[k].eqNullSafe(n[k])
                cond = e if cond is None else (cond & e)
            j = o.join(n, cond, "full_outer")
            same = None
            for v in vals:
                e = o[v].eqNullSafe(n[v])
                same = e if same is None else (same & e)
            if same is None:
                same = F.lit(True)
            inserts = j.filter(o["__o"].isNull()).select(*[n[c] for c in cols])
            deletes = j.filter(n["__n"].isNull()).select(*[o[c] for c in cols])
            changed = j.filter(o["__o"].isNotNull() & n["__n"].isNotNull() & ~same)
            upd_del = changed.select(*[o[c] for c in cols])
            upd_ins = changed.select(*[n[c] for c in cols])
            batches = [
                (deletes, OP_DELETE),
                (upd_del, OP_UPDATE_DELETE),
                (upd_ins, OP_UPDATE_INSERT),
                (inserts, OP_INSERT),
            ]
        else:
            inserts, deletes = self._bag_diff_ops(old, new, cols)
            batches = [(deletes, OP_DELETE), (inserts, OP_INSERT)]

        # Publish the whole epoch as ONE op-tagged DataFrame in ONE
        # append: a concurrently polling cursor must never see an epoch
        # with its UpdateDelete half but not yet its UpdateInsert half
        # (it would advance past the epoch and drop the missing rows
        # forever). The checkpoint materializes the diff on executors
        # exactly once.
        tagged = self._tag_ops(batches).localCheckpoint(eager=True)
        self._publish(fq, None if tagged.isEmpty() else tagged, stage=stage)
        if finalize is not None:
            # Published from the pinned induction base: re-enter the
            # fast path with last_epoch = the pinned watermark.
            finalize()
            if state.inc_direct is not None:
                self.direct_stats["rearm"] += 1
                if state.direct_aux is not None:
                    self.direct_stats["aux_rebuild"] += 1

    # -- subscriptions -----------------------------------------------------

    def create_subscription(
        self, name: str, from_rel: str, retention_s: int = 86400, ignore_exist: bool = True
    ) -> None:
        fq = self.qualify(name)
        rel = self.qualify(from_rel)
        if fq in self.subscriptions:
            if ignore_exist:
                return
            raise RuntimeError(f"subscription {fq} already exists")
        if not self.spark.catalog.tableExists(rel):
            raise RuntimeError(f"relation {rel} does not exist")
        self._ensure_changelog(rel)
        self.subscriptions[fq] = {"rel": rel, "retention_s": retention_s}

    def drop_subscription(self, name: str) -> None:
        self.subscriptions.pop(self.qualify(name), None)

    def declare_cursor(self, cursor: str, sub: str, since: int | None = None) -> None:
        fq_sub = self.qualify(sub)
        if fq_sub not in self.subscriptions:
            raise RuntimeError(f"subscription {fq_sub} does not exist")
        rel = self.subscriptions[fq_sub]["rel"]
        # No SINCE → changes from now; SINCE p → resume strictly after p.
        pos = self.current_epoch if since is None else since
        self.cursors[cursor] = {"sub": fq_sub, "rel": rel, "pos": pos}

    @staticmethod
    def _pa_column_pylist(col) -> list:
        """pyarrow column → the python values Spark's collect() would
        produce under the UTC session: tz-aware timestamps (the
        direct-ingest files annotate UTC) become naive-UTC datetimes;
        everything else (int/float/str/bool/bytes/date/Decimal/None —
        and INT96 timestamps, which pyarrow already reads as naive
        UTC) round-trips as-is."""
        import datetime as _dt

        import pyarrow as pa

        if pa.types.is_timestamp(col.type):
            # µs precision first: ns columns (Spark's INT96 files read
            # as timestamp[ns]) otherwise surface pandas Timestamps
            # from to_pylist instead of plain datetimes
            col = col.cast(pa.timestamp("us", tz=col.type.tz))
            vals = col.to_pylist()
            if col.type.tz is not None:
                vals = [
                    v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    if v is not None else v
                    for v in vals
                ]
            return vals
        return col.to_pylist()

    def _fetch_cursor_direct(
        self, cl: str, pos: int, n: int
    ) -> tuple[list[str], list[tuple], int] | None:
        """Driver-side FETCH over an epoch-partitioned changelog:
        pending epochs come from the engine's epoch manifest
        (_changelog_epochs: published directories, registered with
        Spark or not), and each chosen epoch dir is listed once
        (_epoch_files). The file this engine last published to the
        changelog comes with the table it wrote, so the subscriber of
        a tick reads nothing from disk; other files give whole-epoch
        batching from their footer row counts and their rows through a
        pyarrow read. An IDLE poll costs
        one os.stat and ZERO jobs or catalog calls, so a thousand idle
        subscriptions put no load on the cluster; a
        non-idle poll — which on_change makes as soon as a commit
        wakes it, between the insert and its FLUSH — reads only the
        unconsumed suffix. Returns None when the
        changelog is ineligible (legacy unpartitioned layout, missing
        location) — the Spark read below is the fallback. Caller holds
        the engine lock, and epochs are published by directory rename,
        so every listed epoch is complete."""
        import pyarrow.parquet as pq

        rec = self._relation(cl)
        if rec is None or rec["parts"] != ["rw_timestamp"]:
            return None  # legacy unpartitioned changelog: Spark path
        eps = self._changelog_epochs(cl)
        if eps is None:
            return None
        cand = sorted(e for e in eps if e > pos)
        if not cand:
            return [], [], pos
        chosen: list[tuple[int, list[tuple]]] = []
        cum = 0
        for e in cand:
            files = self._epoch_files(rec["loc"], e)
            rows_e = sum(n_f for _, n_f, _ in files)
            if chosen and cum + rows_e > n:
                break
            cum += rows_e
            chosen.append((e, files))
            if cum >= n:
                break
        phys = [f.name for f in self._relation_schema(cl).fields]
        data_cols = [c for c in phys if c != "rw_timestamp"]
        out: list[tuple] = []
        for e, files in chosen:
            for f, _, t in files:
                if t is None:
                    t = pq.read_table(f)
                cols_present = {
                    name: self._pa_column_pylist(t.column(name))
                    for name in t.column_names
                }
                for i in range(t.num_rows):
                    out.append(tuple(
                        cols_present[c][i] if c in cols_present else None
                        for c in data_cols
                    ) + (e,))
        return phys, out, chosen[-1][0]

    def cursor_commits(self, cursor: str) -> int:
        """How many commits ``cursor``'s changelog has taken in this
        engine. Read it BEFORE a FETCH; after an empty FETCH, hand it
        to wait_cursor_commit."""
        cl = self.changelog_name(self.cursors[cursor]["rel"])
        with self._committed:
            return self._commits.get(cl, 0)

    def wait_cursor_commit(self, cursor: str, seen: int, timeout: float) -> bool:
        """Block until ``cursor``'s changelog commits past ``seen`` (a
        cursor_commits reading) or ``timeout`` seconds pass; True when
        a commit ended the wait. A commit made since ``seen`` was read
        — during the FETCH, say — ends it at once, so no wakeup is
        lost. Commits to other changelogs do not end it. Holds only the
        condition's lock, never the engine lock: committers take the
        condition's lock inside the engine lock."""
        cl = self.changelog_name(self.cursors[cursor]["rel"])
        with self._committed:
            return self._committed.wait_for(
                lambda: self._commits.get(cl, 0) != seen, timeout
            )

    def fetch_cursor(self, cursor: str, n: int) -> tuple[list[str], list[tuple]]:
        """FETCH n: deliver whole epochs, never splitting one across
        batches (the batch may exceed n only when a single epoch does).
        Returns (columns, rows) with rw_timestamp as the LAST column
        (progress-extraction contract, core.py:551-554)."""
        st = self.cursors[cursor]
        cl = self.changelog_name(st["rel"])
        # Read under the engine lock: epoch publication (multi-append in
        # refresh_mv) is atomic relative to this read, so a delivered
        # epoch is always complete before pos advances past it.
        with self._lock:
            direct = self._fetch_cursor_direct(cl, st["pos"], n)
            if direct is not None:
                cols, tuples, new_pos = direct
                if not tuples:
                    return [], []
                st["pos"] = new_pos
                return self._cursor_column_order(cols, tuples)
            pending = self.changelog_table(st["rel"]).filter(
                F.col("rw_timestamp") > st["pos"])
            epochs = (
                pending.groupBy("rw_timestamp")
                .agg(F.count("*").alias("n"))
                .orderBy("rw_timestamp")
                .limit(max(n, 1))
                .collect()
            )
            if not epochs:
                return [], []
            cum, last_epoch = 0, None
            for r in epochs:
                if last_epoch is not None and cum + r["n"] > n:
                    break
                cum += r["n"]
                last_epoch = r["rw_timestamp"]
            batch = (
                pending.filter(F.col("rw_timestamp") <= last_epoch)
                .orderBy("rw_timestamp")
                .collect()
            )
            st["pos"] = last_epoch
        cols = list(batch[0].__fields__)
        return self._cursor_column_order(cols, [tuple(r) for r in batch])

    @staticmethod
    def _cursor_column_order(
        cols: list[str], rows: list[tuple]
    ) -> tuple[list[str], list[tuple]]:
        """Contract: op just before rw_timestamp, rw_timestamp LAST
        (core.py:551-554 progress extraction). Physical changelog
        order can diverge after ALTER TABLE ADD COLUMN (new column
        appended after rw_timestamp) — reorder explicitly."""
        ordered = [c for c in cols if c not in ("op", "rw_timestamp")] + [
            "op", "rw_timestamp"
        ]
        if cols == ordered:
            return cols, rows
        idx = [cols.index(c) for c in ordered]
        return ordered, [tuple(r[i] for i in idx) for r in rows]

    def vacuum_changelogs(self) -> None:
        """Apply subscription retention: drop changelog epochs whose
        commit WALL TIME is older than retention seconds (reference
        semantics, core.py:500-505 — '{n}s' is an age, not an epoch
        count). Epoch commit times come from the driver-side
        epoch_wall map stamped in next_epoch; an epoch with no stamp
        (e.g. published by a previous engine instance) is treated as
        YOUNG — never destroy history whose age is unknown.

        Scale note: the cutoff is computed driver-side from the
        epoch_wall map plus one executor-side aggregate (min unstamped
        epoch) — no collect of changelog epochs — and the rewrite
        stages the surviving rows into a new table then renames."""
        for sub in self.subscriptions.values():
            cl = self.changelog_name(sub["rel"])
            if not self.spark.catalog.tableExists(cl):
                continue
            with self._lock:
                self._vacuum_one(sub, cl)
        # Prune wall stamps nothing can consult anymore: an epoch at or
        # below EVERY subscribed changelog's vacuum floor has been
        # truncated out of each changelog that decides expiry by stamp,
        # so its entry only grows driver memory and the persisted
        # catalog doc (rewritten after every DDL) without bound.
        # Unsubscribed changelogs never vacuum, hence never consult
        # stamps; a later subscription sees pre-prune epochs as
        # unknown-age = young, which over-retains but never destroys.
        subbed = {
            self.changelog_name(s["rel"]) for s in self.subscriptions.values()
        }
        if subbed and self.epoch_wall:
            floor = min(self.vacuum_floor.get(cl, 0) for cl in subbed)
            if floor > 0:
                self.epoch_wall = {
                    e: w for e, w in self.epoch_wall.items() if e > floor
                }

    def _vacuum_one(self, sub: dict, cl: str) -> None:
        """Compact one changelog to its epochs younger than the
        retention window. Runs under the engine lock (caller) so the
        drop+rename rewrite never races a polling cursor's read."""
        self._sync_changelog(cl)
        cutoff = time.time() - max(int(sub["retention_s"]), 0)
        # Expiry is decided per epoch PRESENT IN THIS CHANGELOG by
        # joining its (pruned, one-row-per-partition) epoch column
        # against the driver's wall-stamp map shipped as a DataFrame —
        # never by collecting changelog epochs to the driver, and never
        # from the global stamp map alone (stale high-numbered stamps
        # restored from a prior engine whose counter was higher would
        # poison a purely driver-side cutoff). An epoch with no stamp
        # has unknown age and survives — never destroy history whose
        # age is unknown.
        if self.epoch_wall:
            stamps = self.spark.createDataFrame(
                list(self.epoch_wall.items()),
                "rw_timestamp bigint, __rw_wall double",
            )
        else:
            stamps = self.spark.createDataFrame(
                [], "rw_timestamp bigint, __rw_wall double"
            )
        eps = (
            self.spark.table(cl)
            .select("rw_timestamp")
            .distinct()
            .join(F.broadcast(stamps), "rw_timestamp", "left")
        )
        alive = F.col("__rw_wall").isNull() | (F.col("__rw_wall") > cutoff)
        row = eps.agg(
            F.min(F.when(alive, F.col("rw_timestamp"))).alias("keep_from"),
            F.min(F.when(~alive, F.col("rw_timestamp"))).alias("first_expired"),
            F.max(F.col("rw_timestamp")).alias("max_ep"),
        ).first()
        if row["first_expired"] is None:
            return  # nothing older than the retained window
        # When EVERY epoch expires, the truncated prefix ends at the
        # changelog's own max epoch — not the global counter, which
        # may be far ahead (other objects' publications) and would
        # overstate the floor, demoting MVs whose last consumed epoch
        # is below the counter but at-or-above everything dropped.
        keep_from = (
            row["keep_from"] if row["keep_from"] is not None
            else row["max_ep"] + 1
        )
        if row["first_expired"] >= keep_from:
            # Expired epochs sit at/above the first survivor:
            # truncation is a PREFIX operation (the SINCE contract), so
            # there is nothing droppable below the survivor — no-op.
            return
        self.vacuum_floor[cl] = max(self.vacuum_floor.get(cl, 0), keep_from - 1)
        self._rewrite_table(
            cl, lambda df: df.filter(F.col("rw_timestamp") >= keep_from),
            partition_by=["rw_timestamp"],  # keep the pruning layout
        )
        # the rewrite moved the changelog's data dir, so the epoch
        # manifest must re-list (truncated epochs leave it; the new dir
        # has no marker, so the (loc, sig) check re-hydrates on first
        # use)
        self._epoch_cache.pop(cl, None)
