"""Test-data catalog: register the driver's parquet tables as views.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under an sf-dir.

At cluster scale these would be partitioned parquet/Delta datasets;
the access pattern is identical (`spark.read.parquet` → Catalyst gets
pushdown + pruning for free).
"""

from __future__ import annotations

import os
import shutil
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor
# (region=5 rows, nation=25 rows always; supplier/part/customer grow
# with sf but stay << fact tables).
ALWAYS_BROADCAST = {"region", "nation"}


# Sessions already configured by ensure_engine_conf. Held weakly on
# the session object, not its id(): a new session that lands on a dead
# one's id must not inherit its entry (a getOrCreate that returns the
# same session keeps its runtime conf, so the entry stays valid).
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_engine_conf(spark: SparkSession) -> None:
    """Runtime session settings the engine depends on, applied even when
    the caller (e.g. the verify driver) built its own SparkSession:
    UTC session timezone (oracle comparisons are naive-UTC) and Arrow
    for pandas interchange. Applied once per session — each conf.set is
    a py4j round-trip, and this is on the per-query hot path."""
    if spark in _CONFIGURED:
        return
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # See session.py: the 4.1 checkpoint-checksum writer deadlocks
    # stateful-task commits under local[N]; checksums are read at
    # query start, so a runtime set covers driver-built sessions too.
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    # events.ts is parquet TIMESTAMP(NANOS); set before ANY read so the
    # cached events DataFrame below is valid for the whole session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _CONFIGURED.add(spark)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every test table and register `<name>` temp views."""
    out: dict[str, DataFrame] = {}
    for name in TPCH_TABLES:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# session -> sf_dir whose views are currently registered (weak, as
# _CONFIGURED)
_VIEWS_READY: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Idempotent `load_tables`: registers the testdata temp views once
    per (session, sf_dir); re-registers only when the sf_dir changes.
    The per-query cost after the first call is one dict lookup."""
    if _VIEWS_READY.get(spark) == sf_dir:
        return
    load_tables(spark, sf_dir)
    _VIEWS_READY[spark] = sf_dir


# session -> {(sf_dir, name): DataFrame}, weak as _CONFIGURED (a cached
# frame references its session, which keeps the entry alive while
# the frames are cached). The testdata parquet is
# immutable, so the resolved relation — file listing, footer schema —
# is reusable for the life of the session. Without this every query
# invocation re-lists the directory and re-reads footers, a fixed
# ~50-100 ms driver-side tax per table reference that dominates
# sub-second queries (mutable engine tables do NOT come through here;
# they use spark.table + refreshTable).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# Ingest-time layout optimization. The driver's testdata writes each
# table as ONE parquet row group; a row group is Spark's minimum split,
# so every scan would be a single task no matter how many cores the
# session has (DuckDB parallelizes inside a row group; Spark cannot).
# On first access we re-layout the immutable table into N split files
# — exactly what a production ingest does (no table is ever served
# from one 100 TB row group) — and serve scans from that layout. The
# values and schema are bit-identical (same parquet types, no
# recompression tricks); only the file count changes. Disabled with
# SPARK_GRAFT_SPLIT_CACHE=0.
_SPLIT_MIN_ROWS = 50_000  # below this a single task is already fine


def _split_cache_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_TABLE_CACHE",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".tablecache"),
    )


def _source_fp(sf_dir: str, name: str) -> str:
    """Identity of the source parquet (path + size + mtime), zero Spark
    jobs. Stored inside the cache dir (underscore-prefixed, so parquet
    readers skip it): regenerated testdata at the same path — or two
    sf_dirs sharing a basename — must REBUILD the cache, not silently
    serve stale rows while the DuckDB oracle reads the fresh file."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    parts = []
    try:
        if os.path.isdir(p):
            # include the resolved source path like the single-file
            # branch: two sf_dirs sharing a basename must never alias
            # to one cache entry on coincidentally-equal inner stats
            parts.append(p)
            for f in sorted(os.listdir(p)):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(p, f))
                    parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        else:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        parts.append(f"{p}:missing")
    return "|".join(parts)


def _split_layout(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Return `df` re-served from an N-file split layout, building it
    on first access; falls back to `df` itself on any failure. A cache
    whose stored source fingerprint mismatches the current source
    files (regenerated data, legacy no-fp cache) is rebuilt."""
    if os.environ.get("SPARK_GRAFT_SPLIT_CACHE", "1") == "0":
        return df
    sf_tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    final = os.path.join(_split_cache_root(), sf_tag, name)
    fp = _source_fp(sf_dir, name)
    try:
        if os.path.isdir(final):
            try:
                with open(os.path.join(final, "_src_fp")) as fh:
                    stored = fh.read()
            except OSError:
                stored = None  # legacy cache without a fingerprint
            if stored != fp:
                # Replace, never delete in place: move the stale dir
                # aside atomically, then remove the aside copy — a
                # concurrent reader that already OPENED files keeps
                # valid handles through the unlink (POSIX), which is
                # the breakage class the in-place delete had (triggers
                # only when the SOURCE was regenerated — same class
                # the bucketed path's flock fixed in round 9). The
                # aside name is unique per call so a leftover from a
                # prior partial failure can never collide.
                stale = f"{final}__stale_{uuid.uuid4().hex}"
                try:
                    os.rename(final, stale)
                except OSError:
                    # Retry once with a fresh unique name (a transient
                    # collision or EBUSY), then give up to the direct
                    # source read. NEVER rmtree-in-place here: a
                    # concurrent reader that LISTED the directory but
                    # has not yet opened the files would hit
                    # FileNotFound mid-scan — the exact breakage the
                    # rename-aside protocol exists to avoid (only
                    # already-open handles survive a POSIX unlink).
                    stale = f"{final}__stale_{uuid.uuid4().hex}"
                    try:
                        os.rename(final, stale)
                    except OSError:
                        if os.path.isdir(final):
                            return df  # stale layout must not be served
                shutil.rmtree(stale, ignore_errors=True)
        if not os.path.isdir(final):
            # cores/2 split files: enough parallel decode to saturate
            # the box while halving per-stage task-launch overhead
            # (A/B-measured best of 8/16/32 at local[32])
            parts = max(2, spark.sparkContext.defaultParallelism // 2)
            # already as wide as the session — a real dataset with many
            # row groups / files never reaches the rewrite
            if df.rdd.getNumPartitions() >= parts:
                return df
            # cheap row-count from parquet metadata decides if a
            # re-layout is worth it at all
            if df.count() < _SPLIT_MIN_ROWS:
                return df
            tmp = f"{final}__build_{os.getpid()}"
            df.repartition(parts).write.mode("overwrite").parquet(tmp)
            with open(os.path.join(tmp, "_src_fp"), "w") as fh:
                fh.write(fp)
            try:
                os.rename(tmp, final)  # atomic vs concurrent builders
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
        return spark.read.parquet(final)
    except Exception:  # noqa: BLE001 — any IO/permission issue: direct read
        return df


def clear_stale_location(spark: SparkSession, fq: str) -> None:
    """The session catalog is in-memory but managed-table data dirs
    persist on disk; a table absent from the catalog whose warehouse
    location survives (prior process) must be cleared before
    re-creating, or CREATE fails with LOCATION_ALREADY_EXISTS."""
    import re

    if spark.catalog.tableExists(fq):
        return
    db, _, tbl = fq.rpartition(".")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = re.sub(r"^file:", "", wh)
    # the default database lives at the warehouse root; others at <db>.db/
    sub = tbl if db in ("", "default") else os.path.join(f"{db}.db", tbl)
    path = os.path.join(wh, sub)
    if os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_conf(spark)
    frames = _TABLE_CACHE.setdefault(spark, {})
    df = frames.get((sf_dir, name))
    if df is not None:
        return df
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader
        # rejects outright; read it as raw nanos and truncate to micros
        # (integer div — a double division would lose precision at 1e18).
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    df = _split_layout(spark, df, sf_dir, name)
    frames[(sf_dir, name)] = df
    return df


def fanout(df: DataFrame, *keys: str, parts: int | None = None) -> DataFrame:
    """Re-split a narrow scan so CPU-heavy per-row work parallelizes.

    A single parquet row group is one non-splittable task: at small
    scale factors every testdata table scans as ONE task, serializing
    the expensive stage-1 work (explode, md5, regex, array lambdas) on
    one core. When the input has fewer partitions than the session's
    cores, shuffle it wider first — with ``keys`` when a downstream
    aggregate/join clusters on them (hash partitioning on the same
    keys satisfies the downstream ClusteredDistribution, so the
    exchange is reused, not repeated), round-robin otherwise.

    At real scale the input has hundreds of splits and this is a
    no-op — the check is on the actual scan partitioning, not the
    scale factor."""
    spark = df.sparkSession
    # cores/2: task-launch overhead on sub-second stages outweighs the
    # last 2x of parallelism (measured 10.5 -> 7.7 s across the bench
    # set at local[32]); a cluster-scale input never takes this path.
    want = parts or max(2, spark.sparkContext.defaultParallelism // 2)
    # The scan's partition count is memoized ON the frame (catalog.table
    # returns cached objects, so the rdd probe runs once per table per
    # session): it lives and dies with the frame, so no other frame can
    # ever read it.
    # (read through __dict__: DataFrame.__getattr__ resolves unknown
    # names as columns, a JVM round trip)
    n = df.__dict__.get("_rw_scan_partitions")
    if n is None:
        n = df.rdd.getNumPartitions()
        df._rw_scan_partitions = n
    if n >= want:
        return df
    return df.repartition(want, *keys) if keys else df.repartition(want)


def write_bucketed(
    df: DataFrame,
    name: str,
    key: str | list[str],
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a relation bucketed (and bucket-sorted) by its join key.

    Co-located joins are the scale lever for repeated fact-fact joins:
    two tables bucketed by the same key into the same bucket count
    join with ZERO exchanges — at 100 TB that is the difference
    between shuffling both tables per query and shuffling neither,
    ever. Bucket-local sort additionally removes the per-task sort of
    a sort-merge join. tests/test_scale_layout.py proves the plan
    property."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format("parquet").bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.mode("overwrite").saveAsTable(name)


def write_partitioned(df: DataFrame, name: str, partition_cols: str | list[str]) -> None:
    """Persist a relation hive-partitioned by low-cardinality columns
    (e.g. event date): filters on partition columns prune whole
    directories at planning time (PartitionFilters), so a day-scoped
    query over years of data reads one day's files."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.format("parquet").partitionBy(*cols).mode("overwrite").saveAsTable(name)


def zorder_expr(cols: list[str], bits: int = 16) -> "Column":
    """Z-value (Morton code) of N numeric columns: each column is
    rank-normalized by the caller to [0, 2^bits) and the bits are
    interleaved — a codegen fold, no UDF."""
    from pyspark.sql import functions as F

    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        terms.append(
            f"aggregate(sequence(0, {bits - 1}), 0L, "
            f"(acc, i) -> acc | (shiftleft((shiftrightunsigned(CAST({c} AS BIGINT), i) & 1), i * {n} + {j})))"
        )
    return F.expr(" | ".join(f"({t})" for t in terms))


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16, bits: int = 16
) -> None:
    """Persist a relation sorted by the Z-value (Morton interleave) of
    several columns: every output file covers a small HYPER-RECTANGLE
    of the key space, so min/max footer stats prune files for
    predicates on ANY of the z-columns — the multi-dimensional
    generalization of linear sort clustering (which prunes only its
    leading column). This is the layout lever for a 100 TB fact table
    queried by several independent dimensions (user, time, score…):
    Delta/Iceberg OPTIMIZE ZORDER is this exact transform.

    Columns must be non-negative ints fitting in `bits` bits (rank or
    bucket-encode first). tests/test_scale_layout.py quantifies the
    pruning against a linear sort on the same data."""
    z = zorder_expr(cols, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
