"""Physical-layout scale levers (SCALE.md): bucketed co-located joins
and hive-partition pruning. These assert PLAN properties — the same
properties that decide whether a 100 TB join shuffles 100 TB or
nothing.
"""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

from risingwave_py_spark.catalog import (
    fanout, table, write_bucketed, write_partitioned,
)


def _fmt_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_zero_exchanges(spark, sf_dir, no_broadcast):
    o_tbl = f"b_orders_{uuid.uuid4().hex[:8]}"
    l_tbl = f"b_lineitem_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(table(spark, sf_dir, "orders"), o_tbl, "o_orderkey", buckets=8)
        write_bucketed(table(spark, sf_dir, "lineitem"), l_tbl, "l_orderkey", buckets=8)
        j = spark.table(o_tbl).join(
            spark.table(l_tbl),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _fmt_plan(j)
        assert not re.findall(r"\(\d+\) Exchange", plan), plan[:3000]
        # bucket-sorted layout also removes the per-task sort
        assert "SortMergeJoin" in plan
        n = j.count()
        assert n == table(spark, sf_dir, "lineitem").count()  # FK join preserves facts
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {l_tbl}")


def test_bucketed_aggregation_skips_shuffle(spark, sf_dir, no_broadcast):
    """groupBy on the bucket key reuses the bucketing — no exchange
    before the final aggregate."""
    tbl = f"b_agg_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(table(spark, sf_dir, "lineitem"), tbl, "l_orderkey", buckets=8)
        agg = spark.table(tbl).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        plan = _fmt_plan(agg)
        assert not re.findall(r"\(\d+\) Exchange", plan), plan[:3000]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_partitioned_table_prunes(spark, sf_dir):
    tbl = f"p_events_{uuid.uuid4().hex[:8]}"
    try:
        ev = table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        write_partitioned(ev, tbl, "day")
        days = [r.day for r in spark.table(tbl).select("day").distinct().collect()]
        target = sorted(days)[0]
        q = spark.table(tbl).filter(F.col("day") == F.lit(target))
        plan = _fmt_plan(q)
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "day" in m.group(1), plan[:3000]
        # pruning happened at planning time: the scan reads 1 of N partitions
        scan_files = q.select(F.input_file_name()).distinct().count()
        all_files = spark.table(tbl).select(F.input_file_name()).distinct().count()
        assert scan_files < all_files
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout: each parquet file covers a hyper-rectangle of
    (user_bucket, val_bucket), so footer min/max stats prune files for
    predicates on EITHER column; a linear sort on user_bucket prunes
    only its leading column. Quantified against the real footers."""
    import duckdb

    from pyspark.sql import functions as F

    from risingwave_py_spark.catalog import table, write_zordered

    BITS, N_FILES = 10, 16
    # Two uniform, independent 10-bit dimensions derived from the
    # dense event_id (the fixture's user_id has only ~15 distinct
    # values at sf0.001 and value is heavily skewed — useless for a
    # layout experiment).
    e = table(spark, sf_dir, "events").select(
        (F.col("event_id") % (1 << BITS)).cast("bigint").alias("ub"),
        ((F.col("event_id") * 2654435761) % (1 << BITS)).cast("bigint").alias("vb"),
        "event_id",
    )
    lin_path, z_path = str(tmp_path / "lin"), str(tmp_path / "zord")
    (
        e.repartitionByRange(N_FILES, "ub")
        .sortWithinPartitions("ub")
        .write.mode("overwrite")
        .parquet(lin_path)
    )
    write_zordered(e, z_path, ["ub", "vb"], n_files=N_FILES, bits=BITS)

    def files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
        con = duckdb.connect()
        rows = con.execute(
            f"""
            SELECT file_name,
                   MIN(CAST(stats_min_value AS BIGINT)) AS mn,
                   MAX(CAST(stats_max_value AS BIGINT)) AS mx
            FROM parquet_metadata('{path}/*.parquet')
            WHERE path_in_schema = '{col}'
            GROUP BY file_name
            """
        ).fetchall()
        total = len(rows)
        hit = sum(1 for _, mn, mx in rows if mx >= lo and mn <= hi)
        return hit, total

    # Predicate on the SECONDARY dimension (val bucket range ~10%).
    lo, hi = 300, 400
    z_hit, z_total = files_overlapping(z_path, "vb", lo, hi)
    l_hit, l_total = files_overlapping(lin_path, "vb", lo, hi)
    # (repartitionByRange may emit slightly fewer than N_FILES when
    # range boundaries collapse; use the actual file counts.)
    assert z_total >= N_FILES // 2 and l_total >= N_FILES // 2
    # Linear-by-user layout: value is uncorrelated, every file spans
    # the whole val range — no pruning.
    assert l_hit == l_total
    # Z-order: only the files whose val-rectangle intersects survive.
    assert z_hit <= z_total // 2, f"z-order pruned nothing: {z_hit}/{z_total}"

    # Predicate on the LEADING dimension still prunes under z-order.
    z_hit_u, _ = files_overlapping(z_path, "ub", 0, 100)
    assert z_hit_u < z_total


# --- bucketed layout as a DDL capability (engine surface) -------------


def _bk_conn(spark, schema):
    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    spark.sql(f"DROP DATABASE IF EXISTS {schema} CASCADE")
    eng = SparkEngine(spark, default_schema=schema)
    return RisingWaveConnection(eng), eng


def test_create_table_bucketed_ddl_roundtrip(spark):
    """CREATE TABLE … WITH (bucket_by, buckets) maps to Spark's
    clustered layout, SHOW CREATE round-trips the clause, and a fresh
    engine over the same warehouse restores the layout metadata."""
    import pandas as pd

    from risingwave_py_spark.engine import SparkEngine

    conn, eng = _bk_conn(spark, "bkddl")
    conn.execute("CREATE TABLE bkddl.f (k BIGINT, v DOUBLE) "
                 "WITH (bucket_by = 'k', buckets = '4')")
    desc = spark.sql("DESCRIBE TABLE EXTENDED bkddl.f").collect()
    got = {r["col_name"]: r["data_type"] for r in desc}
    assert got.get("Num Buckets") == "4"
    assert got.get("Bucket Columns") == "[`k`]"
    name, ddl = conn.fetchone("SHOW CREATE TABLE bkddl.f")
    assert "WITH (bucket_by = 'k', buckets = '4')" in ddl
    # inserts land through the normal path and hash-cluster on write
    conn.insert(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}),
                table_name="f", schema_name="bkddl", force_flush=True)
    assert conn.fetch("SELECT k FROM bkddl.f ORDER BY k") == [(1,), (2,)]
    # restart: layout metadata restores from the persisted catalog doc
    e2 = SparkEngine(spark, default_schema="bkddl")
    assert e2.table_props["bkddl.f"] == {"bucket_by": ["k"], "buckets": 4}
    _, ddl2 = e2.show_create("f")[1][0]
    assert "bucket_by = 'k'" in ddl2
    conn.execute("DROP TABLE bkddl.f")
    assert "bkddl.f" not in eng.table_props
    spark.sql("DROP DATABASE IF EXISTS bkddl CASCADE")


def test_bucketed_ddl_validation(spark):
    """Layout mistakes fail loudly at CREATE time: unknown properties,
    bucket_by/buckets split, a bucket column not in the table, and the
    unsupported upsert-table combination."""
    conn, _ = _bk_conn(spark, "bkval")
    with pytest.raises(ValueError, match="unsupported CREATE TABLE"):
        conn.execute("CREATE TABLE bkval.t1 (k BIGINT) "
                     "WITH (appendonly = 'true')")
    with pytest.raises(ValueError, match="together"):
        conn.execute("CREATE TABLE bkval.t2 (k BIGINT) "
                     "WITH (bucket_by = 'k')")
    with pytest.raises(ValueError, match="not in table"):
        conn.execute("CREATE TABLE bkval.t3 (k BIGINT) "
                     "WITH (bucket_by = 'nope', buckets = '4')")
    with pytest.raises(ValueError, match="upsert"):
        conn.execute(
            "CREATE TABLE bkval.t4 (k BIGINT PRIMARY KEY, ver BIGINT) "
            "ON CONFLICT DO UPDATE IF NOT NULL WITH VERSION COLUMN(ver) "
            "WITH (bucket_by = 'k', buckets = '4')"
        )
    spark.sql("DROP DATABASE IF EXISTS bkval CASCADE")


def test_split_cache_rebuilds_on_source_change(spark, tmp_path, monkeypatch):
    """The split-layout cache stores a source fingerprint (_src_fp,
    underscore-prefixed so parquet readers skip it): regenerated data
    at the same path must rebuild the cache, not serve stale rows
    while the DuckDB oracle reads the fresh file — the same staleness
    class the bucketed ready-marker fixed this round."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from risingwave_py_spark import catalog as C

    monkeypatch.setattr(C, "_SPLIT_MIN_ROWS", 0)
    monkeypatch.setenv("SPARK_GRAFT_TABLE_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_GRAFT_SPLIT_CACHE", raising=False)
    src = tmp_path / "sfX"
    src.mkdir()
    pq.write_table(pa.table({"k": list(range(10))}), src / "t1.parquet")

    assert C.table(spark, str(src), "t1").count() == 10
    cache_dir = tmp_path / "cache" / "sfX" / "t1"
    assert (cache_dir / "_src_fp").is_file()

    # regenerate the source (different size) — a fresh session/process
    # (cleared memo) must see the NEW rows, not the stale cache
    pq.write_table(pa.table({"k": list(range(12))}), src / "t1.parquet")
    C._TABLE_CACHE.clear()
    assert C.table(spark, str(src), "t1").count() == 12

    # unchanged source + cleared memo: cache is REUSED, not rebuilt
    fp_before = (cache_dir / "_src_fp").read_text()
    mtime = (cache_dir / "_src_fp").stat().st_mtime_ns
    C._TABLE_CACHE.clear()
    assert C.table(spark, str(src), "t1").count() == 12
    assert (cache_dir / "_src_fp").stat().st_mtime_ns == mtime
    assert (cache_dir / "_src_fp").read_text() == fp_before


def test_fanout_decision_never_leaks_to_a_frame_reusing_an_id(spark):
    """fanout memoizes each scan's width on the frame itself, so a new
    frame that lands on a dead frame's id() (CPython reuses the slot)
    gets its own decision, not the dead frame's."""
    from pyspark.sql import DataFrame

    want = max(2, spark.sparkContext.defaultParallelism // 2)
    for _ in range(20):
        narrow = spark.range(0, 10, 1, 1)
        assert fanout(narrow).rdd.getNumPartitions() == want  # widened
        wide_jdf = spark.range(0, 10, 1, want + 1)._jdf
        dead_id = id(narrow)
        del narrow
        # wrapping a ready JVM frame allocates the Python object first:
        # it almost always takes the slot just freed
        wide = DataFrame(wide_jdf, spark)
        if id(wide) == dead_id:
            break
    else:
        pytest.fail("no DataFrame reused a dead frame's id in 20 tries")
    assert fanout(wide) is wide, "a wide scan took the narrow frame's fan-out"



def test_session_memos_never_leak_to_a_session_reusing_an_id(spark, sf_dir):
    """The per-session memos hold their session weakly, not by id(),
    so a new session that lands on a dead session's id starts with no
    entry: it still gets UTC and Arrow, and registers its own views."""
    from pyspark.sql import SparkSession

    from risingwave_py_spark import catalog as C

    for _ in range(20):
        old = spark.newSession()
        C.ensure_engine_conf(old)
        # pyspark's RDD.toDF patch holds the newest session: make
        # another so that ``del old`` frees it
        holder = spark.newSession()  # noqa: F841
        jss = spark._jsparkSession.newSession()
        dead_id = id(old)
        del old
        # wrapping a ready JVM session allocates the Python object
        # first: it almost always takes the slot just freed
        new = SparkSession(spark.sparkContext, jss)
        if id(new) == dead_id:
            break
    else:
        pytest.fail("no session reused a dead session's id in 20 tries")
    new.conf.set("spark.sql.session.timeZone", "America/New_York")
    C.ensure_engine_conf(new)
    assert new.conf.get("spark.sql.session.timeZone") == "UTC"
    assert not new.catalog.tableExists("region")
    C.ensure_views(new, sf_dir)
    assert new.catalog.tableExists("region")
