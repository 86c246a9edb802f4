"""Plan-quality regression guards (SCALE.md ground rules).

These assert properties of the *optimized physical plan*, not results:
filters reach the parquet scan, dimensions broadcast, no cartesian
products sneak in, aggregates keep map-side partials. A refactor that
silently turns a broadcast join into a sort-merge over a dimension, or
drops a pushed filter, fails here long before it shows up in a 100 TB
bill.
"""

from __future__ import annotations

import pytest

from risingwave_py_spark import registry
from conftest import drop_schema

registry.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "q7_volume_shipping",
     "q9_profit_by_nation", "q14_promo_revenue", "q19_disc_revenue_or"],
)
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan, name
    # Dimension chains must not degrade to cartesian/nested-loop.
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


@pytest.mark.parametrize(
    "name,pushed",
    [
        ("q6_forecast_revenue", "GreaterThanOrEqual(l_shipdate"),
        ("scan_filter_project", "GreaterThan(l_quantity,45.0)"),
        ("q1_pricing_summary", "LessThanOrEqual(l_shipdate"),
    ],
)
def test_filters_reach_parquet_scan(spark, sf_dir, name, pushed):
    plan = _plan(spark, sf_dir, name)
    assert "PushedFilters:" in plan, name
    assert pushed in plan, f"{name}: expected {pushed} in PushedFilters"


def test_q1_has_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregates around one Exchange."""
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_scan_reads_only_needed_columns(spark, sf_dir):
    """Column pruning: the 4-column projection over 11-column lineitem
    must not drag payload columns through the scan."""
    plan = _plan(spark, sf_dir, "scan_filter_project")
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"}


def test_q18_scans_lineitem_once(spark, sf_dir):
    """Q18's HAVING gate and output aggregate must derive from ONE
    per-orderkey aggregation — the semi-join form scanned and shuffled
    lineitem twice, the dominant cost at scale."""
    plan = _plan(spark, sf_dir, "q18_large_volume_customer")
    # formatted mode: each scan's source shows on its Location: line
    scans = [
        ln for ln in plan.splitlines()
        if ln.startswith("Location:") and "lineitem" in ln
    ]
    assert len(scans) == 1, f"lineitem must be scanned exactly once: {scans}"


def test_lateral_topk_decorrelates(spark, sf_dir):
    """Correlated LATERAL with ORDER BY+LIMIT must plan as a ranked
    join (window + hash join), never a per-outer-row nested loop."""
    plan = _plan(spark, sf_dir, "lateral_top2_orders")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_unnest_word_counts_partial_agg(spark, sf_dir):
    """The token-count shuffle must carry per-partition partials (one
    row per word per partition), not one row per token."""
    plan = _plan(spark, sf_dir, "unnest_word_counts")
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("HashAggregate") >= 2


def test_distinct_on_single_shuffle(spark, sf_dir):
    """DISTINCT ON via row_number: exactly one exchange (by user_id);
    the rank filter must not add a second shuffle."""
    plan = _plan(spark, sf_dir, "distinct_on_latest_event")
    import re as _re
    exchanges = _re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan[:2000]
    # rank<=1 is applied map-side BEFORE the shuffle (WindowGroupLimit),
    # so the exchange carries at most one row per (partition, user).
    assert plan.index("WindowGroupLimit") < plan.index("Exchange")


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set (~1% of corpus) must broadcast: the train
    corpus — the 100 TB side — must be probed map-side, never shuffled
    on the shingle key."""
    plan = _plan(spark, sf_dir, "text_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_spine_broadcasts(spark, sf_dir):
    """The month spine is tiny and explicitly broadcast; the LOCF
    window adds exactly one shuffle (by entity)."""
    plan = _plan(spark, sf_dir, "gapfill_locf")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" in plan


def test_range_frame_single_shuffle(spark, sf_dir):
    """The 30-day trailing-sum RANGE frame partitions by customer
    once; the frame itself must not introduce extra exchanges."""
    import re as _re
    plan = _plan(spark, sf_dir, "window_range_frame")
    assert "Window" in plan
    exchanges = _re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan[:2000]


def test_bag_intersect_has_partial_agg(spark, sf_dir):
    """INTERSECT ALL plans as counted aggregation + join — partial
    aggregates must survive so each side shuffles group counts, not
    raw rows."""
    plan = _plan(spark, sf_dir, "setop_bag_semantics")
    assert plan.count("HashAggregate") >= 2


def test_embedding_dedup_is_banded_not_allpairs(spark, sf_dir):
    """dedup_embedding_cosine generates candidates via the LSH band
    equi-join — never a cartesian/nested-loop all-pairs product — and
    the identical band subplans on both join sides reuse one exchange
    instead of recomputing the 24 plane projections twice."""
    df = registry.QUERIES["dedup_embedding_cosine"](spark, sf_dir)
    df.collect()  # AQE marks ReusedExchange only in the final plan
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ReusedExchange" in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    """Lloyd's assignment must be the packed-codebook single
    projection (one broadcast row, all k distances in one codegen
    expression, argmin via array_min): never a shuffled or
    nested-loop pairing of corpus × centroids, and — since round 10
    (VERDICT r9 'what's wrong' #1) — never a row_number Window over
    k×N expanded rows."""
    plan = _plan(spark, sf_dir, "cluster_kmeans_embeddings")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan, "assign regressed to corpus-expanding argmin"
    assert "row_number" not in plan


def test_semantic_dedup_pairs_within_cluster_only(spark, sf_dir):
    """SemDeDup's cosine pass must be an equi-join on cluster_id
    (bounded per-cluster all-pairs), not a global cross join."""
    plan = _plan(spark, sf_dir, "dedup_semantic_clusters")
    assert "CartesianProduct" not in plan
    # the x-vs-y pair join keys on cluster_id: an equi join operator
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_span_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """The span relation that reaches the frequency shuffle must be
    (doc_id/source, span_hash) — the raw text column never moves."""
    df = registry.QUERIES["dedup_span_exact"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_span_dedup_single_tokenize_pass(spark, sf_dir):
    """The corpus-wide explode+hash projection must run ONCE and its
    output must cross the network ONCE (r13): the plan has exactly one
    Generate node, exactly one hashpartitioning exchange on span_hash
    (serving both the per-span aggregate and the document-frequency
    window — HashPartitioning(span_hash) satisfies both clusterings),
    and NO join (frequency comes from a window count, not a
    freq-aggregate joined back, which re-shuffled the span relation).

    Asserted with AQE off (the bench session's mode) so the exchange
    structure is static and visible in the plan string."""
    import re

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry.QUERIES["dedup_span_exact"](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    generates = re.findall(r"^\(\d+\) Generate", plan, flags=re.M)
    assert len(generates) == 1, plan[:2000]
    span_hash_exchanges = re.findall(
        r"hashpartitioning\(span_hash", plan
    )
    assert len(span_hash_exchanges) == 1, plan[:2000]
    assert not re.search(r"^\(\d+\) \w*(SortMerge|Hash)Join", plan, flags=re.M), (
        plan[:2000]
    )


def test_minhash_bands_single_pass_no_union(spark, sf_dir):
    """The minhash band relation must come from ONE posexplode pass
    over the signature checkpoint per join side (a Generate node), not
    an N_BANDS-way UNION ALL that re-scans the checkpoint per band —
    at corpus scale that was 4 re-reads of an O(n) materialization per
    side. Plan: 0 Union nodes, exactly 2 Generate nodes (band explode
    per self-join side)."""
    import re

    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert not re.search(r"^\(\d+\) Union", plan, flags=re.M), plan[:1500]
    generates = re.findall(r"^\(\d+\) Generate", plan, flags=re.M)
    assert len(generates) == 2, plan[:2000]


def test_salted_skew_single_exchange(spark, sf_dir):
    """agg_salted_skew runs as ONE two-phase hash aggregate (partial
    map-side combine is the implicit salt for algebraic aggregates) —
    a reintroduced manual salt layer shows up as a second Exchange."""
    import re

    plan = _plan(spark, sf_dir, "agg_salted_skew")
    n_ex = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_ex == 1, plan[:1500]
    assert "partial_count" in plan or "partial_sum" in plan  # map-side combine


def _sh_full_rung_sql(n_bands: int, fp_view: str) -> str:
    """The PRE-r13 rung shape — the complete DISTINCT candidate-pair
    relation with no top-k prefix — rebuilt independently so the
    equivalence check below does not compare the pruned SQL against
    itself."""
    from risingwave_py_spark.functions.dedup import SIMHASH_BITS

    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    arr = ", ".join(
        f"(shiftrightunsigned(simhash, {band_bits * i}) & {mask})"
        for i in range(n_bands)
    )
    return f"""
    WITH bands AS (
        SELECT doc_id, simhash, band, val
        FROM {fp_view} LATERAL VIEW posexplode(array({arr})) AS band, val
    )
    SELECT DISTINCT doc_a, doc_b, hamming FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    ) WHERE hamming <= {n_bands - 1}
    """


def test_simhash_rung_returns_global_top20(spark, sf_dir):
    """The rung materializes only a bounded TakeOrdered prefix (r13:
    top-(20*n_bands) RAW collision rows, then DISTINCT — a pair occurs
    at most once per colliding band, so the top-20 distinct pairs are
    always inside that prefix); the engine's 20 rows must BE the
    global top-20 of the FULL unpruned distinct pair relation (the
    pre-r12 checkpoint-all form, rebuilt independently here)."""
    from risingwave_py_spark.catalog import ensure_views
    from risingwave_py_spark.operators import sqlfast

    ensure_views(spark, sf_dir)
    got = registry.QUERIES["dedup_simhash"](spark, sf_dir).toPandas()
    assert len(got) <= 20
    spark.sql(sqlfast._SH_FP_SQL).createOrReplaceTempView("__t_sh_fp")
    try:
        full = (
            spark.sql(_sh_full_rung_sql(4, "__t_sh_fp"))
            .toPandas()
            .sort_values(["hamming", "doc_a", "doc_b"])
            .reset_index(drop=True)
        )
    finally:
        spark.catalog.dropTempView("__t_sh_fp")
    if len(full) >= 20:  # rung 1 satisfied the ladder
        exp = full.head(20).reset_index(drop=True)
        assert got.sort_values(["hamming", "doc_a", "doc_b"]).reset_index(
            drop=True
        ).equals(exp)


def test_simhash_rung_no_full_pair_shuffle(spark, sf_dir):
    """The rung's DISTINCT must consume the bounded TakeOrdered prefix
    of the raw collision stream, not the whole stream: the rung plan
    contains a TakeOrderedAndProject (a 20*n_bands-row heap per
    partition) BELOW the distinct aggregate — the pre-r13 shape
    hash-aggregated every candidate pair (O(near-dup pairs) state at
    corpus scale) before the top-20 cut."""
    from risingwave_py_spark.catalog import ensure_views
    from risingwave_py_spark.operators import sqlfast

    ensure_views(spark, sf_dir)
    spark.sql(sqlfast._SH_FP_SQL).createOrReplaceTempView("__t_sh_fp2")
    try:
        df = spark.sql(
            sqlfast._SH_RUNGS[4].replace("__sqlfast_sh_fp", "__t_sh_fp2")
        )
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    finally:
        spark.catalog.dropTempView("__t_sh_fp2")
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "hashpartitioning(doc_a" not in plan, plan[:2000]


def test_unigram_logprob_total_is_broadcast(spark, sf_dir):
    """The corpus-total (1 row) side must broadcast; the token join
    may shuffle but carries no text column."""
    plan = _plan(spark, sf_dir, "text_unigram_logprob")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitter_bigrams_partial_agg(spark, sf_dir):
    """Two-phase count: map-side combine collapses the Zipf head
    before the single shuffle."""
    plan = _plan(spark, sf_dir, "heavy_hitter_bigrams")
    assert plan.count("HashAggregate") >= 2


def test_asof_grammar_is_union_window_not_nested_loop(spark, sf_dir):
    """The ASOF JOIN rewrite must produce the union-window plan:
    per-key window + equi-join back — never Catalyst's LATERAL
    decorrelation (distinct-timestamp × right nested-loop join,
    quadratic in the probe domain)."""
    plan = _plan(spark, sf_dir, "asof_join_grammar")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


@pytest.mark.parametrize(
    "name",
    ["multimodal_image_pipeline", "multimodal_audio_pipeline",
     "multimodal_video_pipeline"],
)
def test_media_pipelines_are_shuffle_free(spark, sf_dir, name):
    """Media decode/featurize must stay a pure map: one mapInPandas
    stage over the scan, zero exchanges."""
    plan = _plan(spark, sf_dir, name)
    assert "Exchange" not in plan, name
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower(), name


def test_profile_is_single_scan(spark, sf_dir):
    """Table profiling computes every column's stats in ONE pass
    (formatted mode prints each node twice: tree + detail)."""
    plan = _plan(spark, sf_dir, "profile_lineitem")
    assert plan.count("Scan parquet") <= 2


def test_no_forced_broadcast_of_fact_derived_relations():
    """Broadcast hints in the SQL fast-path module may only name true
    dimension tables (bounded size at any SF) — never a CTE derived
    from a fact table (e.g. q18's `big` orderkey set grows linearly
    with SF; a hint would force an O(100M-key) broadcast past AQE's
    size check at 100 TB). AQE decides for those at runtime."""
    import inspect
    import re

    from risingwave_py_spark.operators import sqlfast

    src = inspect.getsource(sqlfast)
    facts = re.compile(r"\b(lineitem|orders|events|documents|embeddings)\b")
    # Constant-bounded relations (IVF centroids = O(cells) rows, probe
    # assignments = O(queries × nprobe)) are broadcastable at any SF
    # even though their source is a fact table.
    bounded = {"cents", "p"}
    for stmt in re.findall(r'"""(.*?)"""', src, re.S):
        # name -> CTE body (balanced-paren capture is overkill here:
        # bodies in this module never nest parens before FROM <fact>)
        ctes = dict(re.findall(r"(\w+)\s+AS\s*\(([^)]*)", stmt, re.I))
        for hint in re.findall(r"/\*\+\s*BROADCAST\(([^)]*)\)\s*\*/", stmt):
            for rel in (h.strip() for h in hint.split(",")):
                if rel in bounded:
                    continue
                body = ctes.get(rel)
                assert body is None or not facts.search(body), (
                    f"forced broadcast of fact-derived relation {rel!r}"
                )


def test_changelog_since_read_prunes_partitions(spark):
    """Changelog tables are partitioned by epoch: a cursor's SINCE
    poll (rw_timestamp > N) must reach the scan as a partition filter
    — pruning to the unconsumed suffix — not as a data filter over the
    full history."""
    import pandas as pd

    from pyspark.sql import functions as F

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    eng = SparkEngine(spark)
    conn = RisingWaveConnection(eng)
    conn.execute("DROP TABLE IF EXISTS t_clprune")
    for v in (1, 2, 3):
        conn.insert(pd.DataFrame({"k": [v]}), table_name="t_clprune",
                    force_flush=True)
    cl = eng.changelog_name("public.t_clprune")
    plan = (
        spark.table(cl)
        .filter(F.col("rw_timestamp") > 2)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PartitionFilters" in plan
    assert "rw_timestamp" in plan.split("PartitionFilters", 1)[1][:200]
    conn.execute("DROP TABLE t_clprune")


def test_index_probes_do_not_rescan_corpus(spark, sf_dir):
    """The persisted-index probes read stored posting lists; any scan
    of the corpus parquet in a probe plan means the index is being
    rebuilt per query — the exact cost the stored index exists to
    avoid."""
    for name, corpus in (
        ("ann_index_probe", "embeddings"),
        ("ann_sq8_probe", "embeddings"),
        ("dedup_index_probe", "documents"),
        ("image_index_probe", "documents"),
        ("video_index_probe", "documents"),
        ("audio_index_probe", "documents"),
    ):
        plan = _plan(spark, sf_dir, name)
        scans = [
            ln for ln in plan.splitlines()
            if ln.startswith("Location:") and corpus in ln
        ]
        assert not scans, (name, scans)
    # the media probes must also never DECODE: fingerprints come from
    # the stored table, so no Python/Arrow map stage may appear
    assert "MapInPandas" not in _plan(spark, sf_dir, "image_index_probe")
    assert "MapInPandas" not in _plan(spark, sf_dir, "video_index_probe")
    assert "MapInPandas" not in _plan(spark, sf_dir, "audio_index_probe")


@pytest.mark.parametrize("name", ["q9_profit_by_nation",
                                  "q10_returned_items",
                                  "q18_large_volume_customer"])
def test_fact_tables_never_broadcast(spark, sf_dir, name):
    """The orders join must be a shuffled hash join, never a broadcast
    of the orders side: orders is a FACT table — at file sizes just
    under the broadcast threshold Spark's static planner would ship
    1.2M+ rows to every task (measured +35% at the 8x scaling probe,
    SCALE.md round 6), and at cluster scale the broadcast is
    impossible outright. SHUFFLE_HASH(o) pins the scale-correct plan."""
    plan = _plan(spark, sf_dir, name)
    assert "ShuffledHashJoin" in plan, name
    # no BroadcastExchange may consume the orders scan: walk the
    # formatted plan's scan list — the orders Location line must not
    # be followed (within its exchange subtree) by a broadcast. The
    # formatted mode lists operators first; it suffices that every
    # BroadcastExchange input column set is free of orders columns.
    import re as _re

    for m in _re.finditer(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]",
                          plan):
        cols = m.group(1)
        assert "o_orderkey" not in cols and "o_totalprice" not in cols, (
            name, "orders side broadcast:", cols)


def test_no_benched_query_regresses_to_cartesian(spark, sf_dir):
    """Blanket guard over the ENTIRE bench set: no benched plan may
    contain a CartesianProduct, and any BroadcastNestedLoopJoin must
    be one of the documented broadcast spines (a single packed row or
    a <=12-row constant relation — those appear only in queries that
    deliberately cross-join a packed-centroid/spine row). Catches a
    plan regression in any benched query before the bench does."""
    import bench

    # queries whose plan legitimately carries a one-row/constant-spine
    # broadcast cross join (packed centroids, literal probe spines)
    SPINE_OK = {"ann_cosine_topk", "ann_ivf_topk"}
    bad = {}
    for name in bench.BENCH_QUERIES:
        if name not in registry.QUERIES:
            continue
        plan = _plan(spark, sf_dir, name)
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in SPINE_OK:
            bad[name] = "BroadcastNestedLoopJoin"
    assert not bad, bad


def test_cobucketed_fact_join_has_zero_exchanges(spark):
    """The bucketed-layout DDL capability (CREATE TABLE … WITH
    (bucket_by, buckets)) must deliver its scale property: a fact-fact
    join + group-by on the bucket key over two co-bucketed tables runs
    with ZERO exchanges (broadcast disabled — co-location must come
    from the layout, not from shipping a small side). This is the
    measured −47% q18-shape recipe (SCALE.md) as an engine guarantee."""
    import pandas as pd

    from risingwave_py_spark.core import RisingWaveConnection
    from risingwave_py_spark.engine import SparkEngine

    drop_schema(spark, "plq_bk")
    conn = RisingWaveConnection(SparkEngine(spark, default_schema="plq_bk"))
    conn.execute("CREATE TABLE plq_bk.fa (k BIGINT, v BIGINT) "
                 "WITH (bucket_by = 'k', buckets = '4')")
    conn.execute("CREATE TABLE plq_bk.fb (k BIGINT, w STRING) "
                 "WITH (bucket_by = 'k', buckets = '4')")
    n = 2000
    conn.insert(pd.DataFrame({"k": range(n), "v": range(n)}),
                table_name="fa", schema_name="plq_bk", force_flush=True)
    conn.insert(pd.DataFrame({"k": range(n), "w": [f"w{i}" for i in range(n)]}),
                table_name="fb", schema_name="plq_bk", force_flush=True)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.sql(
            "SELECT a.k, sum(v) AS sv, max(w) AS mw "
            "FROM plq_bk.fa a JOIN plq_bk.fb b ON a.k = b.k GROUP BY a.k"
        )
        assert df.count() == n
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        drop_schema(spark, "plq_bk")
    assert "Exchange" not in plan, plan
    assert "SelectedBucketsCount" in plan  # scans really are bucketed
