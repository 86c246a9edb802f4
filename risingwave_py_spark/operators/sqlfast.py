"""Single-statement Spark-SQL implementations of the hottest benched
TPC-H shapes, registered over the Column-builder versions.

Why: building these plans through the Python Column API costs 0.1-0.25 s
of py4j round-trips PER INVOCATION (measured; q1 ≈ 0.24 s construction
vs ≈ 0.3 s execution at sf0.1) — pure driver-side Python overhead that
has nothing to do with the engine. `spark.sql(text)` submits the whole
plan in ONE call; Catalyst produces the same physical plan (broadcast
hints below mirror the `F.broadcast` calls of the original versions,
and the exact-money limb arithmetic is the SQL spelling of
relational.py's `cents`/`limb_total`/`dsum` helpers — bit-identical
results, verified against the unchanged DuckDB oracles).

The Column-builder originals remain in relational.py / tpch_extra.py
as the plan documentation; this module only re-registers the names
(oracles are untouched — `register(name)` without an oracle keeps the
existing one).

Reference parity: these queries cover the arbitrary-SQL pass-through
surface of the reference (`/root/reference/risingwave/core.py:161-181`
`execute`/`fetch` accept any SQL string) — expressing them as SQL text
over the engine's views is exactly how a reference user would run them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from risingwave_py_spark.catalog import ensure_views
from risingwave_py_spark.registry import register

# --- SQL twins of the exact-money helpers (relational.py:36-98) ---------
_LIMB_BITS = 21
_LIMB = 1 << _LIMB_BITS  # 2097152
_MASK = _LIMB - 1  # 2097151


def _cents(c: str) -> str:
    return f"CAST(round(({c}) * 100) AS BIGINT)"


def _limb_total(v: str) -> str:
    return (
        f"(CAST(SUM(shiftrightunsigned({v}, {_LIMB_BITS})) AS DECIMAL(38,0)) * {_LIMB} "
        f"+ CAST(SUM(({v}) & {_MASK}) AS DECIMAL(38,0)))"
    )


def _limb_sum(v: str, scale: int) -> str:
    # double(exact integer total) / 10^s — ONE IEEE division, so the
    # value is bit-identical across engines at any magnitude (decimal
    # division first rounds at an engine-specific scale and diverges
    # by one ulp once the total exceeds 2^53 — seen at sf1 on q1's
    # e6-scaled charge). Mirrors operators/relational.py limb_sum.
    return f"(CAST({_limb_total(v)} AS DOUBLE) / {float(10 ** scale)})"


def _dsum(c: str) -> str:
    return f"CAST(CAST(SUM({_cents(c)}) AS DECIMAL(38,0)) / 100 AS DOUBLE)"


_REV_E4 = f"({_cents('l_extendedprice')}) * (100 - {_cents('l_discount')})"
_REV_SUM = _limb_sum(_REV_E4, 4)
_CHARGE_E6 = f"({_REV_E4}) * (100 + {_cents('l_tax')})"


# SQL text per registered query; operators/bucketed.py reads it to
# build each query's bucketed variant.
SQL_TEXT: dict[str, str] = {}


def _sql_query(name: str, text: str) -> None:
    SQL_TEXT[name] = text

    @register(name)
    def _fn(spark: SparkSession, sf_dir: str, _t: str = text) -> DataFrame:
        ensure_views(spark, sf_dir)
        return spark.sql(_t)

    _fn.__name__ = name
    _fn.__qualname__ = name
    _fn.__doc__ = f"Single-statement Spark SQL form of {name} (see module doc)."


_sql_query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_REV_SUM} AS sum_disc_price,
           {_limb_sum(_CHARGE_E6, 6)} AS sum_charge,
           {_dsum('l_quantity')} / COUNT(*) AS avg_qty,
           {_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
           {_dsum('l_discount')} / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)

_sql_query(
    "q3_shipping_priority",
    f"""
    SELECT /*+ BROADCAST(c) */
           l_orderkey, {_REV_SUM} AS revenue, o_orderdate
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'FURNITURE'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND li.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)

_sql_query(
    "q5_local_supplier_volume",
    f"""
    SELECT /*+ BROADCAST(c, s, n, r) */
           n_name, {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)

_sql_query(
    "q6_forecast_revenue",
    f"""
    SELECT {_limb_sum(f"{_cents('l_extendedprice')} * {_cents('l_discount')}", 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24.0
    """,
)

_sql_query(
    "q7_volume_shipping",
    f"""
    WITH s AS (SELECT s_suppkey, n_name AS supp_nation
               FROM supplier JOIN nation ON s_nationkey = n_nationkey),
         c AS (SELECT c_custkey, n_name AS cust_nation
               FROM customer JOIN nation ON c_nationkey = n_nationkey)
    SELECT /*+ BROADCAST(s, c) */
           supp_nation, cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN s ON li.l_suppkey = s.s_suppkey
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    JOIN c ON o.o_custkey = c.c_custkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
      AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
        OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    """,
)

_sql_query(
    "q9_profit_by_nation",
    f"""
    WITH p AS (SELECT p_partkey, p_retailprice FROM part WHERE p_name LIKE '%gear%'),
         s AS (SELECT s_suppkey, n_name AS nation
               FROM supplier JOIN nation ON s_nationkey = n_nationkey)
    SELECT /*+ BROADCAST(p, s), SHUFFLE_HASH(o) */
           nation, CAST(year(o_orderdate) AS INT) AS o_year,
           (CAST(({_limb_total(f"({_REV_E4}) * 100")}
                  - {_limb_total(f"{_cents('p_retailprice')} * 10 * {_cents('l_quantity')}")})
                 AS DOUBLE) / 1000000.0) AS sum_profit
    FROM lineitem li
    JOIN p ON li.l_partkey = p.p_partkey
    JOIN s ON li.l_suppkey = s.s_suppkey
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    GROUP BY nation, o_year
    """,
)

_sql_query(
    "q10_returned_items",
    f"""
    SELECT /*+ BROADCAST(c, n), SHUFFLE_HASH(o) */
           c_custkey, c_name, n_name, {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN orders o   ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE li.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
# q10's orders side is UNFILTERED (the only filter is on lineitem), so
# broadcasting it ships the whole fact table — SHUFFLE_HASH(o) measured
# -18% at sf0.1 and -20% at the 8x probe (interleaved A/B medians,
# SCALE.md round-7 table). q3/q5 keep broadcast: their
# orders sides are date/segment-PRUNED small while lineitem (the side a
# hash join would force through the exchange) is the big one — measured
# +13%/+66% WORSE with the hint at sf0.1; at real scale the pruned-side
# size estimate outgrows the threshold and Spark flips to shuffle by
# itself.

_sql_query(
    "q18_large_volume_customer",
    f"""
    WITH oq AS (SELECT l_orderkey, SUM({_cents('l_quantity')}) AS qty_cents
                FROM lineitem
                GROUP BY l_orderkey
                HAVING SUM({_cents('l_quantity')}) > 27000)
    SELECT /*+ BROADCAST(c), SHUFFLE_HASH(o) */
           c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(CAST(qty_cents AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_qty
    FROM oq
    JOIN orders o   ON oq.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
# q18 scale note: the per-orderkey quantity sums are computed ONCE and
# reused for BOTH the HAVING gate and the output column — the previous
# form (semi-join against a HAVING subplan, then re-aggregate) scanned
# and shuffled lineitem twice. SHUFFLE_HASH(o): orders is a FACT table
# — at sizes just under the broadcast threshold Spark's static planner
# would broadcast 1.2M+ rows (measured +35% at the 8x scaling probe,
# SCALE.md round 6); the hash join shuffles only orders, since oq
# already carries hash partitioning on l_orderkey from its GROUP BY.
# Same reasoning on q9's orders join (measured -10% at 8x).

_sql_query(
    "q19_disc_revenue_or",
    f"""
    SELECT /*+ BROADCAST(p) */ {_REV_SUM} AS revenue
    FROM lineitem li
    JOIN part p ON li.l_partkey = p.p_partkey
    WHERE l_quantity BETWEEN 1 AND 30
      AND p_size BETWEEN 1 AND 35
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
)

# --- non-TPC-H benched shapes (same motivation: one-call plan submit) ---

_sql_query(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)

_sql_query(
    "agg_distinct_multi",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)

_sql_query(
    "window_topk_per_group",
    """
    SELECT * FROM (
        SELECT c_nationkey, c_custkey, c_name, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) t WHERE rn <= 3
    """,
)

_sql_query(
    "window_running_sum",
    f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM({_cents('o_totalprice')}) OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(38,0)) / 100 AS DOUBLE) AS running_spend
    FROM orders
    """,
)

# Direct single group-by since r12: for algebraic aggregates Spark's
# partial (map-side) aggregation IS the two-phase salted scheme — the
# explicit hash-mod-64 salt layer only added an extra exchange+agg
# (measured −30% after dropping it; bit-identical DECIMAL sums). See
# operators/analytic.py:agg_salted_skew for when a manual salt is
# still required (holistic aggregates / per-key DISTINCT reduction).
_sql_query(
    "agg_salted_skew",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
)

_sql_query(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 1
    """,
)

_sql_query(
    "sessionize_events",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM numbered GROUP BY user_id, session_id
    """,
)

_sql_query(
    "events_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(get_json_object(props, '$.k') AS INT)) AS sum_k,
           MAX(CAST(get_json_object(props, '$.k') AS INT)) AS max_k
    FROM events GROUP BY event_type
    """,
)

_sql_query(
    "tumble_events_15m",
    """
    SELECT window.start AS window_start, window.end AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window(ts, '15 minutes'), event_type
    """,
)

_sql_query(
    "hop_events_30m_15m",
    """
    SELECT window.start AS window_start, window.end AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window(ts, '30 minutes', '15 minutes'), event_type
    """,
)

_sql_query(
    "asof_join_last_click",
    """
    SELECT event_id, user_id, ts, value, last_click_value FROM (
        SELECT event_id, user_id, ts, value, event_type,
               last(CASE WHEN event_type = 'click' THEN value END, true)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_value
        FROM events
    ) WHERE event_type = 'purchase'
    """,
)


# --- M6 dedup heavyweights: SQL-text plan construction -------------------
# Building the SimHash/MinHash plans through the Column API costs
# 1.1 s / 0.6 s of py4j round-trips per invocation (32 vote sums, 24
# band projections, self-joins — hundreds of Column objects), an order
# of magnitude more than EXECUTING the plans at sf0.1. The SQL text is
# assembled once at import (pure Python string work); each invocation
# is a handful of spark.sql / view calls. Plans and results are
# identical — the oracles are unchanged and the ladder/checkpoint
# semantics of the dedup.py originals are preserved below.

from risingwave_py_spark.functions.dedup import (  # noqa: E402
    N_BANDS as _MH_BANDS,
    N_MINHASH as _MH_K,
    ROWS_PER_BAND as _MH_RPB,
    SIMHASH_BITS as _SH_BITS,
    _spark_shingle_hashes,
    _spark_sig_expr,
)
from risingwave_py_spark.functions.text import spark_hash32 as _h32  # noqa: E402

_SH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_SH_BITS)
)
_SH_FP = " + ".join(
    f"(CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(_SH_BITS)
)
_SH_FP_SQL = f"""
    SELECT doc_id, CAST({_SH_FP} AS BIGINT) AS simhash
    FROM (
        SELECT doc_id, {_SH_VOTES}
        FROM documents
        LATERAL VIEW explode(transform(split(text, '\\\\s+'), w -> {_h32('w')})) AS h
        GROUP BY doc_id
    )
"""


def _sh_rung_sql(n_bands: int) -> str:
    """One rung: all candidate pairs within the band radius, top-20.

    The rung's DISTINCT runs over a bounded TakeOrdered prefix of the raw collision stream: a pair occurs at
    most once per colliding band, so the top-20 distinct pairs always
    sit inside the top-(20*n_bands) raw rows under the same total
    order — no O(pairs) hash-aggregate state at any scale."""
    band_bits = _SH_BITS // n_bands
    mask = (1 << band_bits) - 1
    arr = ", ".join(
        f"(shiftrightunsigned(simhash, {band_bits * i}) & {mask})"
        for i in range(n_bands)
    )
    return f"""
    WITH bands AS (
        SELECT doc_id, simhash, band, val
        FROM __sqlfast_sh_fp LATERAL VIEW posexplode(array({arr})) AS band, val
    ), raw_top AS (
        SELECT doc_a, doc_b, hamming FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        ) WHERE hamming <= {n_bands - 1}
        ORDER BY hamming, doc_a, doc_b LIMIT {20 * n_bands}
    )
    SELECT DISTINCT doc_a, doc_b, hamming FROM raw_top
    """


# Templates reference the placeholder name __sqlfast_sh_fp; each
# invocation rewrites it to a unique per-call view name (two
# concurrent invocations in one session must not race on the view).
#
# A VALUE-level rung (band join over DISTINCT fingerprints + counted
# expansion) was implemented, verified result-identical at 4 scales,
# and MEASURED WORSE on quiet interleaved A/B at BOTH sf0.1 (+33%,
# collapse factor 1.07) and sf1 (+20-25% despite collapse 10.7): the
# candidate checkpoint, level collect, and two expansion joins cost
# more than the collision rows they avoid, because the doc-level
# stream is generated inside one codegen pipeline straight into a
# bounded TakeOrdered heap (~100ns/row). Rejected with measurements —
# see OPTIMIZATION_r13.md (dedup_simhash).
_SH_RUNGS = {n: _sh_rung_sql(n) for n in (4, 8, 16)}
_SH_ALLPAIRS = """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(a.simhash ^ b.simhash) AS INT) AS hamming
    FROM __sqlfast_sh_fp a JOIN __sqlfast_sh_fp b ON a.doc_id < b.doc_id
    ORDER BY hamming, doc_a, doc_b LIMIT 20
"""


@register("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text form of functions/dedup.dedup_simhash — same
    fingerprints, same 4→8→16-band escalation ladder, same ≤10k-doc
    all-pairs guard; see that docstring for the scale analysis.

    Each rung materializes only its TOP-20 (TakeOrderedAndProject —
    20 rows kept per partition, ONE job), not the full candidate-pair
    set: the previous form localCheckpointed every candidate pair
    (~96k rows at sf0.1, O(near-dup pairs) disk at corpus scale) just
    to count them. "20 rows came back from LIMIT 20" is the same
    predicate as "count >= 20", and when it holds the global top-20
    IS those rows, so nothing else ever needed materializing. The
    checkpoint pins the 20 rows so the caller's action does not
    re-run the rung.

    r13: each rung's DISTINCT consumes a bounded TakeOrdered prefix of
    the raw collision stream instead of the whole stream
    (_sh_rung_sql docstring) — no O(pairs) hash-aggregate state at any
    scale. A value-level rung variant was measured and rejected (see
    the note above _SH_RUNGS).

    The fingerprint relation (one full tokenize+hash pass over the
    corpus — the dominant cost at scale) is computed ONCE and
    localCheckpointed; every rung, the all-pairs guard, and the
    all-pairs fallback read the checkpoint. The previous form inlined
    the fp CTE per statement, so an escalating ladder re-tokenized
    the whole corpus per rung (up to 5 passes on near-dup-poor
    corpora)."""
    import uuid

    ensure_views(spark, sf_dir)
    view = f"__sqlfast_sh_fp_{uuid.uuid4().hex[:8]}"  # per-call scope
    fp = spark.sql(_SH_FP_SQL).localCheckpoint(eager=True)
    fp.createOrReplaceTempView(view)
    try:
        for n_bands in (4, 8, 16):
            top = (
                spark.sql(_SH_RUNGS[n_bands].replace("__sqlfast_sh_fp", view))
                .orderBy("hamming", "doc_a", "doc_b")
                .limit(20)
                .localCheckpoint(eager=True)
            )
            if top.count() == 20:  # count of 20 checkpointed rows: ~0 cost
                # explicit ordering on the returned frame — the rows
                # are the checkpointed 20, the sort is free and
                # restores the ordering contract
                return top.orderBy("hamming", "doc_a", "doc_b")
        if fp.count() <= 10_000:  # count of checkpointed fp: no recompute
            # analyzed against the view HERE; execution reads the
            # checkpoint RDD, so the finally-drop below is safe
            return spark.sql(_SH_ALLPAIRS.replace("__sqlfast_sh_fp", view))
        return top.orderBy("hamming", "doc_a", "doc_b")
    finally:
        spark.catalog.dropTempView(view)


_MH_WH, _MH_SH = _spark_shingle_hashes()
_MH_SIG_SELECT = [f"{_spark_sig_expr(i)} AS s{i}" for i in range(_MH_K)]
# All 4 band hashes in ONE pass over the signature relation
# (posexplode: pos == band_id), not a 4-way UNION ALL that re-reads
# the checkpoint per band — at corpus scale that was 4 re-reads of an
# O(n) materialization per join side. Same (doc_id, band_id,
# band_hash) rows, same result.
_MH_BAND_EXPRS = ", ".join(
    f"md5(concat_ws(',', {', '.join(f's{b * _MH_RPB + r}' for r in range(_MH_RPB))}))"
    for b in range(_MH_BANDS)
)
_MH_BAND_ROWS = (
    "        SELECT doc_id, band_id, band_hash FROM __sqlfast_mh_sigs\n"
    f"        LATERAL VIEW posexplode(array({_MH_BAND_EXPRS}))"
    " AS band_id, band_hash"
)
_MH_EQ = " + ".join(
    f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(_MH_K)
)
_MH_PAIRS_SQL = f"""
    WITH bands AS (
{_MH_BAND_ROWS}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST({_MH_EQ} AS DOUBLE) / {_MH_K} AS est_jaccard
    FROM cand
    JOIN __sqlfast_mh_sigs sa ON sa.doc_id = doc_a
    JOIN __sqlfast_mh_sigs sb ON sb.doc_id = doc_b
    ORDER BY est_jaccard DESC, doc_a, doc_b
    LIMIT 20
"""


@register("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid form of functions/dedup.dedup_minhash_lsh: the signature
    pass keeps the original fanout'd DataFrame path (pre-split so the
    md5 shingle work parallelizes; three selectExpr calls over
    import-time strings), is materialized once (localCheckpoint — it
    feeds 6 plan branches), then the band/candidate/verify stage is a
    single SQL statement over the temp view. Identical plan and
    results; ~0.5 s less per-invocation py4j construction."""
    import uuid

    from risingwave_py_spark.catalog import fanout, table

    d = fanout(table(spark, sf_dir, "documents"))
    sigs = (
        d.selectExpr("doc_id", f"{_MH_WH} AS __wh")
        .selectExpr("doc_id", f"{_MH_SH} AS __hs")
        .selectExpr("doc_id", *_MH_SIG_SELECT)
        .localCheckpoint(eager=True)
    )
    view = f"__sqlfast_mh_sigs_{uuid.uuid4().hex[:8]}"  # per-call scope
    sigs.createOrReplaceTempView(view)
    try:
        # analyzed HERE (view resolved into the plan); execution reads
        # the checkpoint RDD, so the immediate drop below is safe
        return spark.sql(_MH_PAIRS_SQL.replace("__sqlfast_mh_sigs", view))
    finally:
        spark.catalog.dropTempView(view)


from risingwave_py_spark.functions.vectors import (  # noqa: E402
    N_CELLS as _IVF_CELLS,
    N_PROBE as _IVF_PROBE,
    N_QUERIES as _IVF_QUERIES,
    TOP_K as _IVF_TOPK,
    _spark_dot,
    _spark_norm,
)


def _ivf_cos_pre(a: str, b: str, an: str, bn: str) -> str:
    # cosine with both norms precomputed (hoisted out of the candidate
    # join: one fold per ROW instead of one per candidate PAIR — the
    # norm fold costs the same as the dot fold, so this halves the
    # verify stage; same expression over the same array, bit-identical)
    return f"round({_spark_dot(a, b)} / ({an} * {bn}), 6)"


# Per-centroid (cos, -cell_id) scores against the packed centroid
# array: array_max / descending sort = highest cosine, ties to the
# LOWEST cell_id — the SQL twin of vectors._CENT_SCORES. Assignment
# is ONE projection per corpus row: no N×N_CELLS row expansion, no
# per-vec_id window shuffle+sort (the previous form's scale killer).
_IVF_SCORES = (
    "transform(__cents, c -> struct("
    f"round({_spark_dot('{vec}', 'c.ce')} / (__en * c.cn), 6) AS cos, "
    "-c.cell_id AS ncell))"
)

_IVF_SQL = f"""
    WITH cents1 AS (
        SELECT array_sort(collect_list(named_struct(
                   'cell_id', vec_id, 'ce', embedding,
                   'cn', {_spark_norm('embedding')}))) AS __cents
        FROM embeddings WHERE vec_id >= 100 AND vec_id < {100 + _IVF_CELLS}
    ), corpus AS (
        SELECT /*+ REPARTITION({{parts}}) */ vec_id, embedding,
               {_spark_norm('embedding')} AS __en
        FROM embeddings
    ), cells AS (
        SELECT vec_id, embedding, __en,
               -(array_max({_IVF_SCORES.format(vec='embedding')}).ncell)
                   AS cell_id
        FROM corpus CROSS JOIN cents1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS qe, __en AS __qn,
               explode(transform(
                   slice(reverse(array_sort(
                       {_IVF_SCORES.format(vec='embedding')})), 1, {_IVF_PROBE}),
                   t -> -t.ncell)) AS cell_id
        FROM (SELECT vec_id, embedding, {_spark_norm('embedding')} AS __en
              FROM embeddings WHERE vec_id < {_IVF_QUERIES})
             CROSS JOIN cents1
    ), cand AS (
        SELECT /*+ BROADCAST(p) */ p.query_id, c.vec_id,
               {_ivf_cos_pre('p.qe', 'c.embedding', 'p.__qn', 'c.__en')} AS cosine
        FROM cells c JOIN probes p ON c.cell_id = p.cell_id
        WHERE c.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, vec_id) AS rn
        FROM cand
    ) WHERE rn <= {_IVF_TOPK}
"""


@register("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-text form of functions/vectors.ann_ivf_topk — same plan
    (broadcast centroids/probes, scale-adaptive REPARTITION mirroring
    fanout's cores/2 rule instead of the old fixed 4), built in one
    spark.sql call; see that docstring for the scale analysis."""
    ensure_views(spark, sf_dir)
    parts = max(2, spark.sparkContext.defaultParallelism // 2)
    return spark.sql(_IVF_SQL.format(parts=parts))
