"""Deduplication operators for LLM corpus curation (BASELINE.json
extension surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB:
  - exact dedup is one hash-aggregate (map-side combine, single
    shuffle on the content hash);
  - MinHash signatures are computed per-row with higher-order array
    functions (NO explode of shingles through a shuffle — signature
    computation is a projection inside whole-stage codegen); only the
    tiny (doc → band) relation shuffles for the LSH bucket join;
  - SimHash fingerprints likewise reduce each doc to one BIGINT
    before any join; candidate pairing joins fingerprints, not text;
  - n-gram Jaccard is the only operator that explodes shingles, and
    it prunes to DISTINCT (doc, shingle) first — the standard
    inverted-index join.

Portable hash (functions/text.py convention): first 8 md5 hex chars
as a BIGINT — bit-identical in Spark and DuckDB, so every pipeline
here is oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from risingwave_py_spark.catalog import ensure_views, fanout, table
from risingwave_py_spark.functions.text import duck_hash32, spark_hash32
from risingwave_py_spark.registry import _sql_query, register

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SIMHASH_BITS = 32


# Exact dedup: hash group-by on the content hash, keeping the smallest
# doc_id per group (a deterministic survivor policy).
_sql_query(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 1
    """,
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    """,
)


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


# Inverted-index skew guard: a shingle occurring in k documents emits
# k(k-1)/2 candidate pairs from the index join — one boilerplate header
# shared by 1M docs is 5e11 pairs from a single key. Shingles at or
# above this document frequency carry no near-dup signal (they are the
# corpus's stop-shingles) and are excluded from BOTH the intersection
# and the denominators, symmetrically in Spark and the oracle.
NGRAM_MAX_DF = 100


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH sh0 AS (
        SELECT DISTINCT doc_id, sh
        FROM (
            SELECT doc_id, words, unnest(generate_series(1, len(words) - 2)) AS i
            FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS words FROM documents) w
        ) pos, LATERAL (SELECT array_to_string(words[i:i+2], ' ') AS sh) s
    ), sh AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh0
        ) q WHERE df < {NGRAM_MAX_DF}
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram (word) Jaccard near-dup pairs via the inverted-index
    join: distinct (doc, shingle) → drop stop-shingles (df >=
    NGRAM_MAX_DF; the hot-key guard that keeps the index join O(n·df)
    instead of O(hottest-key²)) → self-join on shingle → |∩| / |∪|.
    Top-20 with a total deterministic order (exact int/int division)."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("ws")
    )
    # ws is a projected column: split() inside the lambda would
    # re-tokenize per shingle (O(tokens²) per row).
    shingles = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(ws) - 2), "
            "i -> array_join(slice(ws, i, 3), ' '))"
        )
    )
    sh0 = d.select("doc_id", F.explode(shingles).alias("sh"))
    sh = (
        sh0.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("df") < NGRAM_MAX_DF)
        .drop("df")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Universal-hash signature family: one md5 per WORD (not per shingle),
# shingle hashes derived by a rolling polynomial combine of the three
# word hashes, then k cheap int64 mixes
# sig_i = ((h mod p) * A_i + B_i) mod p  (p = 2^31 - 1).
# (h mod p) < 2^31 keeps every product under 2^62 — no int64 overflow
# in either engine, and identical two's-complement-free math. md5
# dominates the signature pass, so hashing |words| single words
# instead of |words| 3-word strings (and 16× fewer than hashing
# "i:shingle" per signature) is a measured ~5× speedup of the pass.
_MERSENNE = 2147483647


def _spark_shingle_hashes(text_col: str = "text") -> tuple[str, str]:
    """(word-hash expr, shingle-hash-from-__wh expr) — Spark SQL."""
    wh = f"transform(split({text_col}, '\\\\s+'), w -> {spark_hash32('w')})"
    sh = (
        f"array_distinct(transform(sequence(1, size(__wh) - 2), "
        f"i -> (((__wh[i-1] % {_MERSENNE}) * 31 + (__wh[i] % {_MERSENNE})) * 31 "
        f"+ (__wh[i+1] % {_MERSENNE})) % {_MERSENNE}))"
    )
    return wh, sh


def _duck_shingle_hashes(where: str = "TRUE") -> str:
    """DuckDB CTE text producing (doc_id, hs) with the same shingle
    hashes as `_spark_shingle_hashes` (1-based list indexing)."""
    return rf"""
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(wh) - 2),
                   i -> (((wh[i] % {_MERSENNE}) * 31 + (wh[i+1] % {_MERSENNE})) * 31
                        + (wh[i+2] % {_MERSENNE})) % {_MERSENNE}
               )) AS hs
        FROM (SELECT doc_id,
                     list_transform(regexp_split_to_array(text, '\s+'),
                                    w -> {duck_hash32('w')}) AS wh
              FROM documents WHERE {where})
    """


def _mix_consts(i: int) -> tuple[int, int]:
    a = (1103515245 * (i + 1) + 12345) % _MERSENNE
    b = (1013904223 * i + 1) % _MERSENNE
    return (a or 1, b)


def _spark_sig_expr(i: int) -> str:
    a, b = _mix_consts(i)
    return f"array_min(transform(__hs, h -> ((h % {_MERSENNE}) * {a} + {b}) % {_MERSENNE}))"


def _duck_sig_expr(i: int) -> str:
    a, b = _mix_consts(i)
    return (
        f"list_aggregate(list_transform(hs, h -> ((h % {_MERSENNE}) * {a} + {b}) % {_MERSENNE}),"
        " 'min')"
    )


def _minhash_pair_ctes(where: str = "TRUE") -> str:
    """DuckDB CTE chain ending in `scored(doc_a, doc_b, est_jaccard)`:
    the full MinHash+LSH candidate pipeline, shared by the top-20
    pair query and the connected-components canonicalizer."""
    sig_cols = ",\n               ".join(f"{_duck_sig_expr(i)} AS s{i}" for i in range(N_MINHASH))
    band_rows = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, {b} AS band_id, "
        f"md5(concat_ws(',', {', '.join(f's{b * ROWS_PER_BAND + r}' for r in range(ROWS_PER_BAND))})) AS band_hash "
        f"FROM sigs"
        for b in range(N_BANDS)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return rf"""hashed AS (
{_duck_shingle_hashes(where)}
    ), sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM hashed
    ), bands AS (
{band_rows}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), scored AS (
        SELECT doc_a, doc_b,
               CAST({eq_sum} AS DOUBLE) / {N_MINHASH} AS est_jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b
    )"""


def _minhash_oracle() -> str:
    return rf"""
    WITH {_minhash_pair_ctes()}
    SELECT doc_a, doc_b, est_jaccard
    FROM scored
    ORDER BY est_jaccard DESC, doc_a, doc_b
    LIMIT 20
    """


def _minhash_scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for every LSH candidate pair —
    the Spark twin of `_minhash_pair_ctes`."""
    d = fanout(table(spark, sf_dir, "documents"))
    wh_expr, sh_expr = _spark_shingle_hashes()
    sigs = (
        d.select("doc_id", F.expr(wh_expr).alias("__wh"))
        .select("doc_id", F.expr(sh_expr).alias("__hs"))
        .select(
            "doc_id", *[F.expr(_spark_sig_expr(i)).alias(f"s{i}") for i in range(N_MINHASH)]
        )
        # The signature relation feeds 4 plan branches (band explode
        # per join side + both sides of the verify join); materialize
        # it once — it's k+1 ints per doc, ~70 B/row, vs re-running
        # the md5 signature pass per branch.
        .localCheckpoint(eager=True)
    )
    bands = _bands_from_sigs(sigs)
    a, b2 = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    eq = sum(
        F.when(F.col(f"sa.s{i}") == F.col(f"sb.s{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", (eq.cast("double") / N_MINHASH).alias("est_jaccard"))
    )


_MH_WH, _MH_SH = _spark_shingle_hashes()
_MH_SIG_SELECT = [f"{_spark_sig_expr(i)} AS s{i}" for i in range(N_MINHASH)]
# All 4 band hashes in ONE pass over the signature relation
# (posexplode: pos == band_id), not a 4-way UNION ALL that re-reads
# the checkpoint per band — at corpus scale that was 4 re-reads of an
# O(n) materialization per join side. Same (doc_id, band_id,
# band_hash) rows, same result.
_MH_BAND_EXPRS = ", ".join(
    f"md5(concat_ws(',', {', '.join(f's{b * ROWS_PER_BAND + r}' for r in range(ROWS_PER_BAND))}))"
    for b in range(N_BANDS)
)
_MH_BAND_ROWS = (
    "        SELECT doc_id, band_id, band_hash FROM __sqlfast_mh_sigs\n"
    f"        LATERAL VIEW posexplode(array({_MH_BAND_EXPRS}))"
    " AS band_id, band_hash"
)
_MH_EQ = " + ".join(
    f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
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
           CAST({_MH_EQ} AS DOUBLE) / {N_MINHASH} AS est_jaccard
    FROM cand
    JOIN __sqlfast_mh_sigs sa ON sa.doc_id = doc_a
    JOIN __sqlfast_mh_sigs sb ON sb.doc_id = doc_b
    ORDER BY est_jaccard DESC, doc_a, doc_b
    LIMIT 20
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=16) + LSH (4 bands × 4 rows) near-dup candidates.

    Signatures are a pure per-row projection (higher-order array
    functions — shingle sets never leave the row, no explode); only
    (doc_id, band_id, band_hash) tuples shuffle for the bucket join:
    an O(n) signature pass plus an equi-join on band buckets. The
    signature pass is a fanout'd DataFrame (pre-split so the md5
    shingle work parallelizes; three selectExpr calls over import-time
    strings), materialized once (localCheckpoint — it feeds 6 plan
    branches); the band/candidate/verify stage is one SQL statement
    over a temp view, about 0.5 s less py4j plan construction per
    invocation than building it through the Column API."""
    import uuid

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


# ---------------------------------------------------------------------------
# Near-dup clustering (pairs → connected components → canonical doc)
# ---------------------------------------------------------------------------


def _components_oracle() -> str:
    return rf"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    dup AS (
        SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM dup
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    full_assign AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    sizes AS (
        SELECT component, COUNT(*) AS cluster_size
        FROM full_assign GROUP BY component
    )
    SELECT f.doc_id, f.component,
           f.doc_id = f.component AS is_canonical,
           s.cluster_size
    FROM full_assign f JOIN sizes s USING (component)
    """


@register("dedup_components", oracle=_components_oracle())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup canonicalization: MinHash+LSH pairs with est_jaccard
    >= 0.5 become edges; connected components assign every document a
    cluster (labeled by its minimum doc_id); the minimum member is the
    canonical survivor a training pipeline keeps.

    The component step is iterative min-label propagation: each round
    every node takes the min label over itself and its neighbors
    (one shuffle join + one hash aggregate per round), converging in
    O(cluster diameter) rounds — near-dup graphs are unions of small
    cliques, so 2-3 rounds in practice; a 24-round cap guards
    pathological chains (at which point a large-star/small-star
    contraction would be the right escalation). Labels checkpoint per
    round to truncate lineage. The driver loop runs O(diameter)
    Spark jobs over the EDGE relation only — document text never
    enters the iteration, so at 100 TB each round shuffles a few
    bytes per duplicate pair, not the corpus.
    """
    d = table(spark, sf_dir, "documents")
    full_assign = _component_assignment(spark, sf_dir)
    sizes = full_assign.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        full_assign.join(sizes, "component")
        .select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
            "cluster_size",
        )
    )


def _component_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) for every document: min-label propagation
    over the MinHash+LSH duplicate graph (see dedup_components)."""
    d = table(spark, sf_dir, "documents")
    dup = _minhash_scored_pairs(spark, sf_dir).filter(F.col("est_jaccard") >= 0.5)
    edges = (
        dup.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(dup.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(24):
        neighbor = edges.join(
            labels, edges["src"] == labels["doc_id"], "inner"
        ).select(F.col("dst").alias("doc_id"), "component")
        new_labels = (
            labels.union(neighbor)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return (
        d.select("doc_id")
        .join(labels.withColumnRenamed("doc_id", "m_doc"), F.col("doc_id") == F.col("m_doc"), "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _duck_simhash_expr() -> str:
    """DuckDB expression computing the 32-bit SimHash fingerprint from
    a word-hash list column `hs`: per bit, vote = sum of ±1 over words,
    bit set iff vote >= 0. The Spark side computes the same votes via
    explode + one hash aggregate (see `dedup_simhash`); fingerprints
    are verified bit-identical."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )


_DUCK_SIMHASH = _duck_simhash_expr()


# The SimHash plans are SQL text assembled once at import: building them
# through the Column API cost 1.1 s of py4j round trips per invocation
# (32 vote sums, band projections, self-joins), an order of magnitude
# more than executing them at sf0.1.
_SH_VOTES = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SH_FP = " + ".join(
    f"(CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
    for b in range(SIMHASH_BITS)
)
_SH_FP_SQL = f"""
    SELECT doc_id, CAST({_SH_FP} AS BIGINT) AS simhash
    FROM (
        SELECT doc_id, {_SH_VOTES}
        FROM documents
        LATERAL VIEW explode(transform(split(text, '\\\\s+'), w -> {spark_hash32('w')})) AS h
        GROUP BY doc_id
    )
"""


def _sh_rung_sql(n_bands: int) -> str:
    """One rung: all candidate pairs within the band radius, top-20.

    The rung's DISTINCT runs over a bounded TakeOrdered prefix of the raw collision stream: a pair occurs at
    most once per colliding band, so the top-20 distinct pairs always
    sit inside the top-(20*n_bands) raw rows under the same total
    order — no O(pairs) hash-aggregate state at any scale."""
    band_bits = SIMHASH_BITS // n_bands
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


@register(
    "dedup_simhash",
    oracle=rf"""
    WITH hv AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(text, '\s+'),
                              w -> {duck_hash32('w')}) AS hs
        FROM documents
    ), fp AS (
        SELECT doc_id, {_DUCK_SIMHASH} AS simhash FROM hv
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    ORDER BY hamming, doc_a, doc_b
    LIMIT 20
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection: each doc reduces to one 32-bit
    fingerprint (a bit-vote over its word hashes: one explode and one
    hash aggregate of 32 conditional sums, map-side combined), then
    pairs rank by Hamming distance (`bit_count` of XOR).

    The pair stage is banded, not a cross join: the fingerprint splits
    into n bands, and by pigeonhole any pair with hamming <= n - 1
    collides on at least one band, so the band-equality self-join
    generates EVERY such pair as a candidate. The ladder widens the
    guaranteed radius (4 bands -> h<=3, 8 -> h<=7, 16 -> h<=15) until
    a rung holds the top-20, which is then exact, not approximate.
    Random 32-bit fingerprints sit at expected hamming 16, so
    P(h<=15) ~ 0.43 per pair: the h<=15 rung finds 20 pairs whenever
    the corpus has more than ~10 documents. Each rung shuffles one
    (band, value, doc) row per band per doc — O(n * bands) — and each
    bucket is a small local pair enumeration. The exact all-pairs join
    is only a guard for degenerate inputs (<= 10k documents, at most
    5e7 comparisons); a larger corpus with < 20 pairs within hamming
    15 would need a near-uniform spread at h >= 16, and gets the exact
    pairs found within that radius.

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


def _pipeline_oracle() -> str:
    return rf"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    dup AS (
        SELECT doc_a, doc_b FROM scored WHERE est_jaccard >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM dup
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM dup
    ),
    reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    ),
    toks AS (
        SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS ws
        FROM documents
    ),
    assign AS (
        SELECT t.doc_id, t.source, len(t.ws) AS n_tokens,
               COALESCE(c.component, t.doc_id) AS component
        FROM toks t LEFT JOIN comp c ON t.doc_id = c.doc_id
    ),
    shw AS (
        SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+3], ' ')) AS h
        FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i
              FROM toks) q
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT * FROM shw WHERE doc_id % 97 <> 0) t
        JOIN (SELECT * FROM shw WHERE doc_id % 97 = 0) e ON t.h = e.h
    ),
    kept AS (
        SELECT * FROM assign
        WHERE doc_id = component
          AND n_tokens >= 25
          AND doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT source,
           COUNT(*) AS docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           CAST(SUM(CAST(floor((n_tokens - 1) / 40) AS BIGINT) + 1) AS BIGINT) AS chunks_kept
    FROM kept GROUP BY source
    """


@register("pipeline_curate_corpus", oracle=_pipeline_oracle())
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation as ONE composed query — the
    capstone over the extension operators: (1) near-dup
    canonicalization (MinHash+LSH pairs → connected components; only
    the minimum-id member of each cluster survives), (2) quality gate
    (>= 25 whitespace tokens), (3) eval-set removal + benchmark
    decontamination (drop every 97th doc AND any train doc sharing a
    word 4-gram with one), then (4) per-source yield accounting:
    documents, tokens, and 40-token-stride training chunks kept.

    Scale shape: each stage is the already-proven plan — per-row
    signature/shingle projections, the O(pairs) component loop over
    edges only, a broadcast-probe contamination join — so the whole
    pipeline does NOT multiply costs: document text is scanned once
    per stage, never shuffled, and the final aggregate is one shuffle
    of (source) partials. This is the query a 100 TB curation run
    executes per snapshot."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.col("text"), r"\s+").alias("ws")
    )
    # ws projected once per row (split-in-lambda re-evaluates per shingle)
    words = F.col("ws")
    toks = d.select("doc_id", "source", F.size(words).alias("n_tokens"))
    assign = _component_assignment(spark, sf_dir)

    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(words) >= 4,
                    F.transform(
                        F.sequence(F.lit(1), F.size(words) - F.lit(3)),
                        lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, 4))),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h"),
        )
        .distinct()
    )
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "h")
        .select("doc_id")
        .distinct()
    )
    kept = (
        toks.join(assign, "doc_id")
        .filter(
            (F.col("doc_id") == F.col("component"))
            & (F.col("n_tokens") >= 25)
            & (F.col("doc_id") % 97 != 0)
        )
        .join(contaminated, "doc_id", "left_anti")
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("docs_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.sum(F.floor((F.col("n_tokens") - 1) / 40).cast("bigint") + 1).alias(
            "chunks_kept"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-corpus (incremental) dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

CROSS_NEW_MOD = 10  # docs with doc_id % 10 >= 8 are the "new batch"
CROSS_TAU = 0.5  # same dup threshold as the curation pipeline


def _cross_corpus_oracle() -> str:
    return rf"""
    WITH {_minhash_pair_ctes()}
    SELECT CASE WHEN doc_a % {CROSS_NEW_MOD} >= 8 THEN doc_a ELSE doc_b END
               AS new_doc_id,
           CASE WHEN doc_a % {CROSS_NEW_MOD} >= 8 THEN doc_b ELSE doc_a END
               AS match_doc_id,
           est_jaccard
    FROM scored
    WHERE (doc_a % {CROSS_NEW_MOD} >= 8) <> (doc_b % {CROSS_NEW_MOD} >= 8)
      AND est_jaccard >= {CROSS_TAU}
    ORDER BY new_doc_id, match_doc_id
    """


@register("dedup_cross_corpus", oracle=_cross_corpus_oracle())
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup the NEW batch (doc_id % 10 >= 8 —
    the daily crawl) against the EXISTING corpus only, without ever
    pairing the existing corpus with itself. This is how dedup runs
    in production: the 100 TB corpus's MinHash band table is built
    once and kept (here: the band relation filtered to existing
    docs), and each incoming batch computes signatures for ITS docs
    only, probes the stored bands, and emits (new, existing, score)
    dup edges — O(batch) new work per run instead of O(corpus).

    Same signature/band machinery as `dedup_minhash_lsh` (k=16, 4x4
    bands), same est-Jaccard verification on candidates, threshold
    {CROSS_TAU} as in `pipeline_curate_corpus`. The band join is
    new-side x existing-side only — disjoint sides, so no self-pair
    or ordering predicate is needed."""
    d = fanout(table(spark, sf_dir, "documents"))
    wh_expr, sh_expr = _spark_shingle_hashes()
    sigs = (
        d.selectExpr("doc_id", f"{wh_expr} AS __wh")
        .selectExpr("doc_id", f"{sh_expr} AS __hs")
        .selectExpr(
            "doc_id",
            *[f"{_spark_sig_expr(i)} AS s{i}" for i in range(N_MINHASH)],
        )
        .localCheckpoint(eager=True)  # feeds bands + both verify sides
    )
    return _probe_new_against_old(sigs)


def _bands_from_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) from a signature relation — 16
    md5s per doc, no document text involved. All bands come from ONE
    posexplode pass (pos == band_id) instead of an N_BANDS-way UNION
    ALL that re-scans the signature relation per band — at corpus
    scale that was N_BANDS re-reads of an O(n) materialization. Row
    set is identical."""
    band_hashes = [
        F.md5(F.concat_ws(
            ",", *[f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        ))
        for b in range(N_BANDS)
    ]
    return sigs.select(
        "doc_id", F.posexplode(F.array(*band_hashes)).alias("band_id", "band_hash")
    )


def _probe_new_against_old(sigs: DataFrame) -> DataFrame:
    """Band-join the new batch (doc_id % CROSS_NEW_MOD >= 8) against
    the existing corpus' bands, verify candidates by signature
    agreement, emit (new_doc_id, match_doc_id, est_jaccard) dup edges
    at threshold CROSS_TAU. Shared by the recompute-per-run form
    (dedup_cross_corpus) and the persisted-index form
    (dedup_index_probe)."""
    bands = _bands_from_sigs(sigs)
    is_new = (F.col("doc_id") % CROSS_NEW_MOD) >= 8
    new_b = bands.filter(is_new).alias("n")
    old_b = bands.filter(~is_new).alias("o")
    cand = (
        new_b.join(
            old_b,
            (F.col("n.band_id") == F.col("o.band_id"))
            & (F.col("n.band_hash") == F.col("o.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("o.doc_id").alias("match_doc_id"),
        )
        .distinct()
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    eq = sum(
        F.when(F.col(f"sa.s{i}") == F.col(f"sb.s{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    return (
        cand.join(sa, F.col("new_doc_id") == F.col("sa.doc_id"))
        .join(sb, F.col("match_doc_id") == F.col("sb.doc_id"))
        .select(
            "new_doc_id",
            "match_doc_id",
            (eq.cast("double") / N_MINHASH).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= CROSS_TAU)
        .orderBy("new_doc_id", "match_doc_id")
    )


# ---------------------------------------------------------------------------
# Persisted MinHash index: build-once / probe-many. The cross-corpus
# query above recomputes signatures every run; the operational form
# keeps the signature table stored and refreshed incrementally, and
# probes derive bands from STORED signatures — document text is never
# rescanned at probe time (plan-asserted in test_plan_quality).
# ---------------------------------------------------------------------------


def _minhash_index_fq(sf_dir: str) -> str:
    import hashlib

    tag = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:8]
    return f"default.__minhash_sig_index_{tag}__"


def _minhash_refresh(spark: SparkSession, tbl: str, corpus: DataFrame) -> None:
    """Sync the stored signature table ``tbl`` to ``corpus`` (doc_id,
    text). Shingling — the expensive text pass — runs ONLY over new
    docs; docs gone from the corpus are tombstoned, re-inserts and
    tombstone growth trigger compaction (functions/index_store.py) —
    all O(changed batch)."""
    from risingwave_py_spark.functions.index_store import refresh_stored_index

    wh_expr, sh_expr = _spark_shingle_hashes()

    def make_rows(new_ids: DataFrame) -> DataFrame:
        return (
            fanout(corpus.join(new_ids, "doc_id", "left_semi"))
            .selectExpr("doc_id", f"{wh_expr} AS __wh")
            .selectExpr("doc_id", f"{sh_expr} AS __hs")
            .selectExpr(
                "doc_id",
                *[f"{_spark_sig_expr(i)} AS s{i}" for i in range(N_MINHASH)],
            )
        )

    refresh_stored_index(spark, tbl, corpus.select("doc_id"), "doc_id", make_rows)


def _ensure_minhash_index(spark: SparkSession, sf_dir: str) -> str:
    """Create-or-incrementally-refresh the stored signature table
    (doc_id, s0..s15). Incremental in both directions: new docs are
    shingled and appended (O(new batch)); deleted docs are tombstoned
    so probes stop matching them (O(deleted batch)). In an engine
    deployment the changed-id sets come from the table changelog
    (index_maintenance_scenario wires exactly that)."""
    tbl = _minhash_index_fq(sf_dir)
    _minhash_refresh(
        spark, tbl, table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return tbl


@register(
    "dedup_index_build",
    oracle=rf"""
    WITH {_minhash_pair_ctes()}
    SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets
    FROM bands GROUP BY band_id ORDER BY band_id
    """,
)
def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or incrementally refresh) the persisted MinHash
    signature index and report its band histogram FROM THE STORED
    TABLE — validating exactly what probes will read."""
    from risingwave_py_spark.functions.index_store import live_index

    tbl = _ensure_minhash_index(spark, sf_dir)
    return (
        _bands_from_sigs(live_index(spark, tbl, "doc_id"))
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("band_hash").alias("n_buckets"),
        )
        .orderBy("band_id")
    )


@register("dedup_index_probe", oracle=_cross_corpus_oracle())
def dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe the PERSISTED signature index: same dup-edge contract as
    dedup_cross_corpus, but signatures — both the new batch's and the
    stored corpus side's — come from the index table, so the probe
    plan never rescans document text. At 100 TB each daily run costs
    O(batch) band lookups against stored posting lists."""
    from risingwave_py_spark.functions.index_store import live_index

    tbl = _ensure_minhash_index(spark, sf_dir)
    return _probe_new_against_old(live_index(spark, tbl, "doc_id"))


# Privacy-deletion batch for the dedup index-DML scenario (ids exist at
# every SF; see TESTDATA.md — doc_id is 0..N-1 everywhere).
_DOC_DML_GONE = "doc_id >= 200 AND doc_id < 260"
_DOC_DML_BACK = 200


@register(
    "dedup_index_dml",
    oracle=rf"""
    WITH {{ctes}}
    SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT band_hash) AS BIGINT) AS n_buckets
    FROM bands GROUP BY band_id ORDER BY band_id
    """.format(
        ctes=_minhash_pair_ctes(
            where=f"NOT ({_DOC_DML_GONE}) OR doc_id = {_DOC_DML_BACK}"
        )
    ),
)
def dedup_index_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML maintenance of the persisted MinHash signature index: full
    build, a privacy-deletion batch (60 docs tombstoned — no index
    rewrite, no re-shingling of survivors), then one deleted doc
    re-inserted (compaction path). The final LIVE band histogram must
    equal a from-scratch signature pass over the surviving corpus —
    proving stale signature rows are invisible to probes and the
    returning doc is back. Own index table; the append-only
    build/probe pair is untouched."""
    from risingwave_py_spark.functions.index_store import (
        drop_stored_index,
        live_index,
    )

    tbl = _minhash_index_fq(sf_dir) + "_dml"
    drop_stored_index(spark, tbl)  # self-contained: fresh build each run
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    _minhash_refresh(spark, tbl, d)
    _minhash_refresh(spark, tbl, d.filter(f"NOT ({_DOC_DML_GONE})"))
    _minhash_refresh(
        spark, tbl,
        d.filter(f"NOT ({_DOC_DML_GONE}) OR doc_id = {_DOC_DML_BACK}"),
    )
    return (
        _bands_from_sigs(live_index(spark, tbl, "doc_id"))
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("band_hash").alias("n_buckets"),
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# Duplicated-span detection (ExactSubstr-style, Lee et al. 2021
# "Deduplicating Training Data Makes Language Models Better").
# Reference has no corpus operators (it is a client SDK,
# /root/reference/risingwave/core.py); this extends the BASELINE.json
# extension surface with the span-level twin of dedup_exact_docs.

SPAN_TOKENS = 16  # non-overlapping span width

_SPAN_TEXT_DUCK = (
    "array_to_string(regexp_split_to_array(text, '\\s+')"
    f"[i*{SPAN_TOKENS}+1 : i*{SPAN_TOKENS}+{SPAN_TOKENS}], ' ')"
)


@register(
    "dedup_span_exact",
    oracle=rf"""
    WITH spans AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   generate_series(0, len(regexp_split_to_array(text, '\s+')) // {SPAN_TOKENS} - 1),
                   i -> {duck_hash32(_SPAN_TEXT_DUCK)}
               )) AS span_hash
        FROM documents
        WHERE len(regexp_split_to_array(text, '\s+')) >= {SPAN_TOKENS}
    ), freq AS (
        SELECT span_hash, COUNT(DISTINCT doc_id) AS df
        FROM spans GROUP BY span_hash
    ), per_doc AS (
        SELECT s.doc_id, s.source,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
        FROM spans s JOIN freq f USING (span_hash)
        GROUP BY s.doc_id, s.source
    )
    SELECT doc_id, source, n_spans, dup_spans,
           round(CAST(dup_spans AS DOUBLE) / n_spans, 6) AS dup_fraction,
           (CAST(dup_spans AS DOUBLE) / n_spans) < 0.5 AS keep
    FROM per_doc
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup: hash every non-overlapping 16-token
    span, count cross-document span frequency, and score each doc by
    the fraction of its spans that also appear in another document.

    100 TB shape: the span relation is one narrow (doc_id, span_hash)
    table — a projection inside codegen (NO per-shingle string
    shuffle; only the 8-byte hashes move). Frequency is a two-phase
    hash aggregate; the scoring join keys on span_hash so AQE handles
    any hot-span skew. This is the standard scalable approximation of
    suffix-array ExactSubstr dedup."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.split(F.col("text"), r"\s+").alias("ws")
    )
    # ws is a projected column so the tokenizer runs once per row —
    # split(...) inside the lambda would re-run per span.
    spans = (
        d.filter(F.size(F.col("ws")) >= SPAN_TOKENS)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) DIV {SPAN_TOKENS} - 1), "
                    f"i -> "
                    + spark_hash32(
                        f"array_join(slice(ws, i*{SPAN_TOKENS}+1, {SPAN_TOKENS}), ' ')"
                    )
                    + ")"
                )
            ).alias("span_hash"),
        )
    )
    # ONE tokenize+hash pass AND one shuffle of the span relation:
    # repartition by span_hash up front, then let that single exchange
    # serve every downstream distribution requirement —
    # HashPartitioning(span_hash) satisfies the (doc, source,
    # span_hash) aggregate's clustering AND the span_hash window's, so
    # neither adds an exchange. Document frequency is a window count
    # over the collapsed relation (each (doc, span_hash) group is one
    # row, so COUNT(*) OVER (PARTITION BY span_hash) ≡ the oracle's
    # COUNT(DISTINCT doc_id): doc_id→source is functional). The
    # previous shape aggregated frequencies in a separate branch and
    # joined it back, which shuffled the span relation a second time
    # (exchange-reuse covered the branches, not the join side) and
    # needed an anti-column-pruning idiom to keep the branches
    # identical; the window form has one consumer, so nothing to
    # defeat. n_spans/dup_spans re-derive exactly from the per-doc
    # instance counts.
    from pyspark.sql import Window as W

    per_span = (
        spans.repartition("span_hash")
        .groupBy("doc_id", "source", "span_hash")
        .agg(F.count("*").alias("inst"))
        .withColumn("df", F.count("*").over(W.partitionBy("span_hash")))
    )
    per_doc = per_span.groupBy("doc_id", "source").agg(
        F.sum("inst").alias("n_spans"),
        F.sum(
            F.when(F.col("df") >= 2, F.col("inst")).otherwise(F.lit(0))
        ).alias("dup_spans"),
    )
    frac = F.col("dup_spans").cast("double") / F.col("n_spans")
    return per_doc.select(
        "doc_id",
        "source",
        "n_spans",
        "dup_spans",
        F.round(frac, 6).alias("dup_fraction"),
        (frac < 0.5).alias("keep"),
    )


@register(
    "dedup_exact_normalized",
    oracle=r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_raw_variants
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup — the hash most production pipelines
    actually group on: lowercase, strip non-alphanumerics, collapse
    whitespace, THEN md5. Catches trivially-reformatted copies that
    raw-byte hashing misses; n_raw_variants counts how many distinct
    raw texts collapsed into each normalized group.

    100 TB shape: identical to dedup_exact_docs — normalization is a
    codegen projection, then one two-phase hash aggregate on the
    16-byte hash. Zero extra shuffles over the raw variant."""
    d = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select(F.md5(norm).alias("norm_hash"), "doc_id", F.md5("text").alias("raw_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
    )


# ---------------------------------------------------------------------------
# Capstone v2: the round-2 curation pipeline — normalized-hash
# canonicalization → duplicated-span gate → unigram-LM quality gate →
# per-source yield. Composes dedup_exact_normalized, dedup_span_exact
# and text_unigram_logprob into ONE query, the way a production
# curation DAG chains stages over a single corpus snapshot.

_V2_NORM_DUCK = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g')))"
)


_V2_SPAN_TEXT_DUCK = _SPAN_TEXT_DUCK.replace(
    "regexp_split_to_array(text, '\\s+')", "ws"
)


def _v2_oracle() -> str:
    span_hash = duck_hash32(_V2_SPAN_TEXT_DUCK)
    return rf"""
    WITH base AS (
        SELECT doc_id, source, text, regexp_split_to_array(text, '\s+') AS ws,
               {_V2_NORM_DUCK} AS norm_hash
        FROM documents
    ), keep1 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rnk
            FROM base
        ) q WHERE rnk = 1
    ), spans AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(0, len(ws) // {SPAN_TOKENS} - 1),
                   i -> {span_hash}
               )) AS span_hash
        FROM keep1 WHERE len(ws) >= {SPAN_TOKENS}
    ), freq AS (
        SELECT span_hash, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY span_hash
    ), dupfrac AS (
        SELECT s.doc_id,
               CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS dup_fraction
        FROM spans s JOIN freq f USING (span_hash) GROUP BY s.doc_id
    ), keep2 AS (
        SELECT k.* FROM keep1 k LEFT JOIN dupfrac d USING (doc_id)
        WHERE COALESCE(d.dup_fraction, 0) < 0.5
    ), tok AS (
        SELECT doc_id, source, lower(unnest(ws)) AS w FROM keep2
    ), vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok
    ), scored AS (
        SELECT t.doc_id, t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               round(SUM(ln(CAST(v.c AS DOUBLE) / tot.n)) / COUNT(*), 6) AS avg_lp
        FROM tok t JOIN vocab v USING (w) CROSS JOIN tot
        GROUP BY t.doc_id, t.source
    ), thresh AS (
        SELECT round(AVG(avg_lp), 4) AS mean_lp FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept,
           round(AVG(avg_lp), 4) AS avg_quality
    FROM scored CROSS JOIN thresh
    WHERE avg_lp >= mean_lp
    GROUP BY source
    """


@register("pipeline_curate_corpus_v2", oracle=_v2_oracle())
def pipeline_curate_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 curation capstone, one composed query: (1) NORMALIZED
    exact dedup (lowercase/strip/collapse hash, min-doc_id survivor),
    (2) duplicated-span gate (< 50% of 16-token spans shared with
    another surviving doc), (3) unigram-LM quality gate (per-doc mean
    token log-probability at or above the surviving corpus's mean),
    then per-source yield: docs, tokens, mean quality.

    Scale shape: each stage is the proven plan of its standalone
    operator — codegen normalization + one hash aggregate; span-hash
    projection + two-phase frequency; token join keyed on the word
    with a 1-row broadcast total — chained without ever shuffling
    document text (only hashes, tokens, and per-doc scalars move)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.split(F.col("text"), r"\s+").alias("ws")
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    w1 = Window.partitionBy("norm_hash").orderBy("doc_id")
    # checkpoint: keep1 feeds FIVE downstream branches (span index,
    # dup-fraction join-back, vocab, totals, scoring); without
    # materialization each branch re-runs the scan + md5 + window.
    keep1 = (
        d.withColumn("norm_hash", F.md5(norm))
        .withColumn("rnk", F.row_number().over(w1))
        .filter(F.col("rnk") == 1)
        .drop("rnk", "norm_hash", "text")
    ).localCheckpoint(eager=True)
    spans = (
        keep1.filter(F.size("ws") >= SPAN_TOKENS)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(ws) DIV {SPAN_TOKENS} - 1), "
                    f"i -> "
                    + spark_hash32(
                        f"array_join(slice(ws, i*{SPAN_TOKENS}+1, {SPAN_TOKENS}), ' ')"
                    )
                    + ")"
                )
            ).alias("span_hash"),
        )
    )
    freq = spans.groupBy("span_hash").agg(F.countDistinct("doc_id").alias("df"))
    dupfrac = (
        spans.join(freq, "span_hash")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("dup_fraction")
        )
    )
    keep2 = keep1.join(dupfrac, "doc_id", "left").filter(
        F.coalesce(F.col("dup_fraction"), F.lit(0.0)) < 0.5
    )
    tok = keep2.select(
        "doc_id", "source", F.explode("ws").alias("w0")
    ).select("doc_id", "source", F.lower("w0").alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint(
        eager=True
    )
    # corpus total from the (much smaller) vocab, not a second explode
    total = vocab.agg(F.sum("c").alias("n"))
    lp = F.log(F.col("c").cast("double") / F.col("n"))
    scored = (
        tok.join(vocab, "w")
        .join(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lp) / F.count("*"), 6).alias("avg_lp"),
        )
    )
    thresh = scored.agg(F.round(F.avg("avg_lp"), 4).alias("mean_lp"))
    return (
        scored.join(F.broadcast(thresh))
        .filter(F.col("avg_lp") >= F.col("mean_lp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
            F.round(F.avg("avg_lp"), 4).alias("avg_quality"),
        )
    )
