"""Text-analysis operators for LLM training-data pipelines
(BASELINE.json extension surface; runs over the `documents` fixture).

All of these stay JVM-side (built-in string/array functions inside
whole-stage codegen — no Python in the row loop), so they scale
linearly with input and shuffle only for final aggregations (most are
pure per-row maps: zero shuffles).

Portable hashing convention (shared with functions/dedup.py): 32-bit
hash = first 8 hex digits of md5, identical in Spark
(`conv(substring(md5(s),1,8),16,10)`) and DuckDB
(`('0x' || substring(md5(s),1,8))::BIGINT`) — verified bit-equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from risingwave_py_spark.catalog import fanout, table
from risingwave_py_spark.registry import register

# Language marker words (tiny stopword lists) for the n-gram/marker
# language-ID heuristic. Deterministic and oracle-replicable.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "on", "for", "with"]


def spark_hash32(col_sql: str) -> str:
    return f"CAST(conv(substring(md5({col_sql}), 1, 8), 16, 10) AS BIGINT)"


def duck_hash32(col_sql: str) -> str:
    return f"CAST(('0x' || substring(md5({col_sql}), 1, 8)) AS BIGINT)"


@register(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_split_to_array(text, '\s+')) AS n_tokens,
           length(text) AS n_chars_measured,
           n_chars,
           CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(text, '\s+')) AS chars_per_token
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + token statistics (pure map, no shuffle)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"\s+")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        "n_chars",
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
    )


@register(
    "text_quality_scores",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_split_to_array(text, '\s+') AS words,
               length(text) AS n_chars_m
        FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / n_chars_m AS punct_ratio,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / n_chars_m AS digit_ratio,
           CAST(len(list_filter(words, w -> list_contains({STOPWORDS!r}, w))) AS DOUBLE)
               / len(words) AS stopword_ratio,
           CAST(n_chars_m AS DOUBLE) / len(words) AS avg_word_len,
           CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: punctuation/digit/stopword ratios,
    mean word length, type-token ratio. The standard pre-filter stats
    for LLM corpus cleaning — all ratios are exact int/int divisions."""
    d = fanout(table(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), r"\s+")
    n_chars = F.length("text")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        (F.length(F.regexp_replace("text", r"[^.!?,;:]", "")).cast("double") / n_chars).alias(
            "punct_ratio"
        ),
        (F.length(F.regexp_replace("text", r"[^0-9]", "")).cast("double") / n_chars).alias(
            "digit_ratio"
        ),
        (
            F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double")
            / n_words
        ).alias("stopword_ratio"),
        (n_chars.cast("double") / n_words).alias("avg_word_len"),
        (F.size(F.array_distinct(words)).cast("double") / n_words).alias("distinct_ratio"),
    )


@register(
    "text_langid_markers",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS words
        FROM documents
    ), s AS (
        SELECT doc_id, lang,
               len(list_filter(words, w -> list_contains({LANG_MARKERS['en']!r}, w))) AS s_en,
               len(list_filter(words, w -> list_contains({LANG_MARKERS['es']!r}, w))) AS s_es,
               len(list_filter(words, w -> list_contains({LANG_MARKERS['de']!r}, w))) AS s_de,
               len(list_filter(words, w -> list_contains({LANG_MARKERS['fr']!r}, w))) AS s_fr,
               len(list_filter(words, w -> list_contains({LANG_MARKERS['zh']!r}, w))) AS s_zh
        FROM t
    )
    SELECT doc_id, lang,
           CASE
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted_lang,
           s_en + s_es + s_de + s_fr + s_zh AS marker_hits
    FROM s
    """,
)
def text_langid_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID heuristic with a deterministic
    tie-break order (en > es > de > fr > zh)."""
    d = table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    def marker_count(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    scores = {lang: marker_count(markers) for lang, markers in LANG_MARKERS.items()}
    s = d.select("doc_id", "lang", *[scores[k].alias(f"s_{k}") for k in LANG_MARKERS])
    c = F.col
    pred = (
        F.when(
            (c("s_en") >= c("s_es")) & (c("s_en") >= c("s_de"))
            & (c("s_en") >= c("s_fr")) & (c("s_en") >= c("s_zh")),
            "en",
        )
        .when((c("s_es") >= c("s_de")) & (c("s_es") >= c("s_fr")) & (c("s_es") >= c("s_zh")), "es")
        .when((c("s_de") >= c("s_fr")) & (c("s_de") >= c("s_zh")), "de")
        .when(c("s_fr") >= c("s_zh"), "fr")
        .otherwise("zh")
    )
    return s.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        (c("s_en") + c("s_es") + c("s_de") + c("s_fr") + c("s_zh")).alias("marker_hits"),
    )


@register(
    "text_fingerprint",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS words FROM documents
    ), pos AS (
        SELECT doc_id, words, unnest(generate_series(1, len(words) - 4)) AS i FROM w
    ), sh AS (
        SELECT doc_id,
               {duck_hash32("array_to_string(words[i:i+4], ' ')")} AS h
        FROM pos
    )
    SELECT doc_id, md5(text) AS content_hash, f.min_shingle_hash, f.n_shingles
    FROM documents
    JOIN (SELECT doc_id, MIN(h) AS min_shingle_hash, COUNT(*) AS n_shingles
          FROM sh GROUP BY doc_id) f USING (doc_id)
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash (md5) + a 1-function
    MinHash over 5-word shingles (rolling-hash analogue). Shingle
    hashing/min-reduction happens inside codegen via higher-order
    array functions — no explode, no shuffle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.split(F.col("text"), r"\s+").alias("ws"),
    )
    # ws is a projected column: split() inside the lambda would
    # re-tokenize per shingle (O(tokens²) per row).
    sh = (
        "transform(sequence(1, size(ws) - 4), "
        "i -> " + spark_hash32("array_join(slice(ws, i, 5), ' ')") + ")"
    )
    return d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.expr(f"array_min({sh})").alias("min_shingle_hash"),
        F.expr(f"size({sh})").cast("long").alias("n_shingles"),
    )


CHUNK_SIZE = 50
CHUNK_STRIDE = 40


@register(
    "text_chunk_windows",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS words FROM documents
    ), starts AS (
        SELECT doc_id, words, unnest(generate_series(1, len(words), {CHUNK_STRIDE})) AS i
        FROM w
    )
    SELECT doc_id,
           CAST((i - 1) / {CHUNK_STRIDE} AS INT) AS chunk_id,
           CAST(len(words[i:i + {CHUNK_SIZE - 1}]) AS INT) AS n_tokens,
           md5(array_to_string(words[i:i + {CHUNK_SIZE - 1}], ' ')) AS chunk_hash
    FROM starts
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-context chunking: split each document into overlapping
    {CHUNK_SIZE}-token windows with stride {CHUNK_STRIDE} (10-token
    overlap carries context across chunk boundaries, the standard LLM
    pretraining layout). One explode of start offsets per document —
    the chunk text itself is sliced inside codegen, so the shuffle-free
    per-row map scales linearly; emits (chunk_id, token count, content
    hash) per window."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.split("text", r"\s+").alias("words"),
        )
        .select(
            "doc_id",
            "words",
            F.explode(F.expr(f"sequence(1, size(words), {CHUNK_STRIDE})")).alias("i"),
        )
        .select(
            "doc_id",
            (((F.col("i") - 1) / CHUNK_STRIDE).cast("int")).alias("chunk_id"),
            F.expr(f"size(slice(words, i, {CHUNK_SIZE}))").cast("int").alias("n_tokens"),
            F.md5(F.expr(f"array_join(slice(words, i, {CHUNK_SIZE}), ' ')")).alias("chunk_hash"),
        )
    )


@register(
    "text_decontaminate",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, md5(array_to_string(ws[i:i+3], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(1, len(ws) - 3)) AS i
              FROM w) q
    )
    SELECT t.doc_id,
           COUNT(DISTINCT t.h) AS n_shared_shingles,
           COUNT(DISTINCT e.doc_id) AS n_eval_docs
    FROM (SELECT * FROM sh WHERE doc_id % 97 <> 0) t
    JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) e ON t.h = e.h
    GROUP BY t.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the training-pipeline op that drops
    training documents overlapping a held-out eval set (here: every
    97th doc plays the eval set). Word-level 4-gram shingles, keyed by
    md5 (128-bit: collision-free for any realistic corpus, and
    bit-identical in both engines), distinct per doc, then an
    equi-join eval-vs-train on the shingle key. Scale shape: the eval
    side is ~1% of the corpus, so it is explicitly `broadcast()` —
    contamination checking at 100 TB is one map-side hash probe per
    train shingle, no shuffle of the training corpus at all. Output:
    per contaminated train doc, how many distinct shingles leaked and
    from how many eval docs."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("ws")
    )
    # ws projected once per row — split() inside the lambda would
    # re-tokenize per shingle (O(tokens²) per row).
    words = F.col("ws")
    n = F.size(words)
    shingles = F.when(
        n >= 4,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(3)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, 4))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(shingles).alias("h")).distinct()
    ev = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .withColumnRenamed("doc_id", "eval_doc_id")
    )
    tr = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
    )


@register(
    "text_pii_redact",
    oracle=r"""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents WHERE doc_id < 500
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_emails,
           len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS n_phones,
           md5(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
                              '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5,
           length(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+', '[EMAIL]', 'g'),
                                 '\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS redacted_len
    FROM aug
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: count and redact emails and
    phone numbers. The fixture text carries no PII, so deterministic
    fake PII is appended per doc (derived from doc_id) — the redaction
    machinery (regexp_count + nested regexp_replace, RE2-and-Java
    common dialect) is what is under test; redacted_md5 proves both
    engines produced byte-identical redacted text. Pure per-row map:
    no shuffle, stays in WholeStageCodegen, linear at any scale."""
    email_re = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_re = r"\+1-555-[0-9]{4}"
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    red = F.regexp_replace(
        F.regexp_replace(F.col("t"), email_re, "[EMAIL]"), phone_re, "[PHONE]"
    )
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
        F.length(red).cast("long").alias("redacted_len"),
    )


@register(
    "text_repetition_ratio",
    oracle=r"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(ws) - 2),
                              i -> array_to_string(ws[i:i+2], ' ')) AS grams
        FROM w WHERE len(ws) >= 3
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           len(list_distinct(grams)) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
               AS rep_ratio
    FROM g
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher-style quality filter that
    drops boilerplate/looping text): fraction of word 3-grams that are
    duplicates of an earlier 3-gram in the same document. Everything
    happens inside one row — sequence/transform/array_distinct are
    codegen'd higher-order functions, so this is a zero-shuffle linear
    scan at any corpus size; the 3-gram list never leaves the row."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("ws")
    )
    # ws projected once per row (split-in-lambda re-evaluates per gram)
    words = F.col("ws")
    n = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(2)),
        lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
    )
    g = d.filter(n >= 3).select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct"),
    )
    return g.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams"), 6
        ).alias("rep_ratio"),
    )


@register(
    "corpus_vocab_stats",
    oracle=r"""
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT w) AS vocab,
           COUNT(DISTINCT doc_id) AS n_docs,
           round(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio,
           round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id), 6) AS tokens_per_doc
    FROM (
        SELECT doc_id, source, unnest(regexp_split_to_array(text, '\s+')) AS w
        FROM documents
    )
    GROUP BY source
    """,
)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary profile per source: token count,
    vocabulary size, type-token ratio, tokens per document — the
    summary a curation pipeline reports per crawl/domain. One explode
    followed by one aggregation; the distinct-counts rewrite to
    Spark's two-phase expand+partial-agg, so the shuffle carries
    (source, word) partials — bounded by vocabulary, not token count,
    at any scale. (For trillion-token corpora the documented fallback
    is approx_count_distinct — see tests/test_sketches.py.)"""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.split("text", r"\s+")).alias("w")
    )
    return tok.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("vocab"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.countDistinct("w").cast("double") / F.count("*"), 6).alias(
            "type_token_ratio"
        ),
        F.round(F.count("*").cast("double") / F.countDistinct("doc_id"), 6).alias(
            "tokens_per_doc"
        ),
    )


PACK_WINDOW = 1024  # tokens per training context window


@register(
    "text_pack_sequences",
    oracle=rf"""
    WITH t AS (
        SELECT source, doc_id,
               len(regexp_split_to_array(text, '\s+')) AS n_tok,
               SUM(len(regexp_split_to_array(text, '\s+')))
                   OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents
    )
    SELECT source,
           CAST(floor((cum - n_tok) / {PACK_WINDOW}.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           round(SUM(n_tok) / {PACK_WINDOW}.0, 6) AS fill_ratio
    FROM t
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concat-and-chunk each
    source's token stream into {PACK_WINDOW}-token context windows
    (docs in doc_id order; a doc belongs to the bin where it STARTS).
    Returns per-(source, bin) packing stats — doc count, token count,
    fill ratio — the packing-efficiency report a training-data
    pipeline emits before writing shards.

    Scale shape: one running-sum window partitioned by source (the
    packing shard), then one hash aggregate — a single shuffle keyed
    by source, no driver-side loop, no UDF. At 100 TB the shard key
    is (source, file-group) so no single partition holds a whole
    source's stream; the bin arithmetic is unchanged."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    n_tok = F.size(F.split("text", r"\s+"))
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    t = d.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
        F.sum(n_tok).over(w).alias("cum"),
    )
    return (
        t.groupBy(
            "source",
            F.floor((F.col("cum") - F.col("n_tok")) / float(PACK_WINDOW))
            .cast("long")
            .alias("bin_id"),
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.round(F.sum("n_tok") / float(PACK_WINDOW), 6).alias("fill_ratio"),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (perplexity proxy) — the KenLM-style
# filter from CCNet/Gopher pipelines, with the LM trained on the
# corpus itself. Extension surface (reference is a client SDK with no
# corpus operators, /root/reference/risingwave/core.py).


@register(
    "text_unigram_logprob",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents
    ), vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok
    )
    SELECT t.doc_id, t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(SUM(ln(CAST(v.c AS DOUBLE) / tot.n)) / COUNT(*), 6) AS avg_logprob,
           round(exp(-(SUM(ln(CAST(v.c AS DOUBLE) / tot.n)) / COUNT(*))), 4) AS ppl_proxy
    FROM tok t JOIN vocab v USING (w) CROSS JOIN tot
    GROUP BY t.doc_id, t.source
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained unigram
    LM: P(w) = count(w)/N over the whole corpus, each document scored
    by its mean token log-probability (and exp(-x) as a perplexity
    proxy). Low-probability-dense docs are the noise a KenLM filter
    would drop.

    100 TB shape: vocabulary build is a two-phase hash aggregate
    (map-side combine); the scoring join keys on the token, so the
    stop-word head is hot — AQE skew-join splits it, and the join
    carries only (doc_id, w) + an 8-byte count, never text. The
    total-count side is a 1-row broadcast."""
    d = fanout(table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = tok.agg(F.count("*").alias("n"))
    lp = F.log(F.col("c").cast("double") / F.col("n"))
    return (
        tok.join(vocab, "w")
        .join(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum(lp) / F.count("*"), 6).alias("avg_logprob"),
            F.round(F.exp(-(F.sum(lp) / F.count("*"))), 4).alias("ppl_proxy"),
        )
    )


@register(
    "heavy_hitter_bigrams",
    oracle=r"""
    WITH words AS (
        SELECT source, regexp_split_to_array(lower(text), '\s+') AS ws FROM documents
    ), bg AS (
        SELECT source,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                                     i -> ws[i] || ' ' || ws[i+1])) AS bigram
        FROM words
    ), counted AS (
        SELECT source, bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY source, bigram
    ), ranked AS (
        SELECT source, bigram, n,
               row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rnk
        FROM counted
    )
    SELECT source, bigram, n, rnk FROM ranked WHERE rnk <= 5
    """,
)
def heavy_hitter_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter n-gram mining: top-5 bigrams per source — the
    boilerplate/template detector in corpus curation (a bigram that
    dominates a source is navigation chrome or licence text).

    100 TB shape: bigram formation is a codegen projection
    (transform over the token array — no self-join of adjacent
    tokens); counting is a two-phase hash aggregate so the map-side
    combine collapses each partition's duplicates before the single
    shuffle; the top-k cut runs per source partition. Deterministic
    tie-break (count DESC, bigram ASC)."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "source", F.split(F.lower(F.col("text")), r"\s+").alias("ws")
    )
    # ws is a projected column: the split runs ONCE per row — putting
    # split(...) inside the lambda re-evaluates it per element (O(n²)
    # work per document; measured 6× slower at sf0.1).
    bg = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
            )
        ).alias("bigram"),
    )
    counted = bg.groupBy("source", "bigram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), "bigram")
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("source", "bigram", "n", "rnk")
    )


@register(
    "corpus_source_drift",
    oracle=r"""
    WITH tok AS (
        SELECT source, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        FROM documents
    ), src AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, w
    ), src_tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM src GROUP BY source
    ), corpus AS (
        SELECT w, CAST(SUM(c) AS BIGINT) AS cc FROM src GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(cc) AS BIGINT) AS nn FROM corpus
    )
    SELECT s.source,
           st.n AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           round(SUM((CAST(s.c AS DOUBLE) / st.n)
                     * ln((CAST(s.c AS DOUBLE) / st.n)
                          / (CAST(co.cc AS DOUBLE) / tot.nn))), 6) AS kl_divergence
    FROM src s
    JOIN src_tot st USING (source)
    JOIN corpus co USING (w)
    CROSS JOIN tot
    GROUP BY s.source, st.n
    """,
)
def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(source unigram ‖ corpus
    unigram). The data-quality monitor that flags a source whose
    token distribution has diverged from the corpus — a scraper gone
    wrong, a language shift, template pollution — before it trains.

    100 TB shape: two chained two-phase aggregates ((source, w) then
    w), one join keyed on the token (AQE handles the stop-word head),
    a 1-row broadcast total; KL folds per source in the final
    aggregate. Token text never leaves the (source, w, count)
    relation."""
    d = fanout(table(spark, sf_dir, "documents"))
    tok = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    )
    src = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    src_tot = src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = src.groupBy("w").agg(F.sum("c").alias("cc"))
    tot = corpus.agg(F.sum("cc").alias("nn"))
    p_s = F.col("c").cast("double") / F.col("n")
    p_c = F.col("cc").cast("double") / F.col("nn")
    return (
        src.join(src_tot, "source")
        .join(corpus, "w")
        .join(F.broadcast(tot))
        .groupBy("source", "n")
        .agg(
            F.count("*").alias("vocab_size"),
            F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_divergence"),
        )
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            "vocab_size",
            "kl_divergence",
        )
    )


@register(
    "text_char_entropy",
    oracle=r"""
    WITH chars AS (
        SELECT doc_id, substr(text, i, 1) AS ch
        FROM documents, LATERAL (
            SELECT unnest(generate_series(1, length(text))) AS i) t
    ), counts AS (
        SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars GROUP BY doc_id, ch
    ), lens AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
        FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id, l.n AS n_chars, l.n_distinct_chars,
           round(-SUM((CAST(c.c AS DOUBLE) / l.n)
                      * ln(CAST(c.c AS DOUBLE) / l.n)), 6) AS char_entropy
    FROM counts c JOIN lens l USING (doc_id)
    GROUP BY c.doc_id, l.n, l.n_distinct_chars
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    repetition/boilerplate detector (looping or template text has
    anomalously LOW entropy; binary junk anomalously high). Both
    engines index characters with substr over a position series, so
    the computation is bit-identical.

    100 TB shape: the char explode is O(bytes) rows but each row is
    (doc_id, 1 char) and the per-(doc, char) count collapses it with
    map-side combine before the single shuffle; alphabet size bounds
    the reduced relation at ~100 rows per doc."""
    d = fanout(table(spark, sf_dir, "documents"))
    chars = d.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substr(text, i, 1))")
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    lens = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_distinct_chars")
    )
    p = F.col("c").cast("double") / F.col("n")
    return (
        counts.join(lens, "doc_id")
        .groupBy("doc_id", "n", "n_distinct_chars")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("char_entropy"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "n_distinct_chars",
            "char_entropy",
        )
    )


# fixed, published-style weights for the logistic quality filter
QC_BIAS = -1.0
QC_W_STOP = 3.0
QC_W_DISTINCT = 2.0
QC_W_WLEN = -0.1
QC_WLEN_CENTER = 5.0


@register(
    "text_quality_classifier",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_split_to_array(text, '\s+') AS words,
               length(text) AS n_chars_m
        FROM documents
    ), f AS (
        SELECT doc_id, source,
               CAST(len(list_filter(words, w -> list_contains({STOPWORDS!r}, w))) AS DOUBLE)
                   / len(words) AS stop_r,
               CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dist_r,
               CAST(n_chars_m AS DOUBLE) / len(words) AS wlen
        FROM t
    )
    SELECT doc_id, source,
           round(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * stop_r
               + {QC_W_DISTINCT} * dist_r
               + {QC_W_WLEN} * (wlen - {QC_WLEN_CENTER})))), 6) AS quality_p,
           round(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * stop_r
               + {QC_W_DISTINCT} * dist_r
               + {QC_W_WLEN} * (wlen - {QC_WLEN_CENTER})))), 6) >= 0.5 AS keep
    FROM f
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fasttext-classifier stage of
    CCNet/RedPajama pipelines) as a deterministic logistic over the
    heuristic features: stopword ratio, type-token ratio, and mean
    word length, with fixed weights. p ≥ 0.5 keeps the doc; swap the
    hand weights for trained ones without touching the plan.

    100 TB shape: a pure codegen projection — feature extraction and
    the sigmoid run per-row inside whole-stage codegen, zero
    shuffles, no Python."""
    d = fanout(table(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), r"\s+")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_r = (
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).cast("double")
        / n_words
    )
    dist_r = F.size(F.array_distinct(words)).cast("double") / n_words
    wlen = F.length("text").cast("double") / n_words
    logit = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * stop_r
        + F.lit(QC_W_DISTINCT) * dist_r
        + F.lit(QC_W_WLEN) * (wlen - F.lit(QC_WLEN_CENTER))
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return d.select(
        "doc_id", "source", p.alias("quality_p"), (p >= 0.5).alias("keep")
    )


# GPT-2-style pretokenizer, simplified to the RE2∩Java common dialect
# (no lookahead): contractions, space-prefixed letter runs, digit
# runs, punctuation runs, residual whitespace.
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_SQL = BPE_PAT.replace("'", "''")  # SQL-literal-escaped


@register(
    "text_token_count_bpe",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT) AS bpe_tokens,
           round(CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS DOUBLE)
                 / len(regexp_split_to_array(text, '\s+')), 6) AS bpe_per_word
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex (the GPT-2
    pattern family: contractions / space-prefixed letter runs / digit
    runs / punctuation runs) next to the whitespace count — the
    tokens-per-word ratio is the cheap proxy for real tokenizer cost
    when budgeting a training mix. The pattern avoids lookahead so
    Spark's Java regex and DuckDB's RE2 match identical token streams.

    100 TB shape: pure codegen projection (regexp_count), zero
    shuffle."""
    d = fanout(table(spark, sf_dir, "documents"))
    ws = F.size(F.split(F.col("text"), r"\s+"))
    bpe = F.regexp_count(F.col("text"), F.lit(BPE_PAT))
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.round(bpe.cast("double") / ws, 6).alias("bpe_per_word"),
    )
