"""Corpus-curation queries over ``documents`` — the sampling / packing /
vocabulary layer of a training-data pipeline (SURVEY.md §7.4 extensions,
beyond the dedup/similarity families in queries.dedup / queries.similarity).

Every query is deterministic and float-free (ratios emitted as half-up
scaled integers), so the DuckDB oracle pins it bit-for-bit:

- ``doc_sample_stratified``: balanced per-source downsampling by ranking
  on a content-independent hash — the "cap every crawl source at N docs"
  op that keeps a corpus from being dominated by its biggest source.
- ``doc_pack_bins``: token-budget packing — assign consecutive documents
  to fixed-budget training bins via a running token sum.
- ``source_vocab_stats``: tokens / distinct types / type-token ratio per
  source — the vocabulary-diversity screen for low-quality sources.
- ``top_bigrams``: corpus-wide bigram frequency top-k — boilerplate and
  contamination detection.
- ``doc_repetition_flags``: Gopher-style within-document repetition
  signals (duplicate-trigram fraction, top-bigram mass) with a binary
  keep/drop flag.
- ``doc_chunks``: fixed-size overlapping character chunking — the
  context-window segmenter that turns documents into training sequences.
- ``tfidf_top_terms``: per-source characteristic terms by tf-idf —
  the "what is this source about" screen.
- ``pii_scrub_stats``: regex PII scrubbing (emails, phone numbers) with
  per-source redaction accounting. The synthetic corpus contains no PII,
  so the query deterministically injects one email + one phone per
  document first — the scrub kernel and its accounting are what's under
  test, identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_engineering_spark.functions import text as tx
from financial_data_engineering_spark.llm.dedup import tokens
from financial_data_engineering_spark.operators.packing import pack_bins
from financial_data_engineering_spark.partitioning import spread_by
from financial_data_engineering_spark.queries.registry import register
from financial_data_engineering_spark.tables import load

#: documents kept per source by the stratified sampler.
SAMPLE_PER_SOURCE = 10
#: token budget per packing bin.
BIN_TOKENS = 512
#: bigrams reported by top_bigrams.
TOP_BIGRAMS_K = 20


@register(
    "doc_split_assign",
    oracle=f"""
    WITH b AS (
        SELECT source, {tx.sql_content_split('text')} AS split
        FROM documents
    )
    SELECT source, split, count(*) AS n_docs
    FROM b GROUP BY source, split
    ORDER BY source, split
    """,
)
def doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-aware train/val/test split audit: assignment
    buckets on the content fingerprint (functions.text.content_split), so
    exact duplicates can never straddle train and test, then rolls up the
    per-source split sizes. Map-side expression + one small aggregate — no
    RNG, no extra shuffle beyond the rollup, identical assignment at any
    scale or partitioning."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.select("source", tx.content_split(F.col("text")).alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


@register(
    "doc_sample_stratified",
    oracle=f"""
    SELECT source, doc_id FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM documents
    ) WHERE rn <= {SAMPLE_PER_SOURCE}
    ORDER BY source, doc_id
    """,
)
def doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: keep the ``SAMPLE_PER_SOURCE``
    documents per source that rank lowest by md5(doc_id) — a balanced
    cap-per-source downsampler whose selection is content-independent,
    reproducible, and engine-replayable (no RNG state).

    TWO-PHASE SALTED top-k (round 8): a single source-partitioned rank
    window sorts the whole corpus in |sources| (~20) tasks — the
    fixed-cardinality-key bottleneck the finance family also fixed.
    Phase 1 ranks within (source, salt) — a deterministic
    xxhash64(doc_id) salt, so the shuffle spreads uniformly — keeping
    each bucket's local top-cap; the global top-cap per source is
    always contained in the union of local top-caps (same total order),
    so phase 2 re-ranks only |sources x salts x cap| rows. For
    RATE-based sampling at the 100 TB tier, prefer the windowless hash
    threshold (``md5 < p·2^128``) — same determinism, zero shuffle."""
    docs = load(spark, "documents", sf_dir)
    n_salts = 32
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts))
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    local = (
        docs.select("source", "doc_id", salt.alias("_salt"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= SAMPLE_PER_SOURCE)
    )
    w2 = Window.partitionBy("source").orderBy(*order)
    return (
        local.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= SAMPLE_PER_SOURCE)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


@register(
    "doc_mix_rebalance",
    oracle="""
    WITH w AS (
        SELECT source, doc_id,
               1 + (CAST(substr(source, 4) AS INT) % 3) AS wt
        FROM documents
    ),
    cnt AS (SELECT source, wt, count(*) AS n_docs FROM w GROUP BY source, wt),
    tot AS (SELECT sum(wt) AS W FROM cnt),
    nmax AS (SELECT min(n_docs * W // wt) AS N FROM cnt, tot),
    quota AS (
        SELECT source, CAST((N * wt) // W AS BIGINT) AS quota
        FROM cnt, tot, nmax
    ),
    ranked AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                   ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        FROM documents
    )
    SELECT r.source, r.doc_id, q.quota
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rn <= q.quota
    ORDER BY r.source, r.doc_id
    """,
)
def doc_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture rebalance: downsample every source to the exact
    quota of the largest corpus achievable at target weights (here a
    deterministic 1/2/3 weighting derived from the source name). All
    quota math is integer (N = min n_s·W div w_s; q_s = N·w_s div W) and
    selection ranks on md5(doc_id) — fully engine-replayable. Two
    corpus-side shuffles (count agg + rank window); quotas and the
    achievable-N scalar attach via broadcast."""
    from financial_data_engineering_spark.operators.mixing import (
        mixture_rebalance,
    )

    docs = load(spark, "documents", sf_dir)
    weight = F.expr("1 + (CAST(substr(source, 4, 10) AS INT) % 3)")
    return mixture_rebalance(docs, weight, "source", "doc_id").orderBy(
        "source", "doc_id"
    )


@register(
    "doc_pack_bins",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id, {tx.sql_token_count('text')} AS t
        FROM documents
    ), cum AS (
        SELECT source, doc_id, t,
               sum(t) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM toks
    )
    SELECT source,
           CAST((c - t) // {BIN_TOKENS} AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(t) AS BIGINT) AS bin_tokens
    FROM cum
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: walk each source's documents in doc_id order,
    keep a running token sum, and assign each document to bin
    ``floor(tokens_before / BIN_TOKENS)`` — the streaming approximation of
    packing documents into fixed-budget training sequences (a bin may
    overflow by at most one document, never underfill by more than the
    last document — the same guarantee greedy sequence packing gives).
    Pure integer arithmetic end to end.

    Plan: one shuffle keyed by source for the running-sum window, then a
    map-side-combinable rollup on (source, bin). At 100 TB the window
    partitions by source — if single sources are huge, sub-partition the
    running sum by (source, day) the way the streaming layer buckets
    events."""
    docs = load(spark, "documents", sf_dir)
    packed = pack_bins(
        docs.select("source", "doc_id", tx.token_count(F.col("text")).alias("t")),
        "source",
        "doc_id",
        "t",
        BIN_TOKENS,
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("t").cast("long")).alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@register(
    "source_vocab_stats",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ), agg AS (
        SELECT source,
               count(*) AS n_tokens,
               count(DISTINCT tok) AS n_types
        FROM tok WHERE tok != ''
        GROUP BY source
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST((2 * n_types * 10000 + n_tokens) // (2 * n_tokens) AS BIGINT)
               AS ttr_e4
    FROM agg
    ORDER BY source
    """,
)
def source_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diversity per source: total tokens, distinct types, and
    the type-token ratio as a half-up scaled integer (``ttr_e4`` = TTR ×
    10⁴ — float-free like every ratio in this engine). Low TTR flags
    templated/boilerplate sources before they flood a training mix.

    Plan: explode tokens (map-side), then one aggregation keyed by source
    with a distinct on (source, token) — two shuffles total, both on keys
    with source-bounded cardinality; at 100 TB swap the exact distinct for
    approx_count_distinct and keep the same query shape."""
    docs = load(spark, "documents", sf_dir)
    return (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.expr("(2 * n_types * 10000 + n_tokens) div (2 * n_tokens)").alias(
                "ttr_e4"
            ),
        )
        .orderBy("source")
    )


@register(
    "top_bigrams",
    oracle=f"""
    WITH arrs AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS a
        FROM documents
    ), bg AS (
        SELECT unnest(list_transform(range(1, len(a)),
                      j -> a[CAST(j AS INT)] || ' '
                           || a[CAST(j + 1 AS INT)])) AS bigram
        FROM arrs
    )
    SELECT bigram, count(*) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {TOP_BIGRAMS_K}
    """,
)
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency top-k — the boilerplate /
    benchmark-contamination screen. Positioned bigrams come from the same
    posexplode + lead plan as winnowing's shingles (position-sensitive,
    duplicates kept); the count is a map-side-combinable groupBy and the
    top-k plans as TakeOrderedAndProject (no full sort materializes).
    Ties broken by bigram text for cross-engine determinism."""
    docs = load(spark, "documents", sf_dir)
    # spread BEFORE the positioned explode (the shingle_rows lesson):
    # the compressed corpus scans as one input partition, so without
    # the spread the explode + bigram window feed runs single-task; the
    # bigram window keys on doc_id, so the explicit hash repartition is
    # the exchange it needs anyway — net added shuffles zero.
    tok_rows = spread_by(docs, "doc_id").select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        tok_rows.select(
            F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w)).alias(
                "bigram"
            ),
            F.lead("tok", 1).over(w).alias("_nxt"),
        )
        .filter(F.col("_nxt").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(TOP_BIGRAMS_K)
    )


#: doc_chunks: chunk size / stride in characters (overlap = CHUNK - STRIDE).
CHUNK_CHARS = 200
CHUNK_STRIDE = 150
#: doc_repetition_flags thresholds (scaled 1e4): flag when the duplicate
#: trigram fraction >= 5% or the most common bigram carries >= 10% of
#: bigram mass.
REP_DUP_TRI_E4 = 500
REP_TOP_BI_E4 = 1000
#: tfidf_top_terms: terms reported per source.
TFIDF_TOP_K = 5

#: PII regexes — identical semantics in Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\(555\\) [0-9]{3}-[0-9]{4}"


@register(
    "doc_repetition_flags",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
        FROM documents
    ), g AS (
        SELECT doc_id, 2 AS n,
               unnest(list_transform(range(1, len(a)),
                      j -> a[CAST(j AS INT)] || ' ' || a[CAST(j+1 AS INT)])) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, 3,
               unnest(list_transform(range(1, len(a) - 1),
                      j -> a[CAST(j AS INT)] || ' ' || a[CAST(j+1 AS INT)]
                           || ' ' || a[CAST(j+2 AS INT)]))
        FROM toks
    ), c AS (
        SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram
    ), d AS (
        SELECT doc_id,
               sum(CASE WHEN n = 3 THEN c ELSE 0 END) AS tri_total,
               sum(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS tri_distinct,
               sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS bi_total,
               max(CASE WHEN n = 2 THEN c END) AS bi_max
        FROM c GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(tri_total AS BIGINT) AS n_trigrams,
           CAST(CASE WHEN tri_total > 0 THEN
               (2 * (tri_total - tri_distinct) * 10000 + tri_total)
                   // (2 * tri_total) ELSE 0 END AS BIGINT) AS dup_tri_e4,
           CAST(CASE WHEN bi_total > 0 THEN
               (2 * bi_max * 10000 + bi_total) // (2 * bi_total)
               ELSE 0 END AS BIGINT) AS top_bi_e4,
           CAST(CASE WHEN (CASE WHEN tri_total > 0 THEN
                   (2 * (tri_total - tri_distinct) * 10000 + tri_total)
                       // (2 * tri_total) ELSE 0 END) >= {REP_DUP_TRI_E4}
                 OR (CASE WHEN bi_total > 0 THEN
                   (2 * bi_max * 10000 + bi_total) // (2 * bi_total)
                   ELSE 0 END) >= {REP_TOP_BI_E4}
               THEN 1 ELSE 0 END AS BIGINT) AS flagged
    FROM d
    ORDER BY doc_id
    """,
)
def doc_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition screen in the spirit of the Gopher /
    MassiveText quality rules: the fraction of word-trigram occurrences
    that are repeats (``dup_tri_e4``) and the mass of the single most
    frequent bigram (``top_bi_e4``), both half-up 1e4-scaled integers,
    plus a keep/drop ``flagged`` bit. Repetitive boilerplate (nav bars,
    templated pages) scores high on both and gets dropped before training.

    Plan shape: tokenize once in a lower projection (the CollapseProject
    escape hatch keeps the split from re-inlining into each gram lambda),
    build positioned bi+tri-grams map-side, then two keyed aggregations —
    (doc_id, n, gram) then (doc_id) — so everything clusters on doc_id and
    scales per-document with no corpus-wide state."""
    docs = load(spark, "documents", sf_dir)
    # Pre-explode repartition: the compressed documents file is one input
    # partition, so the positioned bi+tri-gram fan-out (|tokens| x 2 rows
    # per doc) would otherwise run in a single task (measured 15.7 s at
    # the sf1 replica). Spread the doc rows before the explosion.
    toked = spread_by(docs, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("a")
    )

    def gram(n: int) -> F.Column:
        idx = F.sequence(F.lit(1), F.size("a") - (n - 1))
        g = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at("a", (i + j).cast("int")) for j in range(n)]
            ),
        )
        empty = F.array().cast("array<string>")
        return F.when(F.size("a") >= n, g).otherwise(empty)

    grams = toked.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(gram(2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram"))),
                F.transform(gram(3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram"))),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))

    per_doc = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n") == 3, F.col("c")).otherwise(0)).alias("tri_total"),
            F.sum(F.when(F.col("n") == 3, 1).otherwise(0)).alias("tri_distinct"),
            F.sum(F.when(F.col("n") == 2, F.col("c")).otherwise(0)).alias("bi_total"),
            F.max(F.when(F.col("n") == 2, F.col("c"))).alias("bi_max"),
        )
    )
    dup_tri = (
        "CASE WHEN tri_total > 0 THEN (2 * (tri_total - tri_distinct) * 10000"
        " + tri_total) div (2 * tri_total) ELSE 0 END"
    )
    top_bi = (
        "CASE WHEN bi_total > 0 THEN (2 * bi_max * 10000 + bi_total)"
        " div (2 * bi_total) ELSE 0 END"
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("tri_total").cast("bigint").alias("n_trigrams"),
            F.expr(dup_tri).cast("bigint").alias("dup_tri_e4"),
            F.expr(top_bi).cast("bigint").alias("top_bi_e4"),
            F.expr(
                f"CAST(CASE WHEN ({dup_tri}) >= {REP_DUP_TRI_E4}"
                f" OR ({top_bi}) >= {REP_TOP_BI_E4} THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_chunks",
    oracle=f"""
    WITH spans AS (
        SELECT doc_id, text,
               unnest(range(0, 1 + (greatest(0, length(text) - {CHUNK_CHARS})
                                    + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}))
                   AS chunk_id
        FROM documents
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * {CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
           CAST(length(substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),
                              {CHUNK_CHARS})) AS BIGINT) AS chunk_len,
           md5(substr(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),
                      {CHUNK_CHARS})) AS chunk_md5
    FROM spans
    ORDER BY doc_id, chunk_id
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size character chunking — the segmenter that turns
    long documents into training-context windows ({CHUNK_CHARS}-char chunks
    every {CHUNK_STRIDE} chars, so consecutive chunks overlap by 50 chars
    and every character lands in at least one chunk; the final chunk may be
    short). Emits the md5 of each chunk rather than its text so the output
    stays narrow — downstream exact-dedup of chunks joins on that key.

    Map-only: chunk ids come from ``sequence`` + ``explode`` and each chunk
    is a ``substring`` — no shuffle anywhere (the trailing sort is
    presentation). Scales linearly in corpus bytes with ~1.33x write
    amplification from the overlap."""
    docs = load(spark, "documents", sf_dir)
    n_chunks = (
        f"1 + (greatest(0, length(text) - {CHUNK_CHARS})"
        f" + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}"
    )
    chunk = (
        f"substring(text, CAST(chunk_id * {CHUNK_STRIDE} + 1 AS INT),"
        f" {CHUNK_CHARS})"
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.expr(f"sequence(0, ({n_chunks}) - 1)")).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("bigint").alias("chunk_start"),
            F.length(F.expr(chunk)).cast("bigint").alias("chunk_len"),
            F.md5(F.expr(chunk)).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tok2 AS (
        SELECT * FROM tok WHERE term != ''
    ), tf AS (
        SELECT source, term, count(*) AS tf FROM tok2 GROUP BY source, term
    ), dfq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term
    ), scored AS (
        SELECT source, term, tf, df,
               round(tf * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                             / df), 9) AS s9
        FROM tf JOIN dfq USING (term)
    ), ranked AS (
        SELECT source, term, tf, df, s9,
               row_number() OVER (PARTITION BY source
                                  ORDER BY s9 DESC, term) AS rank
        FROM scored
    )
    SELECT source, CAST(rank AS BIGINT) AS rank, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           round(s9, 4) AS tfidf
    FROM ranked WHERE rank <= {TFIDF_TOP_K}
    ORDER BY source, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic vocabulary: the {TFIDF_TOP_K} terms with
    the highest tf-idf (term frequency within the source x ln(N/df)
    inverse document frequency over the corpus). Surfaces what makes each
    source distinctive — and exposes template sources whose "top" terms
    are navigation boilerplate. Scores are rounded to 9 digits BEFORE the
    rank window (ties then broken by term) so the ordering is identical on
    both engines; the emitted score rounds to 4.

    Two keyed aggregations over the exploded token stream (per-source tf,
    per-term df), a shuffle join on term, and a per-source top-k window.
    The corpus size N attaches as a broadcast of a single aggregated row —
    the one whitelisted nested-loop join shape: a map-side scalar, not a
    shuffle. At 100 TB you'd persist the token stream once instead of
    scanning twice; the aggregation shapes are unchanged."""
    docs = load(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # Two-phase salted top-k (round 8): ~20 source values would make a
    # single source-partitioned window sort the whole scored vocabulary
    # in 20 tasks; rank within (source, term-hash salt) first, then
    # re-rank the |sources x salts x K| union.
    order = [F.desc("s9"), F.asc("term")]
    w1 = Window.partitionBy("source", "_salt").orderBy(*order)
    w2 = Window.partitionBy("source").orderBy(*order)
    return (
        tf.join(dfq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "s9",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 9),
        )
        .withColumn("_salt", F.pmod(F.xxhash64(F.col("term")), F.lit(32)))
        .withColumn("rank", F.row_number().over(w1))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .drop("_salt", "rank")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("s9", 4).alias("tfidf"),
        )
        .orderBy("source", "rank")
    )


@register(
    "pii_scrub_stats",
    oracle=f"""
    WITH aug AS (
        SELECT source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example call (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents
    ), scrubbed AS (
        SELECT source, t,
               len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_email,
               len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phone,
               regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM aug
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(length(t) - length(clean)) AS BIGINT) AS chars_redacted,
           min(md5(clean)) AS scrub_md5
    FROM scrubbed
    GROUP BY source
    ORDER BY source
    """,
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub with per-source accounting: find and replace email
    addresses and phone numbers, report how many of each were redacted and
    how many characters the redaction removed, plus a deterministic
    checksum (min md5 of scrubbed text) proving both engines produced the
    identical scrubbed corpus. The synthetic documents contain no PII, so
    one email and one phone are deterministically injected per document —
    the kernel under test is the scrub itself.

    Map-only regex work (Java regex and RE2 agree on these pattern
    classes) followed by one keyed rollup; scales linearly and embarrasses
    nothing at 100 TB. A production scrub emits the ``clean`` column as
    the new corpus; this query emits the accounting."""
    docs = load(spark, "documents", sf_dir)
    aug = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example call (555) 010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    scrubbed = aug.select(
        "source",
        "t",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), 0)).alias("n_email"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), 0)).alias("n_phone"),
        F.regexp_replace(
            F.regexp_replace("t", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("clean"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").cast("bigint").alias("n_emails"),
            F.sum("n_phone").cast("bigint").alias("n_phones"),
            F.sum(F.length("t") - F.length("clean")).cast("bigint").alias(
                "chars_redacted"
            ),
            F.min(F.md5("clean")).alias("scrub_md5"),
        )
        .orderBy("source")
    )


@register(
    "doc_dense_ids",
    oracle="""
    SELECT doc_id,
           row_number() OVER (ORDER BY source, doc_id) AS seq_id
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous training-sample ids ordered by (source, doc_id),
    computed the scale-safe way: range-repartition + per-partition ranks
    + driver-side prefix-sum offsets (operators/ids.py) instead of the
    single-partition global window. The oracle IS the single-partition
    global window — both must agree exactly, which pins the offset
    arithmetic and the range-partition total ordering."""
    from financial_data_engineering_spark.operators.ids import dense_row_ids

    docs = load(spark, "documents", sf_dir).select("doc_id", "source")
    return dense_row_ids(docs, ["source", "doc_id"]).select(
        "doc_id", "seq_id"
    ).orderBy("doc_id")


@register(
    "source_vocab_overlap",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    ), tk AS (SELECT source, tok FROM tok WHERE tok != ''),
    sizes AS (
        SELECT source, count(*) AS n_types FROM tk GROUP BY source
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM tk a JOIN tk b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT s.source_a,
           s.source_b,
           CAST(sa.n_types AS BIGINT) AS n_types_a,
           CAST(sb.n_types AS BIGINT) AS n_types_b,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST((2 * s.n_shared * 1000000
                 + (sa.n_types + sb.n_types - s.n_shared))
                // (2 * (sa.n_types + sb.n_types - s.n_shared)) AS BIGINT)
               AS jaccard_e6
    FROM shared s
    JOIN sizes sa ON sa.source = s.source_a
    JOIN sizes sb ON sb.source = s.source_b
    ORDER BY source_a, source_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between corpus segments: for every source pair,
    the shared distinct-type count and the exact Jaccard similarity of
    their vocabularies (``jaccard_e6``, half-up integer) — the mixture
    designer's redundancy matrix (two sources with near-identical
    vocabularies add diversity on paper only).

    Scale shape: documents collapse to DISTINCT (source, token) FIRST —
    the quadratic step then runs on vocabulary sizes, not token counts,
    and the pair join is an equi-join on the token (inverted-index
    style: a token contributes |sources-containing-it|² pairs, bounded
    by the segment count squared, never |docs|²). Three shuffles: the
    distinct collapse, the token-keyed pair count, the per-source size
    aggregate that attaches by broadcast."""
    docs = load(spark, "documents", sf_dir)
    tk = (
        docs.select(
            "source", F.explode(tokens(F.col("text"))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    from financial_data_engineering_spark.llm.caching import persist_tracked

    tk = persist_tracked(tk)
    sizes = tk.groupBy("source").agg(F.count(F.lit(1)).alias("n_types"))
    a = tk.select(F.col("source").alias("source_a"), "tok")
    b = tk.select(F.col("source").alias("source_b"), "tok")
    shared = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_types").alias("n_types_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_types").alias("n_types_b")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_types_a",
            "n_types_b",
            "n_shared",
            F.expr(
                "(2 * n_shared * 1000000 + (n_types_a + n_types_b - n_shared))"
                " div (2 * (n_types_a + n_types_b - n_shared))"
            ).alias("jaccard_e6"),
        )
        .orderBy("source_a", "source_b")
    )


#: BM25 ranking contract constants, shared verbatim between the Spark
#: expressions and the oracle. Float literals use E-notation ONLY (a bare
#: ``0.5`` parses as DECIMAL in both engines and decimal rules differ);
#: k1 = 1.2, b = 0.75 appear pre-multiplied into the expressions below.
BM25_QUERY_TERMS = ("spark", "join", "window", "stream")
BM25_TOP_K = 25
#: idf: the Lucene/ATIRE positive form ln(1 + (N − df + ½)/(df + ½)).
_BM25_IDF = (
    "ln(1E0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5E0)"
    " / (CAST(df AS DOUBLE) + 0.5E0))"
)
#: tf normalization: tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
_BM25_TFN = (
    "(CAST(tf AS DOUBLE) * 2.2E0) / (CAST(tf AS DOUBLE)"
    " + 1.2E0 * (0.25E0 + 0.75E0 * CAST(dl AS DOUBLE) / avgdl))"
)
#: per-(doc, term) contribution, quantized to an e9 integer BEFORE the
#: per-doc sum so the cross-row accumulation is exact integer addition
#: (float sums legally differ by shuffle order; the tfidf lesson).
#:
#: ACCEPTED RISK (r9 ADVICE): unlike the HLL linear-counting term —
#: whose 255-value ln domain is verified exhaustively across engines —
#: the ln argument here is data-dependent and unbounded, so the JVM
#: and DuckDB libm could in principle diverge by 1 ulp on an input
#: whose product lands exactly on a .5e-9 rounding boundary. Measure
#: zero: a double has ~15.95 significant digits, the quantizer keeps
#: 9-10, and a boundary hit needs the ~6 remaining digits to be
#: exactly 5000000…, so per-row P ≈ 1e-6 · P(1-ulp divergence); both
#: engines target correctly-rounded ln on x86-64 (crlibm-class), making
#: the joint probability negligible even at 1e12 rows. The same
#: reasoning covers the bigram-LM e6 quantizer (queries/text.py
#: _LM_LP_E6, 3 spare digits ≥ its smaller scale). If a gate EVER
#: hash-flakes on bm25/bigram rows, re-derive from integer count
#: ratios as HLL does rather than chasing libm.
_BM25_CONTRIB = (
    f"CAST(round({_BM25_IDF} * {_BM25_TFN} * 1E9) AS BIGINT)"
)


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ), tok2 AS (
        SELECT * FROM tok WHERE term != ''
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY 1
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        FROM dl
    ), tfq AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok2 WHERE term IN ({terms})
        GROUP BY 1, 2
    ), dfq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY 1
    ), contrib AS (
        SELECT doc_id,
               {_BM25_CONTRIB} AS c_e9
        FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id)
        CROSS JOIN stats
    ), scored AS (
        SELECT doc_id, CAST(sum(c_e9) AS BIGINT) AS score_e9,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM contrib GROUP BY 1
    ), ranked AS (
        SELECT doc_id, score_e9, n_terms,
               row_number() OVER (ORDER BY score_e9 DESC, doc_id) AS rank
        FROM scored
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, score_e9, n_terms
    FROM ranked WHERE rank <= {BM25_TOP_K}
    ORDER BY rank
    """


@register("doc_bm25_topk", oracle=_bm25_oracle())
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the document corpus for a fixed query-term
    set: Lucene-form idf, k1 = 1.2 / b = 0.75 length normalization, and
    the top-{BM25_TOP_K} documents by total score — the lexical-ranking
    half of a retrieval stack (ann_rrf_fusion holds the dense half).

    Determinism contract: every float constant is an E-notation DOUBLE
    literal (decimal literals parse as DECIMAL with engine-specific
    division rules), the idf/tfn expression trees are shared strings
    rendered into both engines, and each (doc, term) contribution is
    quantized to an e9 integer BEFORE the per-doc sum so the cross-row
    accumulation is exact integer addition under any shuffle order.

    Scale shape: the token stream explodes once and feeds two keyed
    aggregates — per-doc length (needed for normalization anyway) and
    per-(doc, query-term) tf, the latter FILTERED to the query terms
    before the shuffle so its volume is the posting lists', not the
    corpus's (at 100 TB the posting lists come from an inverted-index
    table and this plan's join shape is unchanged). df and the global
    (N, avgdl) attach as broadcasts (|terms| rows and 1 row); the top-k
    is TakeOrderedAndProject, never a global sort."""
    docs = load(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr(
            "CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
        ).alias("avgdl"),
    )
    tfq = (
        tok.filter(F.col("term").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tfq.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_CONTRIB).alias("c_e9"))
        .groupBy("doc_id")
        .agg(
            F.sum("c_e9").cast("bigint").alias("score_e9"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        )
    )
    top = scored.orderBy(F.desc("score_e9"), F.asc("doc_id")).limit(
        BM25_TOP_K
    )
    # Unpartitioned on purpose: it ranks the BM25_TOP_K rows the limit kept.
    w = Window.orderBy(F.desc("score_e9"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "doc_id",
        "score_e9",
        "n_terms",
    ).orderBy("rank")
