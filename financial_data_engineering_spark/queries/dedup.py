"""Deduplication queries over ``documents`` / ``embeddings`` — exact,
MinHash+LSH, inverted-index n-gram Jaccard, SimHash, and embedding-cosine
near-dup. Thin wrappers over financial_data_engineering_spark.llm.dedup;
each oracle replays the identical deterministic (MD5-derived) pipeline in
DuckDB SQL, so the comparison pins every stage: shingling, hash family,
banding, candidate generation, and verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_engineering_spark.functions import text as tx
from financial_data_engineering_spark.llm import dedup as dd
from financial_data_engineering_spark.llm import similarity as sim
from financial_data_engineering_spark.partitioning import spread_by
from financial_data_engineering_spark.queries.registry import register
from financial_data_engineering_spark.tables import load

# Shared oracle CTE: distinct 3-gram word shingles per document.
# DuckDB's range(start, stop) is stop-exclusive and empty when stop <= start,
# so short documents fall out naturally (Spark needs an explicit guard
# because sequence() counts downward instead).
_SHINGLE_CTE = r"""
toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
    FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
    FROM toks
)
"""


#: stand in for a held-out benchmark suite. Deterministic and replayable.
_EVAL_PRED = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')"


@register(
    "eval_contamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(t) - 3),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                        t[i+3] || ' ' || t[i+4])) AS s
        FROM toks
    ),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0),
    ev AS (SELECT * FROM inv WHERE {_EVAL_PRED}),
    tr AS (SELECT * FROM inv WHERE NOT ({_EVAL_PRED})),
    ev_sz AS (SELECT doc_id, count(*) AS eval_sz FROM ev GROUP BY doc_id),
    pairs AS (
        SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id,
               count(*) AS n_shared
        FROM tr JOIN ev ON tr.g = ev.g
        GROUP BY 1, 2
        HAVING count(*) >= 2
    )
    SELECT train_id, eval_id, n_shared, eval_sz,
           (n_shared * 1000) // eval_sz AS permille
    FROM pairs JOIN ev_sz ON ev_sz.doc_id = pairs.eval_id
    ORDER BY train_id, eval_id
    """,
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination pass: training documents sharing ≥ 2
    distinct 5-gram word shingles with the held-out eval slice (a
    deterministic md5-prefix ~1/8 split of ``documents``). The eval
    inverted index is broadcast, so the training corpus never shuffles —
    the shape that makes decontamination affordable at 100 TB, where the
    eval side is MB-scale benchmark text. All-integer output (permille =
    n_shared·1000 div eval_sz) so the oracle replays exactly."""
    docs = load(spark, "documents", sf_dir)
    is_eval = F.expr(
        "substr(md5(CAST(doc_id AS STRING)), 1, 1) IN ('0', '1')"
    )
    return dd.contamination_pairs(
        docs.filter(~is_eval),
        docs.filter(is_eval),
        "doc_id",
        "text",
        n=5,
        min_shared=2,
    ).orderBy("train_id", "eval_id")


@register(
    "dedup_simhash",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ),
    h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks),
    bits AS (
        SELECT doc_id, j,
               CASE WHEN sum(
                   (((strpos('0123456789abcdef',
                             substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
                     >> CAST(j % 4 AS INT)) & 1) * 2 - 1) >= 0
                    THEN '1' ELSE '0' END AS bit
        FROM h, (SELECT unnest(range(64)) AS j)
        GROUP BY doc_id, j
    )
    SELECT doc_id, string_agg(bit, '' ORDER BY j) AS simhash
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (occurrence-weighted token
    hashes, sign-of-sum per bit), rendered as a bitstring. One exploded
    token pass, 64 flat bit-sum aggregates in a single groupBy(doc) with
    map-side partials — all whole-stage codegen, one shuffle."""
    docs = load(spark, "documents", sf_dir)
    return (
        dd.simhash_rows(docs, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 4) >= 0.45
    ORDER BY vec_a, vec_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: exact all-pairs cosine ≥ 0.45 (vec_a <
    vec_b) via the blocked-GEMM Pandas UDF kernel — each Arrow batch scores
    a (batch × corpus) block with one BLAS matmul. The expression-based
    pair join is structurally wrong here (Catalyst pushes the threshold
    into a nested-loop join condition, evaluated per ordered pair outside
    codegen); at full scale this kernel runs inside LSH/IVF buckets instead
    of against the whole corpus."""
    emb = load(spark, "embeddings", sf_dir)
    return sim.pairwise_cosine_gemm(emb, threshold=0.45).orderBy("vec_a", "vec_b")


def _winnowing_oracle(where: str = "") -> str:
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents {where}
    ),
    grams AS (
        SELECT doc_id, i AS pos,
               substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16) AS h,
               len(t) - 2 AS n_grams
        FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    mins AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
               pos, n_grams
        FROM grams
    ),
    fps AS (
        -- 1-based pos: frames [pos, pos+3] fully inside iff pos <= n_grams-3
        SELECT DISTINCT doc_id, m FROM mins WHERE pos <= n_grams - 3
    )
    SELECT doc_id, count(*) AS n_fp,
           md5(string_agg(m, '|' ORDER BY m)) AS fp_digest
    FROM fps GROUP BY doc_id ORDER BY doc_id
    """


def _winnowing_frame(
    spark: SparkSession, sf_dir: str, decimate: int | None = None
) -> DataFrame:
    docs = load(spark, "documents", sf_dir)
    if decimate:
        docs = docs.where(F.col("doc_id") % decimate == 0)
    fps = dd.winnow_fingerprints(docs, "doc_id", "text", n=3, window=4)
    return (
        fps.groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.md5(F.array_join(F.array_sort(F.collect_list("fp")), "|")).alias(
                "fp_digest"
            ),
        )
        .orderBy("doc_id")
    )


@register("dedup_winnowing", oracle=_winnowing_oracle())
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: per document, the distinct
    window-minima of the positioned 3-gram hash sequence (window 4),
    summarized as a count plus an order-insensitive digest. Positioned
    shingles come from posexplode + lead; the rolling minimum is a window
    ``min`` over a ROWS frame — one partition-by-doc shuffle, everything
    codegen'd."""
    return _winnowing_frame(spark, sf_dir)


@register(
    "dedup_winnowing_decimated",
    oracle=_winnowing_oracle("WHERE doc_id % 10 = 0"),
)
def dedup_winnowing_decimated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_winnowing over the deterministic 1/10th corpus slice
    (``doc_id % 10 = 0``) — the SAME operator code and oracle SQL as the
    full query, both halves filtered identically. Exists for sf10 scale
    evidence: the full-corpus sf10 ORACLE is box-infeasible (r13: DuckDB
    dies with std::bad_alloc from allocations its buffer manager does
    not track — giant per-doc list intermediates — in clean
    single-query processes at 90-100 GB caps), while the ENGINE half
    completes; decimating both halves cuts the oracle working set 10×
    so the operator still gets a hash-exact sf10 row (~50k docs at
    sf10's 500k-doc corpus). At sf0.01-sf1 it is simply a second,
    smaller gate row for the same plan."""
    return _winnowing_frame(spark, sf_dir, decimate=10)


_SIMHASH_BUCKET_CAP = 200

# CTE chain + final select for the simhash near-dup pairs, shared by the
# pairs oracle and the connected-components oracle (one definition, no
# drift). No ORDER BY so it can nest as a subquery/CTE.
_SIMHASH_PAIRS_CTES = rf"""toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ),
    h AS (SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks),
    bits AS (
        SELECT doc_id, j,
               CASE WHEN sum(
                   (((strpos('0123456789abcdef',
                             substr(h, CAST(j // 4 AS INT) + 1, 1)) - 1)
                     >> CAST(j % 4 AS INT)) & 1) * 2 - 1) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM h, (SELECT unnest(range(64)) AS j)
        GROUP BY doc_id, j
    ),
    fp AS (
        SELECT doc_id,
               sum(CASE WHEN j < 32 THEN bit * (1::BIGINT << CAST(31 - j AS INT))
                        ELSE 0 END) AS hi,
               sum(CASE WHEN j >= 32 THEN bit * (1::BIGINT << CAST(63 - j AS INT))
                        ELSE 0 END) AS lo
        FROM bits GROUP BY doc_id
    ),
    sliced AS (
        SELECT doc_id, hi, lo, b,
               (CASE WHEN b < 2 THEN hi >> (16 * (1 - CAST(b AS INT)))
                     ELSE lo >> (16 * (3 - CAST(b AS INT))) END) & 65535 AS k
        FROM fp, (SELECT unnest(range(4)) AS b)
        QUALIFY count(*) OVER (PARTITION BY b, k) <= {_SIMHASH_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
        FROM sliced a JOIN sliced b
          ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
    )"""

_SIMHASH_PAIRS_SELECT = """SELECT doc_a, doc_b,
           bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3"""



@register(
    "dedup_incremental_new_unique",
    oracle=f"""
    WITH fps AS (
        SELECT doc_id, {tx.sql_fingerprint('text')} AS fp FROM documents
    ),
    reg AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 2 = 0),
    b2 AS (
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp
        FROM fps WHERE doc_id % 2 = 1 GROUP BY fp
    )
    SELECT doc_id, fp FROM b2
    WHERE fp NOT IN (SELECT fp FROM reg)
    ORDER BY doc_id
    """,
)
def dedup_incremental_new_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a prior-batch fingerprint registry
    (llm.dedup.incremental_exact_dedup): even doc_ids stand in for
    yesterday's ingested corpus (registry = their distinct fingerprints),
    odd doc_ids are today's batch. Output is today's genuinely-new
    documents — within-batch min-id survivors whose content no earlier
    batch contained. Registry-side state is bounded by distinct content,
    not corpus size; both shuffles key on the uniform 128-bit fingerprint."""
    docs = load(spark, "documents", sf_dir)
    fp = tx.fingerprint(F.col("text"))
    registry = dd.exact_survivors(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", fp
    ).select("fp")
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    new_unique, _updated = dd.incremental_exact_dedup(batch, registry)
    return new_unique.select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


@register(
    "dedup_group_representatives",
    oracle=f"""
    WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
    pairs AS (
        {_SIMHASH_PAIRS_SELECT}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    comp(node, label) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, c.label FROM comp c JOIN edges e ON c.node = e.a
    ),
    grouped AS (
        SELECT node AS doc_id, min(label) AS component
        FROM comp GROUP BY node
    ),
    reps AS (
        SELECT component, count(*) AS n_members FROM grouped GROUP BY component
    )
    SELECT CAST(r.component AS BIGINT) AS component,
           CAST(r.n_members AS BIGINT) AS n_members,
           d.source AS rep_source
    FROM reps r JOIN documents d ON d.doc_id = r.component
    ORDER BY component
    """,
)
def dedup_group_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-duplicate groups: each connected
    component keeps ONE canonical representative (the min-id member — the
    component label itself, so no extra argmax pass) annotated with the
    group size and the representative's source. The join back to
    ``documents`` broadcasts the tiny component table, so the corpus-sized
    side never shuffles — this is the keep-list a 100 TB dedup pass would
    write out."""
    docs = load(spark, "documents", sf_dir)
    pairs = dd.simhash_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        bands=4,
        max_bucket_size=_SIMHASH_BUCKET_CAP,
    )
    comps = dd.connected_components(pairs, "doc_a", "doc_b")
    reps = comps.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        docs.select(F.col("doc_id").alias("component"), "source")
        .join(F.broadcast(reps), "component")
        .select(
            "component", "n_members", F.col("source").alias("rep_source")
        )
        .orderBy("component")
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    base AS (
        SELECT doc_id, s,
               list_transform(range(16), i ->
                   list_min(list_transform(s, x ->
                       (('0x' || substr(md5(x), 1, 8))::BIGINT
                        + i * ('0x' || substr(md5(x), 9, 8))::BIGINT)
                       % 4294967311))) AS sig
        FROM sh WHERE len(s) > 0
    ),
    bands AS (
        SELECT doc_id, b,
               md5(sig[4*b+1]::VARCHAR || '|' || sig[4*b+2]::VARCHAR || '|' ||
                   sig[4*b+3]::VARCHAR || '|' || sig[4*b+4]::VARCHAR) AS k
        FROM base, (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.k = b.k
        WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ),
    verified AS (
        SELECT doc_a, doc_b,
               CAST((2 * len(list_intersect(sa.s, sb.s)) * 10000
                     + (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))
                    // (2 * (len(sa.s) + len(sb.s)
                             - len(list_intersect(sa.s, sb.s))))
                    AS BIGINT) AS jaccard_e4
        FROM cand
        JOIN base sa ON sa.doc_id = cand.doc_a
        JOIN base sb ON sb.doc_id = cand.doc_b
    ),
    best AS (
        SELECT doc_a AS doc_id, doc_b AS best_match, jaccard_e4,
               row_number() OVER (PARTITION BY doc_a
                                  ORDER BY jaccard_e4 DESC, doc_b) AS rn
        FROM verified WHERE jaccard_e4 >= 5000
    )
    SELECT doc_id, best_match, jaccard_e4 FROM best WHERE rn = 1
    ORDER BY doc_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch NEAR-dup screen (llm.dedup.minhash_registry_matches):
    even doc_ids stand in for the already-ingested registry corpus, odd
    doc_ids for today's batch; each batch document reports its best
    verified registry match at Jaccard ≥ 0.5. Candidates come from the
    batch×registry band-key equi-join — daily cost scales with the batch,
    never the corpus."""
    docs = load(spark, "documents", sf_dir)
    return dd.minhash_registry_matches(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id",
        "text",
        n=3,
        k=16,
        bands=4,
        threshold=0.5,
    ).orderBy("doc_id")


@register(
    "dedup_exact_survivors",
    oracle=f"""
    SELECT min(doc_id) AS doc_id, fp, count(*) AS n_copies
    FROM (SELECT doc_id, {tx.sql_fingerprint('text')} AS fp FROM documents)
    GROUP BY fp
    ORDER BY doc_id
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-list: one minimum-id survivor per normalized-text
    MD5 fingerprint plus the copy count. Single shuffle on the uniform
    128-bit fingerprint; at 100 TB this is the cheapest dedup pass and runs
    first to shrink the corpus before the fuzzy passes."""
    docs = load(spark, "documents", sf_dir)
    return dd.exact_survivors(docs, "doc_id", tx.fingerprint(F.col("text"))).orderBy(
        "doc_id"
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    base AS (
        SELECT doc_id, s,
               list_transform(range(16), i ->
                   list_min(list_transform(s, x ->
                       (('0x' || substr(md5(x), 1, 8))::BIGINT
                        + i * ('0x' || substr(md5(x), 9, 8))::BIGINT)
                       % 4294967311))) AS sig
        FROM sh WHERE len(s) > 0
    ),
    bands AS (
        SELECT doc_id, b,
               md5(sig[4*b+1]::VARCHAR || '|' || sig[4*b+2]::VARCHAR || '|' ||
                   sig[4*b+3]::VARCHAR || '|' || sig[4*b+4]::VARCHAR) AS k
        FROM base, (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.k = b.k AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT doc_a, doc_b,
               CAST((2 * len(list_intersect(sa.s, sb.s)) * 10000
                     + (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))))
                    // (2 * (len(sa.s) + len(sb.s)
                             - len(list_intersect(sa.s, sb.s))))
                    AS BIGINT) AS jaccard_e4
        FROM cand
        JOIN base sa ON sa.doc_id = cand.doc_a
        JOIN base sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, jaccard_e4 FROM verified
    WHERE jaccard_e4 >= 5000
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by MinHash (k=16, md5 hash family) + LSH
    banding (4 bands × 4 rows), exact-Jaccard verified at ≥ 0.5. The scale
    path: candidates come from a shuffle join on uniform band keys — never
    an all-pairs product — and only candidates pay the exact verification.
    """
    docs = load(spark, "documents", sf_dir)
    return dd.minhash_near_dup_pairs(
        docs, "doc_id", "text", n=3, k=16, bands=4, threshold=0.5
    ).orderBy("doc_a", "doc_b")


_NGRAM_MAX_DOC_FREQ = 100

@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    inv0 AS (
        SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0
    ),
    inv AS (
        SELECT doc_id, g FROM inv0
        QUALIFY count(*) OVER (PARTITION BY g) <= {_NGRAM_MAX_DOC_FREQ}
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM inv GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST((2 * inter * 10000 + (sa.sz + sb.sz - inter))
                // (2 * (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_e4
    FROM pairs
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE (2 * inter * 10000 + (sa.sz + sb.sz - inter))
          // (2 * (sa.sz + sb.sz - inter)) >= 3000
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard ≥ 0.3 via an inverted shingle index
    (join on shingle, count co-occurrences — no cross join), with the
    ``max_doc_freq`` stop-shingle guard active: shingles shared by more
    than {_NGRAM_MAX_DOC_FREQ} documents are cut before the self-join
    (the join is quadratic in per-shingle doc frequency — a single hot
    shingle shared by 1M docs would emit 10^12 rows). Jaccard is computed
    over the guarded shingle sets on both sides, so the oracle replays the
    identical semantics."""
    docs = load(spark, "documents", sf_dir)
    return dd.ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        threshold=0.3,
        max_doc_freq=_NGRAM_MAX_DOC_FREQ,
    ).orderBy("doc_a", "doc_b")


#: Eval split: docs whose md5(doc_id) starts with 0 or 1 (~1/8 of the corpus)
@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_PAIRS_CTES}
    {_SIMHASH_PAIRS_SELECT}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming ≤ 3): fingerprint slices
    (4 × 16 bits) block candidates by pigeonhole — pairs within 3 bits
    must agree on a full slice — then an exact hamming count verifies.
    Integer-domain throughout: the fingerprint is two 32-bit longs, band
    keys are shift/mask ints, verification is bit_count(xor); buckets
    above {_SIMHASH_BUCKET_CAP} rows are dropped (skew guard — correlated
    SimHash bits make low-entropy slices collect quadratic-join buckets)."""
    docs = load(spark, "documents", sf_dir)
    return dd.simhash_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        bands=4,
        max_bucket_size=_SIMHASH_BUCKET_CAP,
    ).orderBy("doc_a", "doc_b")


#: Bounded-cardinality twin contract: keep each document's K nearest
#: accepted pairs (hamming, then neighbor id) after symmetrizing.
_SIMHASH_TOPK = 5


@register(
    "dedup_simhash_topk",
    oracle=f"""
    WITH {_SIMHASH_PAIRS_CTES},
    pairs AS (
        {_SIMHASH_PAIRS_SELECT}
    ),
    sym AS (
        SELECT doc_a AS doc_id, doc_b AS nbr, hamming FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS nbr, hamming FROM pairs
    )
    SELECT doc_id, nbr, hamming
    FROM sym
    QUALIFY row_number() OVER (PARTITION BY doc_id
                               ORDER BY hamming, nbr) <= {_SIMHASH_TOPK}
    ORDER BY doc_id, nbr
    """,
)
def dedup_simhash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash_pairs with BOUNDED output cardinality: the same
    banding + hamming ≤ 3 verification, symmetrized, then each doc
    keeps only its {_SIMHASH_TOPK} nearest accepted neighbors
    (hamming, then neighbor id — a deterministic total order). Output
    is ≤ K·|docs| rows regardless of how quadratic the raw pair set
    goes, which is the point: at sf10 the scaled-replica corpus makes
    the FULL pair set ~10⁸ rows (r13: the split-gate cardinality guard
    fired by design), so the unbounded query can never earn an sf10
    row while this twin stays |docs|-linear — the shape a production
    dedup pipeline would feed to survivor selection anyway. One extra
    per-doc window shuffle on top of the pair plan."""
    docs = load(spark, "documents", sf_dir)
    pairs = dd.simhash_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        bands=4,
        max_bucket_size=_SIMHASH_BUCKET_CAP,
    )
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("nbr"), "hamming"
    ).unionAll(
        pairs.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("nbr"),
            "hamming",
        )
    )
    w = Window.partitionBy("doc_id").orderBy("hamming", "nbr")
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SIMHASH_TOPK)
        .drop("rn")
        .orderBy("doc_id", "nbr")
    )


@register(
    "dedup_component_groups",
    oracle=f"""
    WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
    pairs AS (
        {_SIMHASH_PAIRS_SELECT}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    comp(node, label) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT e.b, c.label FROM comp c JOIN edges e ON c.node = e.a
    ),
    grouped AS (
        SELECT node AS doc_id, min(label) AS component
        FROM comp GROUP BY node
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS group_size
    FROM grouped
    ORDER BY doc_id
    """,
)
def dedup_component_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUP resolution: the simhash pair graph collapsed
    into connected components (large-star/small-star rounds, llm/dedup.py
    connected_components) — A~B and B~C land in one group even when A~C
    was never emitted, which is what survivor selection actually needs.
    The oracle replays transitive closure with a recursive CTE, so the
    iterative Spark fixpoint and SQL reachability must agree exactly.
    Output: every paired document with its component id (= min doc_id in
    the component) and the component size."""
    docs = load(spark, "documents", sf_dir)
    pairs = dd.simhash_near_dup_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        bands=4,
        max_bucket_size=_SIMHASH_BUCKET_CAP,
    )
    comps = dd.connected_components(pairs, "doc_a", "doc_b")
    w = Window.partitionBy("component")
    return (
        comps.select(
            F.col("node").alias("doc_id"),
            "component",
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
        .orderBy("doc_id")
    )


_SEM_TAU = 0.30
_SEM_K = 8
_SEM_ITERS = 2


def _semantic_oracle() -> str:
    from financial_data_engineering_spark.queries.similarity_oracles import (
        kmeans_ctes,
    )

    return f"""
    WITH {kmeans_ctes(_SEM_K, _SEM_ITERS, 64)},
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(
                                    e.embedding::DOUBLE[], c.cv), 9)
                                DESC, c.cid) AS rn
            FROM embeddings e, cent{_SEM_ITERS} c
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.cid, b.vec_id AS b_id
        FROM assign a
        JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                           eb.embedding::DOUBLE[]), 4)
              >= {_SEM_TAU}
    ),
    sizes AS (SELECT cid, count(*) AS n_vectors FROM assign GROUP BY cid),
    dups AS (
        SELECT cid, count(*) AS n_dup_pairs,
               count(DISTINCT b_id) AS n_dropped
        FROM pairs GROUP BY cid
    )
    SELECT s.cid AS cluster,
           CAST(s.n_vectors AS BIGINT) AS n_vectors,
           CAST(coalesce(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(s.n_vectors - coalesce(d.n_dropped, 0) AS BIGINT)
               AS n_survivors
    FROM sizes s LEFT JOIN dups d USING (cid)
    ORDER BY cluster
    """


@register("dedup_semantic_clusters", oracle=_semantic_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-shaped (Abbas et al. 2023): cluster the
    embedding corpus with the deterministic k-means coarse quantizer
    (shared with IVF — same seeded init, same scaled-integer means, so
    the oracle replays training bit-exactly), then find near-duplicate
    pairs ONLY within clusters and drop every vector that has a
    lower-id neighbor at cosine >= tau. Output per cluster: size, dup
    pairs, dropped count, survivors.

    Scale shape: clustering turns the quadratic all-pairs step into
    |cluster|^2 per cluster — n_centroids grows with the corpus so
    cluster size stays bounded (the SemDeDup recipe) — and each cluster's
    similarity tile is ONE numpy GEMM inside ``applyInArrow`` (the
    blocked-kernel rule from pairwise_cosine_gemm, run per cluster as its
    docstring prescribes: the expression form compiles a 64-term dot
    product into the join's generated consume method, which overflows
    janino's 64 KB limit and silently drops the whole stage to
    interpreted). The GEMM chunks its left side so tile memory is
    |chunk|x|cluster|, and the cosine uses the same dot/(|a|*|b|)
    association and round-to-4 as DuckDB's list_cosine_similarity, so a
    last-ulp difference cannot flip a pair."""
    import numpy as np

    from financial_data_engineering_spark.llm.caching import persist_tracked

    emb = load(spark, "embeddings", sf_dir)
    cents = sim.kmeans_centroids(
        emb, n_centroids=_SEM_K, n_iters=_SEM_ITERS, dim=64
    )
    assign = persist_tracked(
        sim.ivf_assignments(emb, cents, dim=64, nprobe=1).select(
            F.col("id").alias("vec_id"),
            F.col("v").alias("emb"),
            "cluster",
        )
    )

    def tile(key, table):
        import pyarrow as pa

        ids = table["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = sim.arrow_matrix(table["emb"], 64)[order]
        norms = np.linalg.norm(mat, axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        out_b = []
        for lo in range(0, len(ids), 1024):
            hi = min(lo + 1024, len(ids))
            sims = (mat[lo:hi] @ mat.T) / np.outer(safe[lo:hi], safe)
            sims[norms[lo:hi] == 0.0, :] = 0.0
            sims[:, norms == 0.0] = 0.0
            cos = np.round(sims, 4)
            keep = (cos >= _SEM_TAU) & (ids[lo:hi, None] < ids[None, :])
            out_b.append(ids[np.nonzero(keep)[1]])
        b_ids = np.concatenate(out_b) if out_b else np.array([], dtype="int64")
        return pa.table(
            {"cluster": np.full(len(b_ids), key[0].as_py()), "b_id": b_ids}
        )

    pairs = assign.groupBy("cluster").applyInArrow(
        tile, schema="cluster long, b_id long"
    )
    sizes = assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    dups = pairs.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("b_id").alias("n_dropped"),
    )
    return (
        sizes.join(dups, "cluster", "left")
        .select(
            "cluster",
            "n_vectors",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias(
                "n_survivors"
            ),
        )
        .orderBy("cluster")
    )


_BLOOM_M_WORDS = 256
_BLOOM_K = 5
_BLOOM_P = 4294967311  # MINHASH_P, spelled out for the oracle f-string


def _bloom_oracle() -> str:
    m_bits = _BLOOM_M_WORDS * 32
    pos = (
        "((('0x' || substr(md5(item), 1, 8))::BIGINT"
        " + (i + 1) * ('0x' || substr(md5(item), 9, 8))::BIGINT)"
        f" % {_BLOOM_P}) % {m_bits}"
    )
    return f"""
    WITH reg AS (
        SELECT md5(text) AS item FROM documents WHERE doc_id % 2 = 0
    ),
    bat AS (
        SELECT doc_id, md5(text) AS item FROM documents WHERE doc_id % 2 = 1
    ),
    regpos AS (
        SELECT DISTINCT {pos} AS pos
        FROM reg, (SELECT unnest(range({_BLOOM_K})) AS i)
    ),
    words AS (
        SELECT pos // 32 AS word,
               bit_or(1::BIGINT << (pos % 32)) AS bits
        FROM regpos GROUP BY 1
    ),
    batpos AS (
        SELECT doc_id, item, {pos} AS pos
        FROM bat, (SELECT unnest(range({_BLOOM_K})) AS i)
    ),
    probes AS (
        SELECT b.doc_id, b.item,
               min(CASE WHEN ((coalesce(w.bits, 0) >> (b.pos % 32)) & 1) = 1
                        THEN 1 ELSE 0 END) AS all_hit
        FROM batpos b LEFT JOIN words w ON b.pos // 32 = w.word
        GROUP BY b.doc_id, b.item
    ),
    flagged AS (
        SELECT p.doc_id,
               p.all_hit = 1 AS maybe_present,
               p.item IN (SELECT item FROM reg) AS present
        FROM probes p
    )
    SELECT count(*) AS n_batch,
           CAST(sum(CASE WHEN NOT maybe_present THEN 1 ELSE 0 END) AS BIGINT)
               AS n_definitely_new,
           CAST(sum(CASE WHEN maybe_present THEN 1 ELSE 0 END) AS BIGINT)
               AS n_maybe_present,
           CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT)
               AS n_present_exact,
           CAST(sum(CASE WHEN maybe_present AND NOT present THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive
    FROM flagged
    """


@register("dedup_bloom_screen", oracle=_bloom_oracle())
def dedup_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter registry screen (operators/bloom.py) over the
    incremental-dedup split: even doc_ids play the fingerprint registry,
    odd doc_ids the incoming batch. One summary row: batch size, items
    the filter proves new (skip the registry join entirely — the filter's
    no-false-negative guarantee), items flagged maybe-present, the exact
    present count, and the measured false positives — the audit table
    for sizing the filter's m/k against the FPR actually paid.

    Scale shape: the registry collapses to a 256-word (8 Kbit) broadcast
    table built with one word-keyed bit_or shuffle; the batch NEVER
    shuffles for the screen (k=5 broadcast probes). The exact
    present/false-positive columns re-join the registry — that is the
    expensive second tier this screen exists to shrink, computed here
    because the query's job is to AUDIT the filter; production screening
    drops those columns and feeds only the maybe-present remainder to
    incremental_exact_dedup."""
    from financial_data_engineering_spark.operators.bloom import (
        bloom_build,
        bloom_screen,
    )

    docs = load(spark, "documents", sf_dir)
    reg = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("item")
    )
    bat = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("item")
    )
    bloom = bloom_build(reg, "item", m_words=_BLOOM_M_WORDS, k_hashes=_BLOOM_K)
    screened = bloom_screen(
        bat, bloom, "item", m_words=_BLOOM_M_WORDS, k_hashes=_BLOOM_K
    )
    flagged = screened.join(
        F.broadcast(
            reg.distinct().withColumn("_in", F.lit(1))
        ),
        "item",
        "left",
    ).select(
        "doc_id",
        "maybe_present",
        F.col("_in").isNotNull().alias("present"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(~F.col("maybe_present"), 1).otherwise(0)).alias(
            "n_definitely_new"
        ),
        F.sum(F.when(F.col("maybe_present"), 1).otherwise(0)).alias(
            "n_maybe_present"
        ),
        F.sum(F.when(F.col("present"), 1).otherwise(0)).alias(
            "n_present_exact"
        ),
        F.sum(
            F.when(F.col("maybe_present") & ~F.col("present"), 1).otherwise(0)
        ).alias("n_false_positive"),
    )


_SPAN_L = 8  # tokens per span — the "long repeated substring" threshold
_SPAN_TOP = 100


@register(
    "cross_doc_repeated_spans",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS a
        FROM documents WHERE length(trim(text)) > 0
    ),
    spans AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {_SPAN_L} + 2),
                      i -> array_to_string(
                          a[CAST(i AS INT):CAST(i + {_SPAN_L} - 1 AS INT)],
                          ' '))) AS span
        FROM arrs WHERE len(a) >= {_SPAN_L}
    )
    SELECT span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences
    FROM spans
    GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, span
    LIMIT {_SPAN_TOP}
    """,
)
def cross_doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated EXACT spans: every 8-token window that
    appears verbatim in two or more distinct documents, with its doc
    and occurrence counts — substring-LEVEL duplication (boilerplate,
    licenses, templated paragraphs) that document-level dedup
    (fingerprints, MinHash) cannot see because the containing documents
    differ. This is the span-granular complement the
    training-data-dedup literature calls for (long repeated substrings
    inflate memorization); winnowing (dedup_winnowing) approximates the
    same signal with sampled hashes, this query is the exact form.

    Plan shape: one map-side explode of |tokens| span rows per document
    (the positioned-n-gram construction doc_repetition_flags uses, L=8)
    into ONE shuffle keyed on the span string, then count-distinct docs
    per span — the inverted-index shape. No pairwise step exists at any
    scale: a span repeated a million times is one group with counter
    state, not 10^12 pairs. The top-100 presentation limit rides a
    total order (span is the group key, hence unique)."""
    docs = load(spark, "documents", sf_dir)
    # Pre-explode repartition: a compressed documents file is tiny (text
    # repeats compress away), so the scan yields ONE input partition —
    # and the |tokens|-row span fan-out would run in one task. Spreading
    # the 50k doc rows first costs a trivial shuffle and unlocks full
    # parallelism for the explosive stage (the general rule: repartition
    # BEFORE a fan-out whose output dwarfs its compressed input).
    toked = spread_by(
        docs.filter(F.length(F.trim("text")) > 0), "doc_id"
    ).select("doc_id", tx.tokens(F.col("text")).alias("a"))
    idx = F.sequence(F.lit(1), F.size("a") - (_SPAN_L - 1))
    span_arr = F.when(
        F.size("a") >= _SPAN_L,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at("a", (i + j).cast("int"))
                    for j in range(_SPAN_L)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = toked.select(
        "doc_id", F.explode(span_arr).alias("span")
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "span"
        )
        .limit(_SPAN_TOP)
    )



_COVER_FLAG_E4 = 5000  # flag docs with >= 50% of tokens inside repeated spans

#: Half-up e4 coverage ratio — ONE formula template shared by the oracle
#: (DuckDB ``//``) and the Spark plan (SQL ``div``), so the two
#: renderings cannot silently drift apart.
_COVER_E4_TMPL = "(2 * n_covered * 10000 + n_tokens) {d} (2 * n_tokens)"
_COVER_E4 = _COVER_E4_TMPL.format(d="//")
_COVER_E4_SPARK = _COVER_E4_TMPL.format(d="div")


@register(
    "doc_boilerplate_coverage",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS a
        FROM documents WHERE length(trim(text)) > 0
    ),
    occ AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(a) - {_SPAN_L} + 2),
                      i -> struct_pack(
                          pos := i,
                          span := array_to_string(
                              a[CAST(i AS INT):CAST(i + {_SPAN_L} - 1 AS INT)],
                              ' ')))) AS s
        FROM arrs WHERE len(a) >= {_SPAN_L}
    ),
    flat AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM occ),
    rep AS (
        SELECT span FROM flat GROUP BY span
        HAVING count(DISTINCT doc_id) >= 2
    ),
    cov AS (
        SELECT f.doc_id, count(DISTINCT f.pos + u.idx) AS n_covered
        FROM flat f
        JOIN rep r USING (span)
        CROSS JOIN (SELECT unnest(range({_SPAN_L})) AS idx) u
        GROUP BY f.doc_id
    ),
    per_doc AS (
        SELECT a.source, len(a.a) AS n_tokens,
               coalesce(c.n_covered, 0) AS n_covered
        FROM arrs a LEFT JOIN cov c ON a.doc_id = c.doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_with_repeats,
           CAST(sum(CASE WHEN {_COVER_E4} >= {_COVER_FLAG_E4}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(max({_COVER_E4}) AS BIGINT) AS max_coverage_e4,
           CAST(sum(n_covered) AS BIGINT) AS covered_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def doc_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate coverage audit: for each document, the
    fraction of its tokens lying inside at least one cross-document
    repeated 8-token span (cross_doc_repeated_spans' signal turned into
    the per-document FILTERING statistic — the Gopher/RefinedWeb-style
    "duplicated n-gram coverage" quality dimension). A document half
    covered by spans that also appear elsewhere is templated
    boilerplate even when its fingerprint and MinHash signature are
    unique. Exact integer end-to-end: covered-token counts are distinct
    position counts, coverage is the half-up e4 ratio.

    Plan shape, all inverted-index moves: positioned spans explode
    map-side; repeated spans come from one span-keyed aggregate; the
    occurrence-by-repeated-span join shuffles on the span string (never
    doc x doc); covered positions fan out map-side (sequence explode, 8
    rows per occurrence — bounded by L) into a distinct-count per doc;
    the source rollup is |sources|-ary. A span repeated a million times
    is counter state and one join key, not a pairwise blowup."""
    docs = load(spark, "documents", sf_dir)
    # Pre-explode repartition: same single-compressed-file fan-out issue
    # as cross_doc_repeated_spans (see the comment there).
    toked = spread_by(
        docs.filter(F.length(F.trim("text")) > 0), "doc_id"
    ).select("doc_id", "source", tx.tokens(F.col("text")).alias("a"))
    idx = F.sequence(F.lit(1), F.size("a") - (_SPAN_L - 1))
    occ_arr = F.when(
        F.size("a") >= _SPAN_L,
        F.transform(
            idx,
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.concat_ws(
                    " ",
                    *[
                        F.element_at("a", (i + j).cast("int"))
                        for j in range(_SPAN_L)
                    ],
                ).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,span:string>>"))
    flat = toked.select(
        "doc_id", F.explode(occ_arr).alias("s")
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span"))
    rep = (
        flat.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("span")
    )
    cov = (
        flat.join(rep, "span")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_L - 1))
            ).alias("tok_idx"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("tok_idx").alias("n_covered"))
    )
    per_doc = (
        toked.select("doc_id", "source", F.size("a").cast("long").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
        )
    )
    cover_e4 = F.expr(_COVER_E4_SPARK)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_covered") > 0).cast("long")).alias(
                "n_docs_with_repeats"
            ),
            F.sum(
                (cover_e4 >= _COVER_FLAG_E4).cast("long")
            ).alias("n_flagged"),
            F.max(cover_e4).alias("max_coverage_e4"),
            F.sum("n_covered").alias("covered_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )
