"""Deterministic Bloom filter: set-membership screening without moving
the set.

The incremental-dedup shapes (llm/dedup.py ``incremental_exact_dedup``,
``minhash_registry_matches``) join each new batch against the full
fingerprint registry — correct, but the registry side of that join grows
with corpus lifetime. A Bloom filter collapses the registry to a
fixed-size bit array with NO false negatives: a batch item whose bits
are not all set is DEFINITELY new and can skip the expensive registry
join entirely; only the "maybe present" remainder (true positives plus
the tunable false-positive rate) proceeds. The classic two-tier screen:
at 100 TB the bit array is megabytes where the registry is terabytes.

Everything is deterministic and SQL-replayable, like the MinHash/LSH
family it sits beside: positions come from ONE md5 per item split into
two 32-bit words ``a, b`` with the 2-universal affine family
``h_i = (a + (i+1)·b) mod P`` (P = MINHASH_P, prime > 2^32), reduced
mod the bit-array size. The oracle replays every bit with
``('0x' || substr(md5(x), 1, 8))::BIGINT`` arithmetic in DuckDB.

Representation: a (word, bits) table of at most ``m_words`` rows, 32
bits per word (32, not 64, so every shifted value stays a positive
BIGINT in BOTH engines — DuckDB raises on ``1::BIGINT << 63`` and
two's-complement sign games are exactly the cross-engine trap this
repo's integer-exact rule exists to avoid; absent word = 0). The table
is control-plane-sized, built with one word-keyed shuffle over
``bit_or`` partial aggregates (map-side combine does most of the
OR-ing), and mergeable across builds by the same ``bit_or`` groupBy.
Screening collects the words once (control-plane by the m_words bound)
and ships them as a dense array literal: the screen itself is pure
map-side arithmetic — the batch never shuffles, the registry is never
read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_engineering_spark.llm.dedup import affine_slot, hash_words

BITS_PER_WORD = 32


def bloom_build(
    df: DataFrame,
    item_col: str,
    *,
    m_words: int = 2048,
    k_hashes: int = 5,
) -> DataFrame:
    """Build the (word, bits) Bloom table over ``item_col`` (cast to
    string; NULLs excluded — a NULL is never "present"). Merge builds
    with ``bloom_merge``. Size m·32 bits for the expected registry
    cardinality: FPR ≈ (1 - e^(-k·n/(m·32)))^k."""
    if m_words < 1:
        raise ValueError(f"m_words must be >= 1, got {m_words}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    m_bits = m_words * BITS_PER_WORD
    items = df.select(
        F.col(item_col).cast("string").alias("item")
    ).filter(F.col("item").isNotNull())
    a, b = hash_words(F.col("item"))
    pos = F.explode(
        F.array(*[affine_slot(a, b, i, m_bits) for i in range(k_hashes)])
    ).alias("pos")
    return (
        items.select(pos)
        .select(
            F.expr(f"pos div {BITS_PER_WORD}").alias("word"),
            # expr, not F.shiftleft: the function form takes a Python int
            # shift amount, and the bit index here is a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(pos % {BITS_PER_WORD} AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_merge(*tables: DataFrame) -> DataFrame:
    """OR together Bloom word tables built with identical (m_words,
    k_hashes) — the union-then-bit_or mergeable-summaries shape."""
    if not tables:
        raise ValueError("bloom_merge needs at least one table")
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def bloom_screen(
    batch: DataFrame,
    bloom: DataFrame,
    item_col: str,
    *,
    m_words: int = 2048,
    k_hashes: int = 5,
) -> DataFrame:
    """Tag each batch row with ``maybe_present``: true iff ALL k of the
    item's bits are set (no false negatives; the false-positive rate is
    set by the build sizing).

    NULL items: the probe expressions propagate NULL (md5 of a NULL is
    NULL), so ``maybe_present`` is COALESCEd to true — a NULL routes to
    the maybe-present slice, whose registry join is the safe side: a
    NULL key never equi-joins, so downstream anti-join screens admit the
    row, matching what the direct (un-screened) incremental path does.
    The build side excludes NULLs, so a "definitely absent" verdict for
    NULL would also be sound — but the two slices of a screened pipeline
    often apply different dedup contracts, and "pay the join" is the
    conservative one. Callers that must not carry NULL fingerprints
    should filter (and count) them before the screen.

    The bloom table collects to the driver and ships as ONE dense
    array<bigint> literal — a control-plane collect by the same contract
    that bounds the table to ``m_words`` rows (the filter IS megabytes;
    that is its reason to exist), the same move as the k IVF centroids.
    The screen is then pure map-side arithmetic: zero joins, zero
    shuffles, every probe an ``element_at`` + shift inside whole-stage
    codegen. (A join formulation re-executes the build aggregate once
    per hash — k build-side exchanges for no benefit.)"""
    m_bits = m_words * BITS_PER_WORD
    dense = [0] * m_words
    for r in bloom.collect():
        w = int(r["word"])
        if not 0 <= w < m_words:
            raise ValueError(
                f"bloom word index {w} outside m_words={m_words}; "
                "screen sizing must match the build sizing"
            )
        dense[w] = int(r["bits"])
    a, b = hash_words(F.col(item_col).cast("string"))
    out = batch.withColumn("_bloom_words", F.lit(dense))
    for i in range(k_hashes):
        out = out.withColumn(f"_p{i}", affine_slot(a, b, i, m_bits))
    # SQL-text expressions because the Python shift functions take only
    # literal shift amounts; element_at is 1-based.
    hits = [
        f"(shiftrightunsigned(CAST(element_at(_bloom_words,"
        f" CAST(_p{i} div {BITS_PER_WORD} AS INT) + 1) AS BIGINT),"
        f" CAST(_p{i} % {BITS_PER_WORD} AS INT)) & 1) = 1"
        for i in range(k_hashes)
    ]
    return (
        out.withColumn(
            "maybe_present",
            F.coalesce(F.expr(" AND ".join(hits)), F.lit(True)),
        )
        .drop("_bloom_words", *[f"_p{i}" for i in range(k_hashes)])
    )
