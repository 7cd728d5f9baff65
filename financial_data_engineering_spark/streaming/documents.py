"""Streaming document-ingest operators: the LLM-curation steps that run
ON ARRIVAL rather than in the nightly batch — decontamination screening
and quality scoring of a document stream.

Streaming constraint that shapes this module: the batch shingle pipeline
(llm/dedup.shingle_rows) builds n-grams with ``lead()`` over a per-doc
window, and non-time windows are unsupported on streaming frames. The
stream path therefore uses the per-row ARRAY form (llm/dedup.shingles —
a higher-order-function expression, stateless and streaming-safe) and
pays its interpreted cost only on the incremental batch, which is exactly
where that trade is right: micro-batches are small, and statelessness is
what lets the operator run at all.

The eval index is a STATIC broadcast side (stream-static join, no state
store) — refresh the eval set and the next trigger picks it up without
restarting the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_engineering_spark.llm.dedup import shingles
from financial_data_engineering_spark.schemas import SCHEMAS


def read_document_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of documents-shaped parquet from ``path``."""
    reader = spark.readStream.schema(SCHEMAS["documents"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def contamination_screen(
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Per-document contamination counter over a stream: for every
    arriving document, the number of its distinct word ``n``-grams that
    appear ANYWHERE in the (static, broadcast) eval corpus; rows emit
    only at ``n_shared >= min_shared`` — the quarantine list.

    Unified-model contract: on a batch frame this is a plain
    explode→broadcast-join→count plan (pinned against llm/dedup's batch
    contamination in tests); on a streaming frame the same code runs
    with the count as update-mode state keyed by document id — state is
    one counter per contaminated doc, no timeline, so no watermark is
    required (documents are keys, not events)."""
    ev_shingles = (
        eval_docs.select(
            F.explode(shingles(F.col(text_col), n)).alias("g")
        ).distinct()
    )
    doc_shingles = doc_stream.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("g")
    )
    return (
        doc_shingles.join(F.broadcast(ev_shingles), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def near_dup_screen(
    doc_stream: DataFrame,
    registry_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH near-duplicate screen on arrival: every arriving
    document computes its band keys STATELESSLY (the same md5-affine
    signature family and band hashing as llm/dedup's batch operators, so
    keys join a batch-built registry bit-for-bit) and stream-static joins
    the broadcast ``registry_bands`` table (id, band, key) — the banded
    sketch of the already-ingested corpus, e.g. from
    ``lsh_band_keys(minhash_signatures(shingle_rows(registry)))`` read
    off parquet.

    Emits (doc_id, registry_id, n_bands) candidate evidence in update
    mode: n_bands counts the colliding bands per (arrival, registry-doc)
    pair. This is the cheap LSH prefilter — the LSH contract guarantees
    every pair the batch verifier (llm.dedup.minhash_registry_matches)
    would flag collides on ≥ 1 band, so the stream's quarantine list is a
    superset of the verified matches; exact-Jaccard verification stays in
    the batch layer. State is one counter per candidate pair, bounded by
    candidates, not the corpus; the registry side is static broadcast —
    refresh the parquet and the next trigger sees it, no restart.

    Unified model: on a batch frame the identical code is a plain
    explode→broadcast-join→count plan, pinned against the batch operator
    in tests.
    """
    from financial_data_engineering_spark.llm.dedup import (
        affine_hash,
        hash_words,
        shingles,
    )

    rows = k // bands
    sh = shingles(F.col(text_col), n)
    docs = doc_stream.select(F.col(id_col), sh.alias("sh")).filter(
        F.size("sh") > 0
    )

    def _sig(i: int) -> F.Column:
        # min over the affine family h_i(x) = (a + i*b) mod P, a/b = the
        # two 32-bit halves of md5(x) — hash-identical to the relational
        # batch pipeline; HOF cost lands only on the micro-batch.
        return F.array_min(
            F.transform(F.col("sh"), lambda x: affine_hash(*hash_words(x), i))
        )

    sigs = docs.select(
        id_col, *[_sig(i).alias(f"m{i}") for i in range(k)]
    )
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                )
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "key")
    )
    reg = registry_bands.select(
        F.col("id").alias("registry_id"), "band", "key"
    )
    return (
        banded.join(F.broadcast(reg), ["band", "key"])
        .groupBy(id_col, "registry_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
