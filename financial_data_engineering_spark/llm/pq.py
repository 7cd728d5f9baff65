"""Product quantization (PQ) for embedding retrieval — the representation
an actual 100 TB ANN corpus holds in memory.

Scalar int8 quantization (llm/quantize.py) cuts float32 storage 4×; PQ
cuts it a further 4-8×: the ``dim``-long vector splits into ``m``
contiguous subvectors, each subspace trains its own ``k``-centroid
codebook (``lloyd_train`` in llm/similarity.py, the seeded
deterministic Lloyd trainer of the IVF coarse quantizer, with one
quantizer per subspace), and a vector is stored as ``m`` single-byte
codes (here 8 bytes/vector vs 256 float32 bytes — 32×). Queries score
the compressed corpus with asymmetric distance computation (ADC): a per
(query, subspace, code) lookup table of query-subvector · centroid dot
products is built once (|queries|·m·k rows — control-plane sized), and a
corpus vector's approximate score is the sum of its codes' table entries.
The expensive scan touches ONLY the code table; full float vectors load
for the per-query rerank shortlist alone (Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

Determinism (so a SQL oracle can replay training, encoding, and scoring
bit-for-bit — the same contracts llm/similarity.py pins):

- Codebook init: the ``k`` lowest-id corpus vectors' m-th subvectors,
  relabeled 0..k-1 — no RNG.
- Assignment: argmin Euclidean distance ROUNDED TO 9 DECIMALS before the
  argmin (a last-ulp float difference can never flip a winner), ties →
  lowest code id. One function (``_assign_codes``) applies it at every
  training iteration and at encode.
- Centroid update: per-component sums of round(x·10⁶) longs — order-
  independent integer partials — divided once, so aggregation order
  can't perturb the mean. Empty cells keep their previous centroid.
- ADC entries: dot products rounded to 9 decimals then fixed to integer
  micro-units via floor(v·10⁶ + 0.5); the per-vector ADC score is an
  exact BIGINT sum of ``m`` integers — associativity-proof on both
  engines.

Scale shape: training is one map-only Arrow pass per iteration for
all ``m`` subspaces (and, in IVF-PQ, the coarse quantizer too),
emitting ~(partitions × m × k) partial rows (the corpus never moves);
encode is one map-only pass; scoring is a broadcast LUT join against
the exploded code table (map-side) whose groupBy collapses the m-way
blow-up in the partial aggregate, so the one shuffle carries
≈ |queries|·|corpus| ADC rows; the rerank joins float vectors for
|queries|·pool rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from financial_data_engineering_spark.functions.vectors import l2_norm_fixed
from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.llm.similarity import (
    Quantizer,
    _assign_codes,
    _pair_cos,
    coarse_quantizer,
    ivf_assignments,
    lloyd_train,
    vec_matrix,
)

#: Subspace count / per-subspace codebook size / Lloyd iterations for the
#: registered query and its oracle — one source (queries/similarity_oracles
#: interpolates these) so a knob change cannot desynchronize them.
PQ_M = 8
PQ_K = 16
PQ_ITERS = 2


def pq_quantizers(dim: int, m: int, k: int, n_iters: int) -> list[Quantizer]:
    """The ``m`` PQ subspace quantizers: ``k`` codes each over contiguous
    ``dim // m``-component slices, assigned by rounded-Euclidean argmin."""
    sub = dim // m
    return [
        Quantizer(mi * sub, (mi + 1) * sub, _assign_codes, k, n_iters)
        for mi in range(m)
    ]


def pq_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    k: int = PQ_K,
    n_iters: int = PQ_ITERS,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Train the ``m`` per-subspace codebooks (each ``k`` centroids of
    ``dim // m`` components) with :func:`lloyd_train`. Returns
    ``books[mi][code] -> centroid`` — k·dim floats total, control-plane
    sized by construction."""
    return lloyd_train(
        corpus, pq_quantizers(dim, m, k, n_iters), id_col=id_col, vec_col=vec_col
    )


def pq_code_rows(
    corpus: DataFrame,
    books,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(vec_id, m, code) exploded PQ code table — the compressed corpus
    representation (``m`` bytes per vector on disk; exploded here so the
    ADC scorer is a plain broadcast equi-join). Map-only Arrow pass; the
    assignment rule is byte-identical to training's."""
    import numpy as np

    bmats = [np.asarray(b, dtype="float64") for b in books]
    m = len(bmats)
    sub = dim // m
    id_field = next(f for f in corpus.schema.fields if f.name == id_col)
    schema = T.StructType(
        [
            T.StructField("vec_id", id_field.dataType),
            T.StructField("m", T.LongType()),
            T.StructField("code", T.LongType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = vec_matrix(pdf[vec_col])
            codes = np.column_stack(
                [
                    _assign_codes(np, mat[:, mi * sub : (mi + 1) * sub], cmat)
                    for mi, cmat in enumerate(bmats)
                ]
            )
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy().repeat(m),
                    "m": np.tile(np.arange(m, dtype="int64"), n),
                    "code": codes.ravel(),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def _adc_lut(
    queries: DataFrame,
    books,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """(query_id, m, code, contrib_e6) ADC lookup table: the query's m-th
    subvector dotted with every codebook centroid, rounded to 9 decimals
    and fixed to integer micro-units (floor(v·10⁶ + 0.5) — true-value
    floor, engine-identical). |queries|·m·k rows — broadcast fodder.

    The dot runs as a JVM-side zip_with/aggregate fold (left-to-right,
    DuckDB list_dot_product's association); interpreted evaluation is
    irrelevant at this cardinality and keeps the expression dim-generic.

    The m·k codebook rows are handed over as a pandas frame: Arrow turns
    it into a local relation on the driver, where a list of tuples
    becomes a Python RDD whose broadcast runs a job of Python workers
    just to unpickle the rows."""
    import pandas as pd

    m = len(books)
    sub = dim // m
    spark = queries.sparkSession
    cent = spark.createDataFrame(
        pd.DataFrame(
            {
                "m": [mi for mi, book in enumerate(books) for _ in book],
                "code": [ci for book in books for ci in range(len(book))],
                "cv": [[float(x) for x in cv] for book in books for cv in book],
            }
        ),
        schema="m long, code long, cv array<double>",
    )
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col).cast("array<double>"), mi * sub + 1, sub)
                    for mi in range(m)
                ]
            )
        ).alias("m", "qsv"),
    )
    dot = F.aggregate(
        F.zip_with("qsv", "cv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return qsub.join(F.broadcast(cent), "m").select(
        "query_id",
        "m",
        "code",
        F.floor(F.round(dot, 9) * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("contrib_e6"),
    )


def _pool_and_rerank(
    adc: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    pool: int,
    dim: int,
) -> DataFrame:
    """Shared cascade tail: cut the per-query ADC ranking to ``pool``
    candidates, rerank the shortlist with full-precision cosine
    (byte-identical to brute_force_topk's scorer), keep ``k``. Float
    vectors load for |queries|·pool rows only."""
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("adc_e6"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= pool)
        .select("query_id", "neighbor_id", "adc_e6")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm_fixed(vec_col, dim).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm_fixed(vec_col, dim).alias("cn"),
    )
    rer = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", "adc_e6", _pair_cos(dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos", "adc_e6")
    )


def pq_serve_from_books(
    queries: DataFrame,
    corpus: DataFrame,
    books,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    dim: int = 64,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """The SERVE half of the flat-PQ cascade against already-trained
    codebooks (the build/serve split the IVF index draws — a corpus
    lifetime amortizes one training over many query batches): encode (or
    take ``encoded`` (vec_id, m, code) rows — the persisted-index shape),
    ADC-scan via the broadcast lookup table, pool-cut, cosine-rerank."""
    codes = (
        encoded
        if encoded is not None
        else pq_code_rows(corpus, books, id_col=id_col, vec_col=vec_col, dim=dim)
    ).withColumnRenamed("vec_id", "neighbor_id")
    lut = _adc_lut(queries, books, id_col=id_col, vec_col=vec_col, dim=dim)
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("contrib_e6").alias("adc_e6"))
    )
    return _pool_and_rerank(
        adc, queries, corpus,
        id_col=id_col, vec_col=vec_col, k=k, pool=pool, dim=dim,
    )


def pq_adc_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    n_iters: int = PQ_ITERS,
    dim: int = 64,
) -> DataFrame:
    """Two-stage PQ retrieval: stage 1 scores the WHOLE corpus from its
    ``m``-byte PQ codes via the broadcast ADC lookup table (exact BIGINT
    sums — no float touches the compressed scan) and keeps ``pool``
    candidates per query; stage 2 reranks only that shortlist with
    full-precision cosine, byte-identical to brute_force_topk's scorer.

    Plan: codes explode map-side → broadcast-LUT equi-join on (m, code) →
    groupBy (query, neighbor) whose map-side partial collapses the m-way
    blow-up before the one shuffle; pool/rank windows partition by
    query_id; float vectors join for |queries|·pool rows only."""
    proj = persist_tracked(corpus.select(id_col, vec_col))
    books = pq_codebooks(
        proj,
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        k=n_codes,
        n_iters=n_iters,
        dim=dim,
    )
    return pq_serve_from_books(
        queries, proj, books,
        id_col=id_col, vec_col=vec_col, k=k, pool=pool, dim=dim,
    )


def ivfpq_adc_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    n_iters: int = PQ_ITERS,
    dim: int = 64,
    n_centroids: int = 8,
    nprobe: int = 2,
    coarse_iters: int = 2,
) -> DataFrame:
    """IVF-PQ: the composition an actual 100 TB ANN corpus runs. The
    coarse k-means inverted lists (llm/similarity.py's deterministic
    seeded Lloyd) restrict WHICH pairs are scored — each query probes its
    ``nprobe`` nearest lists — and stage 1 reads only those candidates'
    ``m``-byte PQ codes through the broadcast ADC lookup table; stage 2
    reranks the ``pool`` shortlist in full precision. Against flat PQ the
    compressed scan shrinks from |corpus| to the probed-list mass; against
    flat IVF the per-candidate read shrinks 32×. Every constituent recipe
    is already pinned deterministic (round-9 argmin/argmax, integer
    micro-unit LUT), so the oracle replays the whole composition."""
    proj = persist_tracked(corpus.select(id_col, vec_col))
    # Coarse quantizer and codebooks train together: one init collect and
    # one pass per iteration, half the actions of kmeans_centroids +
    # pq_codebooks run back to back, with bit-identical results.
    coarse, *books = lloyd_train(
        proj,
        [
            coarse_quantizer(dim, n_centroids, coarse_iters),
            *pq_quantizers(dim, m, n_codes, n_iters),
        ],
        id_col=id_col,
        vec_col=vec_col,
    )
    cents = list(enumerate(coarse))
    corpus_lists = ivf_assignments(
        proj, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    ).select(F.col("id").alias("neighbor_id"), "cluster")
    query_probes = ivf_assignments(
        queries, cents, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe
    ).select(F.col("id").alias("query_id"), "cluster")
    cand = (
        F.broadcast(query_probes)
        .join(corpus_lists, ["cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates()
    )
    codes = pq_code_rows(
        proj, books, id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumnRenamed("vec_id", "neighbor_id")
    lut = _adc_lut(queries, books, id_col=id_col, vec_col=vec_col, dim=dim)
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("contrib_e6").alias("adc_e6"))
    )
    return _pool_and_rerank(
        adc, queries, corpus,
        id_col=id_col, vec_col=vec_col, k=k, pool=pool, dim=dim,
    )
