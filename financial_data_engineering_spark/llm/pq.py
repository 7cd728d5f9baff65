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
encode is one map-only pass that emits a vector's ``m`` codes as one
array (and, in IVF-PQ, its inverted list). The lookup table is an
expression over the query row with the codebooks as an array literal
(``_adc_lut``), so no codebook frame is shipped. Both cascades
broadcast one query-side frame (vector, lookup table and, in IVF-PQ,
the probed lists) and sum each candidate's score inline on the joined
row (``_adc_scan``): flat PQ pairs it with every encoded vector,
IVF-PQ with the vectors of the probed lists. Nothing shuffles before
the pool window, whose map side keeps ≤ ``pool`` rows per query and
partition. The rerank joins float vectors for |queries|·pool rows
only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_engineering_spark.functions.vectors import l2_norm_fixed
from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.llm.similarity import (
    Quantizer,
    _assign_codes,
    _nearest_cosine,
    _pair_cos,
    _top_by,
    arrow_matrix,
    coarse_quantizer,
    ivf_assignments,
    lloyd_train,
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


def pq_codes(
    corpus: DataFrame,
    books,
    *,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(vec_id, codes) PQ codes: ``codes[i]`` is the vector's code in
    subspace ``i`` (``m`` longs — ``m`` bytes per vector on disk). With
    coarse ``centroids`` (ids 0..n-1, in order) the same pass also emits
    ``cluster``, the vector's IVF list (``_nearest_cosine``, the rule of
    ``ivf_assignments`` at nprobe=1). One map-only Arrow pass; the code
    assignment rule is byte-identical to training's."""
    import numpy as np

    bmats = [np.asarray(b, dtype="float64") for b in books]
    m = len(bmats)
    sub = dim // m
    cmat = None if centroids is None else np.asarray(centroids, dtype="float64")
    fields = [T.StructField("vec_id", corpus.schema[id_col].dataType)]
    if cmat is not None:
        fields.append(T.StructField("cluster", T.LongType()))
    fields.append(T.StructField("codes", T.ArrayType(T.LongType())))
    schema = T.StructType(fields)

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            mat = arrow_matrix(batch.column(1), dim)
            cols = [batch.column(0)]
            if cmat is not None:
                cols.append(pa.array(_nearest_cosine(np, mat, cmat)))
            codes = np.column_stack(
                [
                    _assign_codes(np, mat[:, mi * sub : (mi + 1) * sub], cmat_)
                    for mi, cmat_ in enumerate(bmats)
                ]
            ).astype("int64")
            offsets = pa.array(np.arange(0, n * m + 1, m, dtype="int32"))
            cols.append(pa.ListArray.from_arrays(offsets, pa.array(codes.ravel())))
            yield pa.RecordBatch.from_arrays(cols, names=schema.names)

    return corpus.select(id_col, vec_col).mapInArrow(gen, schema)


def _adc_lut(vec_col: str, books, dim: int) -> Column:
    """array<long> ADC lookup table of the vector in ``vec_col``: entry
    ``i·k + c`` is its ``i``-th subvector dotted with centroid ``c`` of
    codebook ``i``, rounded to 9 decimals and fixed to integer
    micro-units (floor(v·10⁶ + 0.5) — true-value floor, engine-identical).

    The codebooks enter the plan as array literals, so the table is a
    JVM expression over the query row: no codebook frame to ship and no
    join. The dot is a zip_with/aggregate left fold (DuckDB
    list_dot_product's association); interpreted evaluation is
    irrelevant at |queries|·m·k entries and keeps it dim-generic.

    The expression is parsed from one SQL string: built from Column
    calls, each literal element and lambda costs a JVM round trip
    (seconds for m·k centroids). ``repr`` of a float round-trips
    exactly, and the ``D`` suffix parses it as a DOUBLE, not a
    DECIMAL."""
    sub = dim // len(books)
    v = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    parts = []
    for mi, book in enumerate(books):
        cents = ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")" for cv in book
        )
        dot = (
            f"aggregate(zip_with(slice({v}, {mi * sub + 1}, {sub}), cv,"
            " (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        )
        parts.append(
            f"transform(array({cents}),"
            f" cv -> CAST(floor(round({dot}, 9) * 1000000 + 0.5D) AS BIGINT))"
        )
    return F.expr(f"flatten(array({', '.join(parts)}))")


def _adc_scan(
    probe: DataFrame, codes: DataFrame, books, on: str | None = None
) -> DataFrame:
    """(query_id, neighbor_id, adc_e6, qv) candidate rows: the query-side
    ``probe`` frame (query_id, qv, lut, and ``on`` if given), broadcast,
    joined to the encoded corpus ``codes`` (neighbor_id, codes, and
    ``on``) on ``on``, or to every encoded vector without it. ``adc_e6``
    is the exact BIGINT sum of ``lut[i·k + codes[i]]`` over the ``m``
    subspaces, unrolled; ``k`` is the books' own size, the stride
    ``_adc_lut`` builds (a corpus smaller than the requested code count
    trains that many centroids per book)."""
    k = len(books[0])
    score = None
    for i in range(len(books)):
        term = F.col("lut")[F.lit(i * k) + F.col("codes")[i]]
        score = term if score is None else score + term
    return (
        F.broadcast(probe)
        .join(codes, on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("adc_e6"), "qv")
    )


def _pool_and_rerank(
    adc: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    pool: int,
    dim: int,
) -> DataFrame:
    """Shared cascade tail over (query_id, neighbor_id, adc_e6, qv) rows:
    cut the per-query ADC ranking to ``pool`` candidates, rerank the
    shortlist with full-precision cosine (byte-identical to
    brute_force_topk's scorer), keep ``k``. Corpus float vectors load for
    |queries|·pool rows only; the query vector rides along the candidate
    rows (the pool window's map side keeps ``pool`` rows per query)."""
    short = _top_by(adc, "adc_e6", pool, "prank").select(
        "query_id", "neighbor_id", "adc_e6", "qv",
        l2_norm_fixed("qv", dim).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm_fixed(vec_col, dim).alias("cn"),
    )
    rer = short.join(cv, "neighbor_id").select(
        "query_id", "neighbor_id", "adc_e6", _pair_cos(dim).alias("cos")
    )
    return _top_by(rer, "cos", k).select(
        "query_id", "rank", "neighbor_id", "cos", "adc_e6"
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
) -> DataFrame:
    """The SERVE half of the flat-PQ cascade against already-trained
    codebooks (the build/serve split the IVF index draws — a corpus
    lifetime amortizes one training over many query batches): encode,
    ADC-scan via the broadcast lookup table, pool-cut, cosine-rerank."""
    codes = pq_codes(
        corpus, books, id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumnRenamed("vec_id", "neighbor_id")
    probe = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _adc_lut(vec_col, books, dim).alias("lut"),
    )
    adc = _adc_scan(probe, codes, books)
    return _pool_and_rerank(
        adc, corpus,
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

    Plan: one map-only Arrow pass encodes the corpus → the broadcast
    query frame (vector + lookup table) pairs with every code row, the
    brute-force broadcast-NLJ shape (``queries`` must be small), and the
    score is an inline sum (``_adc_scan``), so nothing shuffles before
    the pool window; pool and rank windows partition by query_id; float
    vectors join for |queries|·pool rows only."""
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
    # One query-side broadcast: each query's nprobe probed lists, its
    # vector (for the rerank) and its ADC lookup table. One corpus-side
    # Arrow pass: each vector's list and PQ codes. The ADC score is then
    # an inline sum over the joined row, with no code table to explode,
    # and no pair dedupe is needed: a vector sits in one list and a
    # query's probes are distinct lists.
    probes = ivf_assignments(
        queries, list(enumerate(coarse)),
        id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe,
    ).select(
        F.col("id").alias("query_id"),
        "cluster",
        F.col("v").alias("qv"),
        _adc_lut("v", books, dim).alias("lut"),
    )
    lists = pq_codes(
        proj, books, centroids=coarse, id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumnRenamed("vec_id", "neighbor_id")
    adc = _adc_scan(probes, lists, books, "cluster")
    return _pool_and_rerank(
        adc, corpus,
        id_col=id_col, vec_col=vec_col, k=k, pool=pool, dim=dim,
    )
