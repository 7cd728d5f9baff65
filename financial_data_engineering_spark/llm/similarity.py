"""Similarity search over embedding columns (``array<float>``).

Every retriever here ends in the same tail (:func:`_cosine_topk`):
broadcast the small query-side probe frame, join it to the candidate
frame on a bucket key (or with no key), drop self-matches, score each
pair with the map-side-norm cosine and keep ``k`` per query through one
rank window (:func:`_top_by`). The paths differ only in how candidates
are chosen:

- **Brute-force top-k**: no key; every corpus vector is a candidate.
  Exact; the baseline everything else is validated against. Linear in
  |corpus| × |queries| — fine when queries are few.
- **Random-hyperplane LSH** (:func:`lsh_topk`): sign-of-projection bit
  signatures bucket the corpus; each query scores only the buckets it
  probes (its own, plus ``n_probes - 1`` nearest complementary ones).
- **IVF** (:func:`ivf_topk`, and llm/index.py for a persisted index):
  deterministic seeded Lloyd k-means inverted lists; each query scores
  its ``nprobe`` nearest lists.
- **Quantized cascade** (:func:`quantized_rerank_topk`, and llm/pq.py
  for product quantization): rank compressed codes first, rerank a
  per-query shortlist in full precision.
- **All-pairs GEMM** (:func:`pairwise_cosine_gemm`): exact pairwise
  cosine above a threshold in block-pair tiles.

Numpy kernels see vectors only as Arrow batches (``mapInArrow`` /
``applyInArrow``) and turn a list column into a matrix through one
helper, :func:`arrow_matrix`; no vector column crosses into pandas.

The hyperplanes are pseudo-random but fully deterministic — component j of
plane p is derived from md5(p|j) — so results are reproducible and a SQL
oracle can replay them exactly (no RNG, no model state to ship).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql import types as T

from financial_data_engineering_spark.llm.caching import persist_tracked
from financial_data_engineering_spark.llm.quantize import code_arrays

from financial_data_engineering_spark.functions.vectors import (
    dot_product_fixed,
    int_dot_fixed,
    l2_norm_fixed,
)


def arrow_matrix(col, dim: int = -1):
    """(n × dim) float64 matrix of an Arrow list column of n vectors — the
    one conversion every numpy kernel over an embedding column uses. A
    chunked column (a grouped kernel's table) is combined first;
    ``flatten()`` honours a sliced array's offset, which ``.values`` does
    not. ``dim=-1`` takes the width from the column."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(flat, dtype="float64").reshape(len(col), dim)


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j is the first hex
    nibble of md5(f"{plane}|{j}") minus 7.5 — mean-zero, fixed forever."""
    return [
        int(hashlib.md5(f"{plane}|{j}".encode()).hexdigest()[0], 16) - 7.5
        for j in range(dim)
    ]


def sql_hyperplane_component(plane: str, j: str) -> str:
    """DuckDB rendering of the same hyperplane formula (plane/j are SQL
    expressions), used to generate oracle queries from one definition."""
    return (
        f"(strpos('0123456789abcdef', substr(md5({plane} || '|' || {j}), 1, 1)) - 1"
        f" - 7.5)"
    )


def _pair_cos(dim: int) -> Column:
    """Per-pair cosine given map-side precomputed norms qn/cn: only the
    dim-term dot product is evaluated per pair. Same left-to-right double
    association as the one-shot expression, so results are bit-identical."""
    denom = F.col("qn") * F.col("cn")
    dot = dot_product_fixed("qv", "cv", dim)
    return F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 4)


def _top_by(df: DataFrame, score: str, k: int, rank: str = "rank") -> DataFrame:
    """The rows of ``df`` whose ``rank`` within their query_id is ≤ ``k``,
    ranked by ``score`` descending with ties → lowest neighbor_id — the
    rank window every retriever and cascade stage ends with."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _cosine_topk(
    probe: DataFrame,
    candidates: DataFrame,
    *,
    k: int,
    dim: int,
    on: str | None = None,
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos): the shared retrieval tail. The
    ``probe`` frame (query_id, qv, qn, and ``on`` if given) is broadcast
    — it must be small, the contract of every retriever here — and joined
    to ``candidates`` (neighbor_id, cv, cn, and ``on``) on ``on``, or to
    every candidate without it. Self-matches are dropped, each pair is
    scored by :func:`_pair_cos`, and the only shuffle is the per-query
    rank window."""
    scored = (
        F.broadcast(probe)
        .join(candidates, on)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_cos(dim).alias("cos"))
    )
    return _top_by(scored, "cos", k).select("query_id", "rank", "neighbor_id", "cos")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k per query: the broadcast queries against every
    corpus vector (a broadcast nested-loop join), ranked by
    :func:`_cosine_topk`. Ties broken by neighbor id for determinism.
    Self-matches excluded."""
    qa = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm_fixed(vec_col, dim).alias("qn"),
    )
    ca = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm_fixed(vec_col, dim).alias("cn"),
    )
    return _cosine_topk(qa, ca, k=k, dim=dim)


def _lsh_probes(
    df: DataFrame,
    planes: list[list[float]],
    n_probes: int,
    out_id: str,
    out_vec: str,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """(out_id, out_vec, sig) with ``n_probes`` rows per vector, from one
    Arrow-batched numpy GEMM against the plane matrix (the unrolled
    expression form pays ~10 s of codegen compilation per lineage). Bit p
    of a signature is 1 iff dot(v, plane_p) >= 0. Probe 0 is the vector's
    own bucket; probe i (i ≥ 1) flips the single bit whose hyperplane
    margin |dot(v, plane)| is i-th smallest — the bits most likely to have
    landed on the wrong side of their plane, i.e. the nearest
    complementary buckets. Margins are rounded to 9 decimals before
    ordering (ties → lowest plane index), so probe order is deterministic
    and an SQL oracle can replay it exactly."""
    import numpy as np

    pm = np.asarray(planes, dtype="float64")
    n_planes = len(pm)
    schema = T.StructType(
        [
            T.StructField(out_id, df.schema[id_col].dataType),
            T.StructField(out_vec, df.schema[vec_col].dataType),
            T.StructField("sig", T.StringType()),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            dots = arrow_matrix(batch.column(1), dim) @ pm.T
            bits = np.repeat((dots >= 0.0)[:, None, :], n_probes, axis=1)
            if n_probes > 1:
                margins = np.round(np.abs(dots), 9)
                order = np.lexsort(
                    (np.broadcast_to(np.arange(n_planes), margins.shape), margins),
                    axis=1,
                )
                rows, probe = np.arange(n)[:, None], np.arange(1, n_probes)
                flip = order[:, : n_probes - 1]
                bits[rows, probe, flip] = ~bits[rows, probe, flip]
            # one '0'/'1' byte per plane, read back as an n_planes-char string
            chars = bits.reshape(n * n_probes, n_planes).astype("uint8") + ord("0")
            sigs = chars.view(f"S{n_planes}").ravel().astype("U")
            idx = np.repeat(np.arange(n), n_probes)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0).take(idx), batch.column(1).take(idx), pa.array(sigs)],
                names=schema.names,
            )

    return df.select(id_col, vec_col).mapInArrow(gen, schema)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: corpus and queries are bucketed by an
    ``n_planes``-bit random-hyperplane signature; scoring happens only
    within the buckets a query probes (equi-join on the signature — a
    hash join on a ~uniform key instead of a cross product), and
    candidates are ranked exactly as in brute force.

    With ``n_probes=1`` a query probes only its own bucket, and queries
    whose bucket holds fewer than k candidates return fewer rows. Each
    further probe adds the next-nearest complementary bucket (lowest
    hyperplane margin bit flipped, :func:`_lsh_probes`), so thin buckets
    can still fill k: recall is a superset of single-probe at
    ~n_probes× the candidate cost, with no extra corpus-side work (the
    corpus is still bucketed once). Each corpus vector lives in exactly
    one bucket and probe signatures are distinct, so no candidate dedup
    is needed."""
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    n_probes = max(1, min(n_probes, n_planes + 1))
    qa = _lsh_probes(
        queries, planes, n_probes, "query_id", "qv",
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).withColumn("qn", l2_norm_fixed("qv", dim))
    ca = _lsh_probes(
        corpus, planes, 1, "neighbor_id", "cv",
        id_col=id_col, vec_col=vec_col, dim=dim,
    ).withColumn("cn", l2_norm_fixed("cv", dim))
    return _cosine_topk(qa, ca, k=k, dim=dim, on="sig")


def pairwise_cosine_gemm(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_to: int = 4,
    n_blocks: int | None = None,
    block_rows: int = 4096,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via a distributed block-pair matrix
    multiply — the vectorized kernel for exact pairwise similarity, with
    nothing ever collected to the driver.

    Expression-based pairwise cosine dies at scale for a structural reason:
    Catalyst pushes the threshold filter into the nested-loop join
    condition, where the unrolled dot product is evaluated per ordered pair
    outside whole-stage codegen (and twice — once in the condition, once in
    the projection). Instead the corpus is hashed into B blocks of
    ~``block_rows`` vectors, every vector is replicated to the B block-pair
    groups it participates in (shuffle volume B×|corpus| — the unavoidable
    cost of EXACT all-pairs, stated rather than hidden), and each
    (block_a ≤ block_b) group computes its similarity tile with one BLAS
    GEMM inside ``applyInArrow``. Group memory is bounded by two blocks
    regardless of corpus size; parallelism is B(B+1)/2 independent tiles.
    For approximate dedup at the 100 TB tier, run this same kernel per
    LSH/IVF bucket instead (see lsh_topk / ivf_topk) so B stays small.

    Returns (vec_a, vec_b, cos) with vec_a < vec_b, cos rounded then
    thresholded. Pair math is identical to the single-matrix form:
    dot / (||a||·||b||), zero-norm vectors score 0.

    Block-count sizing runs NO job: when ``n_blocks`` isn't given it is
    estimated from the optimizer's size statistics (file size for parquet
    scans) assuming ≥64 compressed bytes per vector row — erring toward
    more/smaller blocks, which is memory-safe — and clamped to ≤64 blocks
    in case a plan has no usable statistics (Spark's missing-stats default
    is effectively infinite). Results don't depend on blocking; at real
    scale pass ``n_blocks`` explicitly from known corpus size.
    """
    import numpy as np

    if n_blocks is None:
        size = int(
            corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        est_rows = max(1, size // 64)
        n_blocks = min(64, max(1, -(-est_rows // block_rows)))
    pair_structs = [
        F.struct(
            F.least(F.col("blk"), F.lit(j)).alias("ba"),
            F.greatest(F.col("blk"), F.lit(j)).alias("bb"),
        )
        for j in range(n_blocks)
    ]
    tagged = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        )
        .withColumn("bp", F.explode(F.array(*pair_structs)))
        .select("id", "v", "blk", F.col("bp.ba").alias("ba"), F.col("bp.bb").alias("bb"))
    )

    def tile(key, table):
        import pyarrow as pa

        ba, bb = key[0].as_py(), key[1].as_py()
        blk = table["blk"].to_numpy()
        ids = table["id"].to_numpy().astype("int64", copy=False)
        mat = arrow_matrix(table["v"])
        # an empty side (block bb holds no vector) yields an empty tile
        left = blk == ba
        right = left if ba == bb else blk == bb
        l_ids, r_ids = ids[left], ids[right]
        l_mat = mat[left]
        r_mat = l_mat if ba == bb else mat[right]
        l_norms = np.linalg.norm(l_mat, axis=1)
        r_norms = l_norms if ba == bb else np.linalg.norm(r_mat, axis=1)
        l_safe = np.where(l_norms == 0.0, 1.0, l_norms)
        r_safe = np.where(r_norms == 0.0, 1.0, r_norms)
        # dot / (||a||·||b||) in that order, matching the SQL oracle's
        # association; zero-norm rows score 0 via the masked denominator.
        sims = (l_mat @ r_mat.T) / np.outer(l_safe, r_safe)
        sims[l_norms == 0.0, :] = 0.0
        sims[:, r_norms == 0.0] = 0.0
        cos = np.round(sims, round_to)
        if ba == bb:
            keep = (cos >= threshold) & (l_ids[:, None] < r_ids[None, :])
        else:
            keep = cos >= threshold
        li, ri = np.nonzero(keep)
        ia, ib = l_ids[li], r_ids[ri]
        return pa.table(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cos": cos[li, ri],
            }
        )

    return tagged.groupBy("ba", "bb").applyInArrow(
        tile, schema="vec_a long, vec_b long, cos double"
    )


def ivf_assignments(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nprobe: int = 1,
) -> DataFrame:
    """(id, v, probe_rank, cluster) rows: each vector's ``nprobe`` nearest
    coarse centroids by cosine (ties broken by lowest centroid id).

    Arrow-batched numpy kernel: per batch, one (batch × centroids) GEMM,
    then a lexsort picks each row's top-nprobe centroids. Two earlier
    formulations lost here: sort_array-of-structs runs interpreted and
    re-inlines per element (~100× slow), and a flat unrolled projection is
    codegen-able but its ~1000-term method costs ~10 s of janino
    compilation per lineage. The GEMM costs neither.

    Assignment is engine-stable by construction: the cosine uses the same
    dot/(|v|·|c|) association as DuckDB's list_cosine_similarity and is
    rounded to 9 decimals before the argmax (mirrored in the oracle), so
    a last-ulp float difference can never flip which centroid wins."""
    import numpy as np

    cids = np.array([cid for cid, _ in centroids], dtype="int64")
    cmat = np.asarray([v for _, v in centroids], dtype="float64")
    schema = T.StructType(
        [
            T.StructField("id", corpus.schema[id_col].dataType),
            T.StructField("v", corpus.schema[vec_col].dataType),
            T.StructField("probe_rank", T.IntegerType()),
            T.StructField("cluster", T.LongType()),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            cos = _assign_cosine(np, arrow_matrix(batch.column(1), dim), cmat)
            # top-nprobe per row: cos desc, centroid id asc on ties
            order = np.lexsort((np.broadcast_to(cids, cos.shape), -cos), axis=1)
            idx = np.repeat(np.arange(n), nprobe)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(idx),
                    batch.column(1).take(idx),
                    pa.array(np.tile(np.arange(nprobe, dtype="int32"), n)),
                    pa.array(cids[order[:, :nprobe]].ravel()),
                ],
                names=schema.names,
            )

    return corpus.select(id_col, vec_col).mapInArrow(gen, schema)


def _assign_cosine(np, mat, cmat):
    """(batch × centroids) cosine matrix for assignment: dot/(|v|·|c|) —
    the list_cosine_similarity association — rounded to 9 decimals so the
    argmax is stable across engines (zero-norm rows score 0)."""
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm_safe = np.where(cnorm == 0.0, 1.0, cnorm)
    vnorm = np.linalg.norm(mat, axis=1)
    vnorm_safe = np.where(vnorm == 0.0, 1.0, vnorm)
    cos = np.round(
        (mat @ cmat.T) / np.outer(vnorm_safe, cnorm_safe), 9
    )
    cos[vnorm == 0.0, :] = 0.0
    return cos


def _nearest_cosine(np, mat, cmat):
    """IVF coarse-quantizer rule: argmax of :func:`_assign_cosine`, ties →
    lowest centroid id."""
    cos = _assign_cosine(np, mat, cmat)
    ids = np.arange(len(cmat))
    return np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)[:, 0]


def _assign_codes(np, mat, cmat):
    """PQ codebook rule, shared by training and encoding: Euclidean
    distance to each centroid rounded to 9 decimals, argmin with ties →
    lowest code id (np.argmin keeps the first minimum, ids ascend)."""
    d = np.round(
        np.sqrt(((mat[:, None, :] - cmat[None, :, :]) ** 2).sum(-1)), 9
    )
    return np.argmin(d, axis=1)


KMEANS_SCALE = 1_000_000


class Quantizer(NamedTuple):
    """One quantizer trained by :func:`lloyd_train`: ``k`` centroids over
    the vector components ``[lo, hi)``, vectors assigned by ``assign``
    (:func:`_nearest_cosine` or :func:`_assign_codes`), ``iters`` Lloyd
    iterations."""

    lo: int
    hi: int
    assign: Callable
    k: int
    iters: int


def coarse_quantizer(dim: int, n_centroids: int, n_iters: int) -> Quantizer:
    """The IVF coarse quantizer: cosine assignment over the whole vector."""
    return Quantizer(0, dim, _nearest_cosine, n_centroids, n_iters)


def _lloyd_partials(corpus: DataFrame, live, id_col: str, vec_col: str) -> DataFrame:
    """One Lloyd iteration of every ``live`` (q, lo, hi, assign, centroid
    matrix) quantizer as a single map-only Arrow pass: per batch, scale
    each vector to ``round(x·10⁶)`` longs once, assign its ``[lo, hi)``
    slice per quantizer, and emit one (q, code, cnt, sums) row per
    present cell."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("q", T.LongType()),
            T.StructField("code", T.LongType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("sums", T.ArrayType(T.LongType())),
        ]
    )

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            mat = arrow_matrix(batch.column(1))
            s = mat * KMEANS_SCALE
            # round-half-away-from-zero, matching Spark/DuckDB round(x)
            scaled = (np.floor(np.abs(s) + 0.5) * np.sign(s)).astype("int64")
            out: dict[str, list] = {"q": [], "code": [], "cnt": [], "sums": []}
            for qi, lo, hi, assign, cmat in live:
                best = assign(np, mat[:, lo:hi], cmat)
                for c in np.unique(best):
                    mask = best == c
                    out["q"].append(qi)
                    out["code"].append(int(c))
                    out["cnt"].append(int(mask.sum()))
                    out["sums"].append(scaled[mask, lo:hi].sum(axis=0).tolist())
            yield pa.RecordBatch.from_pydict(out)

    return corpus.select(id_col, vec_col).mapInArrow(gen, schema)


def lloyd_train(
    corpus: DataFrame,
    quantizers: list[Quantizer],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic seeded Lloyd k-means for any set of quantizers over
    one corpus; returns ``centroids[q][code] -> [float]`` per quantizer.

    Init is one collect of the ``max(k)`` lowest-id corpus vectors;
    quantizer q starts from the first ``k`` of them, sliced to
    ``[lo, hi)`` and relabeled 0..k-1 — no RNG. Each iteration is ONE
    map-only Arrow pass for every quantizer still iterating: per batch,
    each vector is scaled to ``round(x·10⁶)`` longs once, assigned by each
    quantizer's rule on its slice, and one (q, code, cnt, sums) row is
    emitted per present cell. Integer partial sums are order-independent,
    so the driver fold is bit-identical to a global aggregate and a SQL
    replica (queries/similarity_oracles.py) computes the same centroids
    regardless of aggregation order; each centroid is divided once, and
    empty cells keep their previous centroid. Only ~(partitions × cells)
    rows reach the driver; the corpus never moves. Spark jobs:
    ``1 + max(iters)``.

    Callers doing several passes (training + final assignment) should pass
    a persisted projection of (id_col, vec_col) so each iteration scans
    the cache, not the source (see ivf_topk)."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max(q.k for q in quantizers))
        .collect()
    )
    if not rows:
        raise ValueError("lloyd_train: corpus has no vectors")
    init = [[float(x) for x in r[vec_col]] for r in rows]
    cents = [[v[q.lo : q.hi] for v in init[: q.k]] for q in quantizers]
    for it in range(max(q.iters for q in quantizers)):
        live = [
            (qi, q.lo, q.hi, q.assign, np.asarray(cents[qi], dtype="float64"))
            for qi, q in enumerate(quantizers)
            if it < q.iters
        ]
        partials = _lloyd_partials(corpus, live, id_col, vec_col).collect()
        cells: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in partials:
            key = (int(r["q"]), int(r["code"]))
            cnt, sums = cells.get(key, (0, [0] * len(r["sums"])))
            cells[key] = (
                cnt + int(r["cnt"]),
                [a + int(b) for a, b in zip(sums, r["sums"])],
            )
        for qi, *_ in live:
            cents[qi] = [
                [s / (KMEANS_SCALE * cells[(qi, c)][0]) for s in cells[(qi, c)][1]]
                if (qi, c) in cells
                else old
                for c, old in enumerate(cents[qi])
            ]
    return cents


def kmeans_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iters: int = 2,
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """The IVF coarse quantizer alone: :func:`lloyd_train` with
    ``n_centroids`` cosine-assigned centroids over the whole vector, as
    ``(cid, centroid)`` pairs."""
    (cents,) = lloyd_train(
        corpus,
        [coarse_quantizer(dim, n_centroids, n_iters)],
        id_col=id_col,
        vec_col=vec_col,
    )
    return list(enumerate(cents))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    dim: int = 64,
    n_iters: int = 2,
) -> DataFrame:
    """Approximate cosine top-k via IVF coarse quantization: corpus
    vectors live in the inverted list of their single nearest centroid;
    each query probes its ``nprobe`` nearest lists and ranks only those
    candidates. Higher recall knob than single-probe LSH at the same
    candidate budget.

    Coarse centroids come from :func:`kmeans_centroids` — deterministic
    seeded Lloyd iterations, so recall reflects real centroid quality
    while a SQL oracle can still replay training exactly. The (id, vec)
    projection is persisted once and shared by every training pass and the
    final inverted-list assignment, so the source is scanned a single
    time; scoring reuses the map-side-norm _pair_cos path (norms computed
    once per row, not per pair); the broadcast query probes join the
    inverted lists map-side, so the only shuffle is the rank window."""
    proj = persist_tracked(corpus.select(id_col, vec_col))
    centroids = kmeans_centroids(
        proj,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        n_iters=n_iters,
        dim=dim,
    )
    corpus_lists = ivf_assignments(
        proj, centroids, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=1
    ).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        "cluster",
        l2_norm_fixed("v", dim).alias("cn"),
    )
    query_probes = ivf_assignments(
        queries, centroids, id_col=id_col, vec_col=vec_col, dim=dim, nprobe=nprobe
    ).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        "cluster",
        l2_norm_fixed("v", dim).alias("qn"),
    )
    # No pair dedupe: a corpus vector sits in exactly one list and a
    # query's nprobe probes are distinct lists, so with unique ids each
    # (query_id, neighbor_id) pair is scored once.
    return _cosine_topk(query_probes, corpus_lists, k=k, dim=dim, on="cluster")


def quantized_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 20,
    dim: int = 64,
) -> DataFrame:
    """Two-stage quantized retrieval cascade — the memory-bandwidth play
    a 100 TB embedding corpus actually ships: stage 1 scans int8 CODE
    arrays (4x smaller than float32, llm/quantize.py code_arrays) and
    ranks by the DEQUANTIZED integer dot product; stage 2 reranks only
    the per-query ``pool`` shortlist with full-precision cosine,
    byte-identical to brute_force_topk's scoring. The expensive scan
    touches codes only; float vectors load for |queries|·pool rows.

    Stage 1's score is exact int64 end-to-end AND a faithful proxy for
    the true dot product. Component j dequantizes to ``(mn_e4·255 +
    code_j·d_e4)`` in 1/(255·10⁴) units (integer affine frame fixed at
    code build), and the pairwise dequantized dot EXPANDS — Σ_j (qmn·255
    + qc_j·qd)(cmn·255 + cc_j·cd) — into

        255²·dim·qmn·cmn + 255·(qmn·cd·csum_c + cmn·qd·csum_q)
        + qd·cd·code_dot

    i.e. the raw integer code dot plus O(1) per-vector corrections; no
    per-component float work, no new per-pair cost, hash-comparable
    across engines. (The round-8 version ranked by the RAW code dot —
    measured recall@5 was 2/25 because each vector's [mn, mx] grid
    differs, making raw code products incomparable across vectors; the
    dequantized form is measured at 24-25/25. Magnitudes: |x|<=~30 keeps
    every term under ~4e17, inside int64.)

    Stage 1 is the brute-force broadcast-NLJ shape (query side tiny by
    contract); stage 2's joins are equi-joins against the shortlist.
    Ranking ties break by neighbor id at both stages."""
    ccodes = code_arrays(corpus, id_col=id_col, vec_col=vec_col)
    qcodes = (
        code_arrays(queries, id_col=id_col, vec_col=vec_col)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("qc"),
            F.col("mn_e4").alias("qmn"),
            F.col("d_e4").alias("qd"),
            F.col("csum").alias("qsum"),
        )
    )
    dq = (
        F.lit(255 * 255 * dim) * F.col("qmn") * F.col("cmn")
        + F.lit(255)
        * (F.col("qmn") * F.col("cd") * F.col("ccsum")
           + F.col("cmn") * F.col("qd") * F.col("qsum"))
        + F.col("qd") * F.col("cd") * int_dot_fixed("qc", "cc", dim)
    )
    sab = (
        F.broadcast(qcodes)
        .join(
            ccodes.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("codes").alias("cc"),
                F.col("mn_e4").alias("cmn"),
                F.col("d_e4").alias("cd"),
                F.col("csum").alias("ccsum"),
            ),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", dq.alias("dq_dot"))
    )
    short = _top_by(sab, "dq_dot", pool, "prank").select(
        "query_id", "neighbor_id", "dq_dot"
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
        .select(
            "query_id",
            "neighbor_id",
            "dq_dot",
            _pair_cos(dim).alias("cos"),
        )
    )
    return _top_by(rer, "cos", k).select(
        "query_id", "rank", "neighbor_id", "cos", "dq_dot"
    )
