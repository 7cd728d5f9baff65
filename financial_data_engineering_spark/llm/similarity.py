"""Similarity search over embedding columns (``array<float>``).

Two paths:

- **Brute-force top-k**: broadcast the (small) query set against the corpus,
  score every pair with a codegen'd cosine expression, keep k per query via
  a window. Exact; the baseline everything else is validated against. Scales
  linearly in |corpus| × |queries| — fine when queries are few, wrong when
  both sides are the corpus.
- **Random-hyperplane LSH ANN**: sign-of-projection bit signatures bucket
  the corpus; each query only scores candidates sharing its bucket. The
  100 TB path: the expensive join shrinks from |corpus| to the bucket size,
  at the cost of recall (tunable via signature bits / multi-probe).

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

from financial_data_engineering_spark.functions.vectors import (
    dot_product_fixed,
    int_dot_fixed,
    l2_norm_fixed,
)


def vec_matrix(vecs):
    """(n × dim) float64 matrix from n vectors (a pandas column of
    arrays, or any iterable of sequences) — the one conversion every
    numpy kernel over an embedding column uses."""
    import numpy as np

    return np.stack([np.asarray(v, dtype="float64") for v in vecs])


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


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-signature string: bit p = 1 iff dot(vec, plane_p) >= 0. The dot
    products are unrolled into flat sums over element_at terms — plain
    codegen arithmetic, no higher-order functions (those run interpreted
    and explode when optimizer inlining multiplies them)."""
    bits = []
    for plane in planes:
        dot = None
        for j, w in enumerate(plane):
            term = F.element_at(vec, j + 1).cast("double") * F.lit(w)
            dot = term if dot is None else dot + term
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _pair_cos(dim: int) -> Column:
    """Per-pair cosine given map-side precomputed norms qn/cn: only the
    dim-term dot product is evaluated per pair. Same left-to-right double
    association as the one-shot expression, so results are bit-identical."""
    denom = F.col("qn") * F.col("cn")
    dot = dot_product_fixed("qv", "cv", dim)
    return F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 4)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact cosine top-k per query. ``queries`` is broadcast (it must be
    small — that is the contract of this operator); the corpus side streams
    through map-side scoring, and the only shuffle is the per-query window
    for rank, partitioned on query_id so it parallelizes across queries.
    Ties broken by neighbor id for determinism. Self-matches excluded."""
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
    scored = (
        F.broadcast(qa)
        .join(ca, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_cos(dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _lsh_assign(
    df: DataFrame,
    planes: list[list[float]],
    out_id: str,
    out_vec: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(out_id, out_vec, sig) rows: sign-bit signature per vector via one
    Arrow-batched numpy GEMM against the plane matrix — same kernel choice
    as ivf_assignments and for the same reason (the unrolled expression
    form pays ~10 s of codegen compilation per lineage)."""
    pm = vec_matrix(planes)

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    vec_field = next(f for f in df.schema.fields if f.name == vec_col)
    schema = T.StructType(
        [
            T.StructField(out_id, id_field.dataType),
            T.StructField(out_vec, vec_field.dataType),
            T.StructField("sig", T.StringType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = vec_matrix(pdf[vec_col])
            bits = (mat @ pm.T) >= 0.0
            sigs = ["".join("1" if b else "0" for b in row) for row in bits]
            yield pd.DataFrame(
                {
                    out_id: pdf[id_col].to_numpy(),
                    out_vec: pdf[vec_col],
                    "sig": sigs,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: corpus and queries are bucketed by an
    ``n_planes``-bit random-hyperplane signature; scoring happens only
    within a query's bucket (equi-join on the signature — a hash join on a
    ~uniform key instead of a cross product). Candidates are then ranked
    exactly as in brute force. Queries whose bucket holds fewer than k
    candidates return fewer rows — the standard single-probe LSH tradeoff
    (raise recall with fewer bits or multi-probe variants)."""
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    qa = _lsh_assign(
        queries, planes, "query_id", "qv", id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumn("qn", l2_norm_fixed("qv", dim))
    ca = _lsh_assign(
        corpus, planes, "neighbor_id", "cv", id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumn("cn", l2_norm_fixed("cv", dim))
    scored = (
        F.broadcast(qa)
        .join(ca, ["sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_cos(dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _lsh_query_probes(
    queries: DataFrame,
    planes: list[list[float]],
    n_probes: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, qv, sig) with one row per probe: probe 0 is the query's
    own bucket; probe i (i ≥ 1) flips the single bit whose hyperplane
    margin |dot(q, plane)| is i-th smallest — the bits most likely to have
    landed on the wrong side of their plane, i.e. the nearest
    complementary buckets. Margins are rounded to 9 decimals before
    ordering (ties → lowest plane index), so probe order is deterministic
    and an SQL oracle can replay it exactly."""
    import numpy as np

    pm = vec_matrix(planes)
    n_planes = pm.shape[0]
    n_probes = max(1, min(n_probes, n_planes + 1))

    id_field = next(f for f in queries.schema.fields if f.name == id_col)
    vec_field = next(f for f in queries.schema.fields if f.name == vec_col)
    schema = T.StructType(
        [
            T.StructField("query_id", id_field.dataType),
            T.StructField("qv", vec_field.dataType),
            T.StructField("sig", T.StringType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = vec_matrix(pdf[vec_col])
            dots = mat @ pm.T
            bits = dots >= 0.0
            margins = np.round(np.abs(dots), 9)
            order = np.lexsort(
                (np.broadcast_to(np.arange(n_planes), margins.shape), margins),
                axis=1,
            )
            ids, vecs, sigs = [], [], []
            for i in range(len(pdf)):
                base = bits[i]
                ids.append(pdf[id_col].iloc[i])
                vecs.append(pdf[vec_col].iloc[i])
                sigs.append("".join("1" if b else "0" for b in base))
                for probe in range(1, n_probes):
                    flipped = base.copy()
                    j = order[i, probe - 1]
                    flipped[j] = not flipped[j]
                    ids.append(pdf[id_col].iloc[i])
                    vecs.append(pdf[vec_col].iloc[i])
                    sigs.append("".join("1" if b else "0" for b in flipped))
            yield pd.DataFrame({"query_id": ids, "qv": vecs, "sig": sigs})

    return queries.select(id_col, vec_col).mapInPandas(gen, schema=schema)


def lsh_topk_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_probes: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH top-k: like :func:`lsh_topk`, but each query also
    probes its ``n_probes - 1`` nearest complementary buckets (lowest
    hyperplane margin bits flipped), so thin buckets can still fill k
    candidates — recall is a strict superset of single-probe at ~n_probes×
    the candidate cost, with no extra corpus-side work (the corpus is
    still bucketed once). Each corpus vector lives in exactly one bucket
    and probe signatures are distinct, so no candidate dedup is needed."""
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    qa = _lsh_query_probes(
        queries, planes, n_probes, id_col=id_col, vec_col=vec_col
    ).withColumn("qn", l2_norm_fixed("qv", dim))
    ca = _lsh_assign(
        corpus, planes, "neighbor_id", "cv", id_col=id_col, vec_col=vec_col, dim=dim
    ).withColumn("cn", l2_norm_fixed("cv", dim))
    scored = (
        F.broadcast(qa)
        .join(ca, ["sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_cos(dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


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
    GEMM inside ``applyInPandas``. Group memory is bounded by two blocks
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

    def tile(key, pdf):
        import pandas as pd

        ba, bb = int(key[0]), int(key[1])
        left = pdf[pdf["blk"] == ba]
        right = left if ba == bb else pdf[pdf["blk"] == bb]
        if not len(left) or not len(right):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cos": "float64"}
            )
        l_ids = left["id"].to_numpy()
        r_ids = right["id"].to_numpy()
        l_mat = vec_matrix(left["v"])
        r_mat = l_mat if ba == bb else vec_matrix(right["v"])
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
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cos": cos[li, ri],
            }
        )

    return tagged.groupBy("ba", "bb").applyInPandas(
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
    cmat = vec_matrix(v for _, v in centroids)

    id_field = next(f for f in corpus.schema.fields if f.name == id_col)
    vec_field = next(f for f in corpus.schema.fields if f.name == vec_col)
    schema = T.StructType(
        [
            T.StructField("id", id_field.dataType),
            T.StructField("v", vec_field.dataType),
            T.StructField("probe_rank", T.IntegerType()),
            T.StructField("cluster", T.LongType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cos = _assign_cosine(np, vec_matrix(pdf[vec_col]), cmat)
            # top-nprobe per row: cos desc, centroid id asc on ties
            order = np.lexsort((np.broadcast_to(cids, cos.shape), -cos), axis=1)
            take = order[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy().repeat(nprobe),
                    "v": [
                        pdf[vec_col].iloc[i] for i in range(n) for _ in range(nprobe)
                    ],
                    "probe_rank": np.tile(np.arange(nprobe, dtype="int32"), n),
                    "cluster": cids[take].ravel(),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema=schema)


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
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = vec_matrix(pdf[vec_col])
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
            yield pd.DataFrame(out)

    return corpus.select(id_col, vec_col).mapInPandas(gen, schema=schema)


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
            (qi, q.lo, q.hi, q.assign, vec_matrix(cents[qi]))
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
    scored = (
        F.broadcast(query_probes)
        .join(corpus_lists, ["cluster"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _pair_cos(dim).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


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
    ccodes = code_arrays_cached(corpus, id_col=id_col, vec_col=vec_col)
    qcodes = (
        code_arrays_cached(queries, id_col=id_col, vec_col=vec_col)
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
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("dq_dot"), F.asc("neighbor_id")
    )
    short = (
        sab.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") <= pool)
        .select("query_id", "neighbor_id", "dq_dot")
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
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos", "dq_dot")
    )


def code_arrays_cached(df, **kw):
    """Thin import indirection so the cascade reads next to its scorer;
    no caching beyond what the plan shares (the code build is one
    exchange either way)."""
    from financial_data_engineering_spark.llm.quantize import code_arrays

    return code_arrays(df, **kw)
