"""DuckDB oracle SQL for the similarity queries, as importable
constants with NO registration side effects — queries/similarity.py
registers them, and queries/audits.py composes them (RRF fusion) without
perturbing the driver-gate registration order.
"""

from __future__ import annotations

from financial_data_engineering_spark.llm import similarity as sim

_N_QUERIES = 5
_TOP_K = 5
_N_PLANES = 4
#: Embedding dimensionality of the synthetic embeddings table — shared
#: by the queries and their oracles (interpolated below, never
#: hardcoded), so a knob change cannot desynchronize them.
EMB_DIM = 64

_BRUTE_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < {_N_QUERIES}
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id,
           round(list_cosine_similarity(qv, cv), 4) AS cos
    FROM q JOIN c ON query_id != neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


LSH_ORACLE = f"""
WITH planes AS (
    SELECT p, list_transform(range(64), j ->
        {sim.sql_hyperplane_component('p::VARCHAR', 'j::VARCHAR')}) AS w
    FROM (SELECT unnest(range({_N_PLANES})) AS p)
),
sigs AS (
    SELECT e.vec_id,
           string_agg(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.w) >= 0
                           THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS sig
    FROM embeddings e, planes pl
    GROUP BY e.vec_id
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                        ce.embedding::DOUBLE[]), 4) AS cos
    FROM sigs q
    JOIN sigs c ON q.sig = c.sig AND q.vec_id != c.vec_id
    JOIN embeddings qe ON qe.vec_id = q.vec_id
    JOIN embeddings ce ON ce.vec_id = c.vec_id
    WHERE q.vec_id < {_N_QUERIES}
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


_MULTIPROBE_ORACLE = f"""
WITH planes AS (
    SELECT p, list_transform(range(64), j ->
        {sim.sql_hyperplane_component('p::VARCHAR', 'j::VARCHAR')}) AS w
    FROM (SELECT unnest(range({_N_PLANES})) AS p)
),
dots AS (
    SELECT e.vec_id, pl.p,
           list_dot_product(e.embedding::DOUBLE[], pl.w) AS d
    FROM embeddings e, planes pl
),
sigs AS (
    SELECT vec_id,
           string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                      ORDER BY p) AS sig
    FROM dots GROUP BY vec_id
),
qflip AS (
    SELECT vec_id, p AS flip_p FROM (
        SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(abs(d), 9), p) AS rn
        FROM dots WHERE vec_id < {_N_QUERIES}
    ) WHERE rn = 1
),
qprobes AS (
    SELECT vec_id, sig FROM sigs WHERE vec_id < {_N_QUERIES}
    UNION ALL
    SELECT s.vec_id,
           substr(s.sig, 1, f.flip_p)
           || (CASE WHEN substr(s.sig, f.flip_p + 1, 1) = '1'
                    THEN '0' ELSE '1' END)
           || substr(s.sig, f.flip_p + 2) AS sig
    FROM sigs s JOIN qflip f USING (vec_id)
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                        ce.embedding::DOUBLE[]), 4) AS cos
    FROM qprobes q
    JOIN sigs c ON q.sig = c.sig AND q.vec_id != c.vec_id
    JOIN embeddings qe ON qe.vec_id = q.vec_id
    JOIN embeddings ce ON ce.vec_id = c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


_QUANT_ORACLE = f"""
WITH ex AS (
    SELECT vec_id,
           (embedding::DOUBLE[])[CAST(j AS INT)] AS x
    FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS j)
), b AS (
    SELECT vec_id, x,
           min(x) OVER (PARTITION BY vec_id) AS mn,
           max(x) OVER (PARTITION BY vec_id) AS mx
    FROM ex
), c AS (
    SELECT vec_id, x, mn, mx,
           CASE WHEN mx > mn
                THEN CAST(floor(((x - mn) * 255 / (mx - mn)) + 0.5) AS BIGINT)
                ELSE 0 END AS code
    FROM b
), e AS (
    SELECT vec_id, code,
           CAST(floor(abs(x - (mn + (code * (mx - mn)) / 255)) * 1000000
                      + 0.5) AS BIGINT) AS err_e6
    FROM c
), agg AS (
    SELECT vec_id, count(*) AS n,
           sum(code) AS code_sum, sum(err_e6) AS err_sum
    FROM e GROUP BY vec_id
)
SELECT vec_id,
       CAST(code_sum AS BIGINT) AS code_sum,
       CAST((2 * err_sum + n) // (2 * n) AS BIGINT) AS mean_err_e6
FROM agg
ORDER BY vec_id
"""


#: Quantized-cascade pool: stage 1 keeps this many code-dot candidates
#: per query for full-precision reranking.
RERANK_POOL = 20

QUANT_RERANK_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, j,
           (embedding::DOUBLE[])[CAST(j AS INT)] AS x
    FROM embeddings, (SELECT unnest(range(1, {EMB_DIM} + 1)) AS j)
), b AS (
    SELECT vec_id, j, x,
           min(x) OVER (PARTITION BY vec_id) AS mn,
           max(x) OVER (PARTITION BY vec_id) AS mx
    FROM ex
), c AS (
    SELECT vec_id, j, mn, mx,
           CASE WHEN mx > mn
                THEN CAST(floor(((x - mn) * 255 / (mx - mn)) + 0.5) AS BIGINT)
                ELSE 0 END AS code
    FROM b
), codes AS (
    SELECT vec_id, list(code ORDER BY j) AS cs,
           CAST(floor(min(mn) * 10000 + 0.5) AS BIGINT) AS mn_e4,
           CAST(floor((min(mx) - min(mn)) * 10000 + 0.5) AS BIGINT) AS d_e4,
           CAST(sum(code) AS BIGINT) AS csum
    FROM c GROUP BY vec_id
), q AS (
    SELECT vec_id AS query_id, cs AS qc,
           mn_e4 AS qmn, d_e4 AS qd, csum AS qsum
    FROM codes
    WHERE vec_id < {{_N_QUERIES}}
), sab AS (
    SELECT q.query_id, co.vec_id AS neighbor_id,
           CAST({255 * 255 * EMB_DIM} * qmn * co.mn_e4
                + 255 * (qmn * co.d_e4 * co.csum
                         + co.mn_e4 * qd * qsum)
                + qd * co.d_e4
                  * CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
                        j -> qc[CAST(j AS INT)] * cs[CAST(j AS INT)]))
                    AS BIGINT)
               AS BIGINT) AS dq_dot
    FROM q, codes co WHERE co.vec_id != q.query_id
), pool AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dq_dot DESC, neighbor_id) AS prank
    FROM sab
), short AS (
    SELECT query_id, neighbor_id, dq_dot FROM pool
    WHERE prank <= {{RERANK_POOL}}
), rer AS (
    SELECT s.query_id, s.neighbor_id, s.dq_dot,
           round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                        ce.embedding::DOUBLE[]), 4) AS cos
    FROM short s
    JOIN embeddings qe ON qe.vec_id = s.query_id
    JOIN embeddings ce ON ce.vec_id = s.neighbor_id
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM rer
)
SELECT query_id, rank, neighbor_id, cos, dq_dot
FROM ranked WHERE rank <= {{_TOP_K}}
ORDER BY query_id, rank
""".format(
    _N_QUERIES=_N_QUERIES,
    RERANK_POOL=RERANK_POOL,
    _TOP_K=_TOP_K,
)


_N_ITERS = 2

#: The IVF configuration, shared by the queries and their oracles — one
#: source so a knob change cannot leave an oracle replaying a different
#: setup from the query it checks.
IVF_N_CENTROIDS = 8
IVF_NPROBE = 2
_KM_SCALE = 1_000_000


def kmeans_ctes(n_centroids: int, n_iters: int, dim: int) -> str:
    """DuckDB CTE chain replaying llm.similarity.lloyd_train's IVF coarse
    quantizer (kmeans_centroids) exactly:
    init = lowest-id vectors relabeled 0..n-1; per iteration, argmax-cosine
    assignment (cosine rounded to 9 decimals before the argmax so a
    last-ulp difference can't flip a winner; ties → lowest cid) then exact
    scaled-integer cluster means (sum of round(x·10^6) longs, one
    division) — the same order-stable arithmetic the Spark side uses, so
    centroids are bit-identical."""
    parts = [
        f"""cent0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           embedding::DOUBLE[] AS cv
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT {n_centroids})
)"""
    ]
    for it in range(n_iters):
        parts.append(
            f"""assign{it} AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                                e.embedding::DOUBLE[], c.cv), 9)
                            DESC, c.cid) AS rn
        FROM embeddings e, cent{it} c
    ) WHERE rn = 1
),
sums{it} AS (
    SELECT a.cid, j,
           sum(CAST(round((e.embedding::DOUBLE[])[CAST(j AS INT)]
                          * {_KM_SCALE}) AS BIGINT)) AS s,
           count(*) AS cnt
    FROM assign{it} a JOIN embeddings e USING (vec_id),
         (SELECT unnest(range(1, {dim + 1})) AS j)
    GROUP BY a.cid, j
),
mean{it} AS (
    SELECT cid, list(s / ({_KM_SCALE}.0 * cnt) ORDER BY j) AS cv
    FROM sums{it} GROUP BY cid
),
cent{it + 1} AS (
    SELECT c.cid, coalesce(m.cv, c.cv) AS cv
    FROM cent{it} c LEFT JOIN mean{it} m USING (cid)
)"""
        )
    return ",\n".join(parts)


def pq_ctes(m: int, k: int, n_iters: int, dim: int) -> str:
    """DuckDB CTE chain replaying llm.pq training (lloyd_train's PQ
    subspace quantizers) + encoding exactly:
    per-subspace init = the k lowest-id vectors' subvectors relabeled
    0..k-1; per iteration, argmin assignment on Euclidean distance rounded
    to 9 decimals (ties → lowest code) then exact scaled-integer means —
    kmeans_ctes' arithmetic, fanned across the ``m`` subspaces by grouping
    every CTE on (m, code). ``psub`` (the subvector view) and ``pq{n}``
    (the trained codebooks) are the terminal names the scorer builds on."""
    sub = dim // m
    parts = [
        f"""psub AS (
    SELECT vec_id, m,
           list_transform(range(1, {sub} + 1),
               j -> (embedding::DOUBLE[])[CAST(m * {sub} + j AS INT)]) AS sv
    FROM embeddings, (SELECT unnest(range({m})) AS m)
),
pq0 AS (
    SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS code,
           sv AS cv
    FROM psub
    WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
)"""
    ]
    for it in range(n_iters):
        parts.append(
            f"""passign{it} AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY round(list_distance(s.sv, c.cv), 9) ASC,
                            c.code) AS rn
        FROM psub s JOIN pq{it} c USING (m)
    ) WHERE rn = 1
),
psums{it} AS (
    SELECT a.m, a.code, j,
           sum(CAST(round(s.sv[CAST(j AS INT)] * {_KM_SCALE}) AS BIGINT))
               AS ssum,
           count(*) AS cnt
    FROM passign{it} a JOIN psub s ON a.vec_id = s.vec_id AND a.m = s.m,
         (SELECT unnest(range(1, {sub} + 1)) AS j)
    GROUP BY a.m, a.code, j
),
pmean{it} AS (
    SELECT m, code, list(ssum / ({_KM_SCALE}.0 * cnt) ORDER BY j) AS cv
    FROM psums{it} GROUP BY m, code
),
pq{it + 1} AS (
    SELECT c.m, c.code, coalesce(mn.cv, c.cv) AS cv
    FROM pq{it} c LEFT JOIN pmean{it} mn USING (m, code)
)"""
        )
    return ",\n".join(parts)


def _pq_scorer_sql(adc_cte: str) -> str:
    """The shared PQ scoring pipeline: encoded corpus (pcodes), per-query
    ADC lookup table (lut), then the caller-supplied ``adc_cte`` (which
    decides WHICH (query, neighbor) pairs are scored — the whole corpus
    for flat PQ, the probed inverted lists for IVF-PQ), pool cut, and
    full-precision rerank. Built on the pq_ctes terminal names."""
    from financial_data_engineering_spark.llm.pq import PQ_ITERS

    return f"""pcodes AS (
    SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY round(list_distance(s.sv, c.cv), 9) ASC,
                            c.code) AS rn
        FROM psub s JOIN pq{PQ_ITERS} c USING (m)
    ) WHERE rn = 1
),
lut AS (
    SELECT s.vec_id AS query_id, c.m, c.code,
           CAST(floor(round(list_dot_product(s.sv, c.cv), 9) * 1000000
                      + 0.5) AS BIGINT) AS contrib_e6
    FROM psub s JOIN pq{PQ_ITERS} c USING (m)
    WHERE s.vec_id < {_N_QUERIES}
),
{adc_cte},
pool AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_e6 DESC, neighbor_id) AS prank
    FROM adc
),
short AS (
    SELECT query_id, neighbor_id, adc_e6 FROM pool
    WHERE prank <= {RERANK_POOL}
),
rer AS (
    SELECT s.query_id, s.neighbor_id, s.adc_e6,
           round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                        ce.embedding::DOUBLE[]), 4) AS cos
    FROM short s
    JOIN embeddings qe ON qe.vec_id = s.query_id
    JOIN embeddings ce ON ce.vec_id = s.neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM rer
)
SELECT query_id, rank, neighbor_id, cos, adc_e6
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


def _pq_oracle() -> str:
    from financial_data_engineering_spark.llm.pq import PQ_ITERS, PQ_K, PQ_M

    adc = f"""adc AS (
    SELECT l.query_id, p.vec_id AS neighbor_id,
           CAST(sum(l.contrib_e6) AS BIGINT) AS adc_e6
    FROM pcodes p JOIN lut l ON p.m = l.m AND p.code = l.code
    WHERE p.vec_id != l.query_id
    GROUP BY l.query_id, p.vec_id
)"""
    return (
        f"\nWITH {pq_ctes(PQ_M, PQ_K, PQ_ITERS, EMB_DIM)},\n"
        + _pq_scorer_sql(adc)
    )


PQ_RERANK_ORACLE = _pq_oracle()


def _ivfpq_oracle() -> str:
    """IVF-PQ composition: the coarse k-means inverted lists (IVF_ORACLE's
    training + assignment CTEs, verbatim) restrict WHICH (query, neighbor)
    pairs the PQ ADC scorer evaluates — the architecture a 100 TB ANN
    corpus actually runs (probe a few lists, scan only their 8-byte
    codes). Every constituent is an already-pinned deterministic recipe;
    the composition adds only the candidate equi-join."""
    from financial_data_engineering_spark.llm.pq import PQ_ITERS, PQ_K, PQ_M

    adc = f"""cand AS (
    SELECT DISTINCT q.query_id, c.neighbor_id
    FROM query_probes q
    JOIN corpus_lists c ON q.cid = c.cid AND q.query_id != c.neighbor_id
),
adc AS (
    SELECT n.query_id, p.vec_id AS neighbor_id,
           CAST(sum(l.contrib_e6) AS BIGINT) AS adc_e6
    FROM cand n
    JOIN pcodes p ON p.vec_id = n.neighbor_id
    JOIN lut l ON l.query_id = n.query_id
              AND p.m = l.m AND p.code = l.code
    GROUP BY n.query_id, p.vec_id
)"""
    return f"""
WITH {kmeans_ctes(IVF_N_CENTROIDS, _N_ITERS, EMB_DIM)},
assign AS (
    SELECT vec_id, cid, rn FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                                e.embedding::DOUBLE[], c.cv), 9)
                            DESC, c.cid) AS rn
        FROM embeddings e, cent{_N_ITERS} c
    )
),
corpus_lists AS (SELECT vec_id AS neighbor_id, cid FROM assign WHERE rn = 1),
query_probes AS (
    SELECT vec_id AS query_id, cid FROM assign
    WHERE rn <= {IVF_NPROBE} AND vec_id < {_N_QUERIES}
),
{pq_ctes(PQ_M, PQ_K, PQ_ITERS, EMB_DIM)},
{_pq_scorer_sql(adc)}"""


IVF_ORACLE = f"""
WITH {kmeans_ctes(IVF_N_CENTROIDS, _N_ITERS, EMB_DIM)},
assign AS (
    SELECT vec_id, cid, rn FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY round(list_cosine_similarity(
                                e.embedding::DOUBLE[], c.cv), 9)
                            DESC, c.cid) AS rn
        FROM embeddings e, cent{_N_ITERS} c
    )
),
corpus_lists AS (SELECT vec_id AS neighbor_id, cid FROM assign WHERE rn = 1),
query_probes AS (
    SELECT vec_id AS query_id, cid FROM assign
    WHERE rn <= {IVF_NPROBE} AND vec_id < {_N_QUERIES}
),
scored AS (
    SELECT DISTINCT q.query_id, c.neighbor_id,
           round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                        ce.embedding::DOUBLE[]), 4) AS cos
    FROM query_probes q
    JOIN corpus_lists c ON q.cid = c.cid AND q.query_id != c.neighbor_id
    JOIN embeddings qe ON qe.vec_id = q.query_id
    JOIN embeddings ce ON ce.vec_id = c.neighbor_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, rank, neighbor_id, cos
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""



IVFPQ_RERANK_ORACLE = _ivfpq_oracle()
