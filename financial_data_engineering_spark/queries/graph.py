"""Graph-analytics queries: iterative algorithms whose trip count is a
query constant, so the DuckDB oracle can unroll the rounds into chained
CTEs and hash-pin every iteration (the bpe_learned_merges pattern).

Reference scope note: the reference engine (src/, 1,591 LoC) has no
graph module; this family extends the engine the way a training-data
curation pipeline uses link analysis — importance scores for sampling
weights — with the Spark-first shape (edge-proportional joins, |V|-row
state, materialized rounds) that survives a 100 TB edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_engineering_spark.operators.graph import (
    BF_COST_SCALE,
    BF_ROUNDS,
    KCORE_EXACT_UNROLL,
    KCORE_K,
    KCORE_ROUNDS,
    LPA_ROUNDS,
    PR_D_DEN,
    PR_D_NUM,
    PR_ROUNDS,
    PR_SCALE,
    cheapest_paths_bounded,
    copurchase_edges,
    kcore_bounded,
    kcore_exact,
    label_propagation,
    pagerank_integer,
    triangle_participation,
)
from financial_data_engineering_spark.partitioning import materialize
from financial_data_engineering_spark.queries.registry import register
from financial_data_engineering_spark.tables import load

#: Session-scoped shared co-purchase edge frames, keyed by
#: (applicationId, sf_dir). All five graph-family queries consume the
#: SAME (src, dst, w) frame; rebuilt per query it costs ~2 s at sf0.1
#: (basket self-join + aggregate) times five. Entries are
#: ``materialize()``d, NOT persist()ed — measured at sf0.1, label
#: propagation over a pre-checkpointed frame runs 3.7 s vs 8.5 s over
#: a persisted one (an InMemoryRelation scan re-enters the iterative
#: operators' own localCheckpoint much slower than a flat scan), and
#: the downstream operators' internal materialize-of-a-checkpoint is a
#: ~0.3 s block copy instead of a full recompute. bench.py calls
#: ``release_shared_edges()`` after every measured query so per-query
#: timings stay independent; library sessions running the family
#: back-to-back without releasing pay the build once (suite delta in
#: reports/bench/NOTES.md). Dropping the dict reference is the
#: release: the ContextCleaner reclaims the checkpoint blocks once the
#: JVM-side reference is garbage-collected, and entries are bounded at
#: one ~60 MB frame per (session, sf_dir).
_EDGE_CACHE: dict[tuple[str, str], DataFrame] = {}


def shared_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (src, dst, w) co-purchase edge frame for ``sf_dir``, shared
    across the graph family within one session. Testdata is immutable
    within a session, so (appId, sf_dir) fully determines the frame."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _EDGE_CACHE.get(key)
    if cached is not None:
        return cached
    li = load(spark, "lineitem", sf_dir)
    edges = materialize(copurchase_edges(li, "l_orderkey", "l_partkey"))
    _EDGE_CACHE[key] = edges
    return edges


def release_shared_edges() -> int:
    """Drop every shared edge frame; returns how many were dropped.
    bench.py calls this per measured query (timing independence); the
    checkpoint blocks free once the dropped references are GC'd."""
    n = len(_EDGE_CACHE)
    _EDGE_CACHE.clear()
    return n


def _pagerank_oracle(rounds: int = PR_ROUNDS) -> str:
    """Unroll the K PageRank rounds into chained CTEs, generated from
    the SAME constants the Spark operator uses (drift-proof). Every
    sum is cast back to BIGINT: DuckDB promotes integer sums to
    HUGEINT, which the driver's dtype-sensitive hash would flag."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item"
        " FROM lineitem)",
        "nodes AS MATERIALIZED (SELECT DISTINCT item AS node FROM li)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        """edges AS MATERIALIZED (
        SELECT a.item AS src, b.item AS dst, count(*) AS w
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    )""",
        "outw AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges"
        " GROUP BY 1)",
        "e AS MATERIALIZED (SELECT src, dst, w, ow FROM edges JOIN outw USING (src))",
        f"r0 AS (SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS r"
        " FROM nodes CROSS JOIN nn)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""r{k} AS MATERIALIZED (
        SELECT node,
               CAST((15 * {PR_SCALE}) // ({PR_D_DEN} * n)
                    + coalesce(c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT dst,
                   CAST(sum((r * {PR_D_NUM} * w) // ({PR_D_DEN} * ow))
                        AS BIGINT) AS c
            FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node
            GROUP BY dst
        ) c{k} ON node = dst
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node AS partkey, r AS pagerank_e12
    FROM r{rounds}
    ORDER BY partkey
    """


@register("part_copurchase_pagerank", oracle=_pagerank_oracle())
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph: parts are nodes, and an
    edge (a, b) weighted by the number of orders containing both links
    every pair that shares a basket — link-analysis importance for
    sampling/curation weighting.

    Six damped rounds in exact BIGINT fixed-point (operators/graph.py:
    pagerank_integer): per round one |E|-side join + groupBy(dst) sum +
    a left join back to the |V|-row rank table, each round materialized
    through ``materialize()`` so the logical plan stays flat (the
    connected-components lesson). The oracle unrolls the identical
    arithmetic into six chained CTEs generated from the same constants.
    Isolated parts (single-part orders only) hold the teleport base;
    floored remainders leak deterministically rather than being
    redistributed — the engine-exact variant a value-hash gate can pin.
    """
    li = load(spark, "lineitem", sf_dir)
    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = li.select(F.col("l_partkey").alias("node"))
    ranks = pagerank_integer(nodes, edges)
    return ranks.select(
        F.col("node").alias("partkey"), "pagerank_e12"
    ).orderBy("partkey")


def _cheapest_path_oracle(rounds: int = BF_ROUNDS) -> str:
    """Unroll the K min-plus relaxation rounds into chained CTEs from
    the SAME constants the Spark operator uses. min/+ over BIGINT is
    order-exact, so no rounding discipline is needed; sums never leave
    BIGINT (cost ≤ K·BF_COST_SCALE ≈ 4e6)."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item"
        " FROM lineitem)",
        f"""e AS MATERIALIZED (
        SELECT a.item AS src, b.item AS dst,
               CAST({BF_COST_SCALE} // count(*) AS BIGINT) AS c
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    )""",
        "d0 AS (SELECT min(src) AS node, CAST(0 AS BIGINT) AS cost FROM e)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""d{k} AS MATERIALIZED (
        SELECT node, CAST(min(cost) AS BIGINT) AS cost FROM (
            SELECT node, cost FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d{k - 1}.cost + e.c AS cost
            FROM e JOIN d{k - 1} ON e.src = d{k - 1}.node
        ) u GROUP BY node
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node AS partkey, cost AS path_cost
    FROM d{rounds}
    ORDER BY partkey
    """


@register("part_copurchase_cheapest_path", oracle=_cheapest_path_oracle())
def part_copurchase_cheapest_path(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-source cheapest path over the co-purchase graph, bounded
    at {BF_ROUNDS} edges: edge cost is inverse tie strength
    (BF_COST_SCALE // shared-basket count), the source is the smallest
    partkey in the edge set, and the emitted cost is the cheapest
    ≤K-edge path — the "affinity distance" a recommender or curation
    sampler uses to spread picks away from an anchor item.

    Min-plus Bellman-Ford rounds (operators/graph.py
    cheapest_paths_bounded): per round one frontier-against-edges join
    plus a groupBy-min, every value BIGINT so the relaxation is exact
    under any shuffle order; the oracle unrolls the identical rounds
    into chained CTEs generated from the same constants (drift-proof).
    """
    edges = shared_copurchase_edges(spark, sf_dir).select(
        "src",
        "dst",
        F.expr(f"CAST({BF_COST_SCALE} div w AS LONG)").alias("c"),
    )
    src = edges.agg(F.min("src").alias("node"))
    dist = cheapest_paths_bounded(src, edges, cost_alias="path_cost")
    return dist.select(
        F.col("node").alias("partkey"), "path_cost"
    ).orderBy("partkey")


@register(
    "part_copurchase_triangles",
    oracle="""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    e AS MATERIALIZED (
        SELECT a.item AS src, b.item AS dst
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
        SELECT src AS n, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1
    ),
    o AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM e
        JOIN deg ds ON ds.n = e.src
        JOIN deg dd ON dd.n = e.dst
        WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND e.src < e.dst)
    ),
    adj AS MATERIALIZED (
        SELECT src, list(dst ORDER BY dst) AS ns FROM o GROUP BY src
    ),
    per_edge AS MATERIALIZED (
        SELECT x, y, zs FROM (
            SELECT o.src AS x, o.dst AS y,
                   list_intersect(ax.ns, ay.ns) AS zs
            FROM o
            JOIN adj ax ON ax.src = o.src
            JOIN adj ay ON ay.src = o.dst
        ) t WHERE len(zs) > 0
    ),
    corners AS (
        SELECT unnest(zs) AS node, 1 AS c FROM per_edge
        UNION ALL SELECT x, len(zs) FROM per_edge
        UNION ALL SELECT y, len(zs) FROM per_edge
    )
    SELECT node AS partkey, CAST(sum(c) AS BIGINT) AS n_triangles
    FROM corners GROUP BY 1 ORDER BY 1
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph — the
    local community-density signal (a part in many triangles sits in a
    tightly cross-sold cluster, not just a popular pair).

    The Spark plan runs the degree-ordered orientation closed by
    per-edge adjacency-array intersection (operators/graph.py
    triangle_participation). The oracle replays the SAME strategy in
    DuckDB — (degree, node) rank orientation, sorted out-neighbor
    lists, list_intersect per oriented edge, the three corners
    credited from the per-edge intersection — because it is the ONLY
    formulation whose replay is memory-bounded at sf10 on one box:
    the naive a<b<c self-join needed >173 GB memory+spill (r11), and
    both round-12 relational rewrites (rank-ordered wedge join, with
    and without a materialized triangle list) still exhausted the
    76 GB spill disk at 85/95 GB caps — DuckDB builds the ~3.6B-row
    wedge intermediate as a hash-join build side and no pure-SQL
    shape reliably stops it. The intersection replay peaks under
    20 GB (measured at sf0.1: 56.6 s, scaling linearly over sf10's
    100 disjoint replicas). Formulation independence is kept LIVE by
    part_copurchase_triangles_xcheck — the same engine output gated
    against the naive node-ordered a<b<c oracle every round at
    sf0.01/sf0.1 (r14; previously verified historically: naive through
    r11, rank-ordered wedge in r12, all hash-identical) — and the two
    engines still differ in intersect implementation, join engine,
    and aggregation path."""
    edges = shared_copurchase_edges(spark, sf_dir).select(
        "src", "dst"
    )
    return (
        triangle_participation(edges)
        .select(F.col("node").alias("partkey"), "n_triangles")
        .orderBy("partkey")
    )


@register(
    "part_copurchase_triangles_xcheck",
    oracle="""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    e AS MATERIALIZED (
        SELECT DISTINCT a.item AS a, b.item AS b
        FROM li a JOIN li b ON a.basket = b.basket AND a.item < b.item
    ),
    tri AS MATERIALIZED (
        SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM e ab
        JOIN e bc ON ab.b = bc.a
        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ),
    corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node AS partkey, count(*) AS n_triangles
    FROM corners GROUP BY 1 ORDER BY 1
    """,
)
def part_copurchase_triangles_xcheck(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Formulation-independence cross-check for the triangle count: the
    SAME engine output as part_copurchase_triangles (degree-ordered
    orientation + adjacency intersection), verified against the NAIVE
    node-ordered a<b<c textbook self-join — a genuinely different
    formulation in a different engine, kept in the continuous gate
    because the main row's oracle replays the engine's own
    degree-ordered strategy (the only replay that is memory-bounded at
    sf10; see part_copurchase_triangles). Triangle counts are
    orientation-invariant, so the two rows must always hash-agree on
    partkey/n_triangles. Gate this at sf0.01/sf0.1 (the naive DuckDB
    replay needed >173 GB at sf10 in r11 — by design NOT an sf10 row;
    the main row carries sf10)."""
    edges = shared_copurchase_edges(spark, sf_dir).select("src", "dst")
    return (
        triangle_participation(edges)
        .select(F.col("node").alias("partkey"), "n_triangles")
        .orderBy("partkey")
    )


#: association-rule contract: directional rules a -> b over order
#: baskets, minimum co-support, top-k by integer-exact lift.
AR_MIN_SUPPORT = 3
AR_TOP_K = 25


@register(
    "part_association_rules",
    oracle=f"""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT basket) AS n FROM li),
    ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
    pair AS (
        SELECT a.item AS ante, b.item AS cons,
               CAST(count(*) AS BIGINT) AS c_ab
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
        HAVING count(*) >= {AR_MIN_SUPPORT}
    ),
    scored AS (
        SELECT ante, cons, c_ab,
               CAST((c_ab * 1000000) // ca.c AS BIGINT) AS conf_e6,
               CAST((c_ab * n * 1000000) // (ca.c * cb.c) AS BIGINT)
                   AS lift_e6
        FROM pair
        JOIN ic ca ON ca.item = ante
        JOIN ic cb ON cb.item = cons
        CROSS JOIN nb
    ),
    ranked AS (
        SELECT *, row_number()
               OVER (ORDER BY lift_e6 DESC, ante, cons) AS rank
        FROM scored
    )
    SELECT CAST(rank AS BIGINT) AS rank, ante, cons, c_ab AS support,
           conf_e6, lift_e6
    FROM ranked WHERE rank <= {AR_TOP_K}
    ORDER BY rank
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: directional
    rules ante → cons with co-support ≥ {AR_MIN_SUPPORT}, scored by
    integer-exact confidence (c_ab·10⁶ div c_a) and lift
    (c_ab·N·10⁶ div (c_a·c_b)) — the classic cross-sell/affinity
    analytics a recommender derives from the same co-purchase pairs the
    graph family consumes (copurchase_edges IS the rule-support table).

    All-integer scoring means no rounding discipline is needed anywhere;
    overflow headroom: c_ab·N·10⁶ stays under 2^63 for any basket count
    below ~10¹² per pair weight. The support floor prunes the pair table
    BEFORE the count joins (HAVING pushes into the aggregate), so the
    scored set is the frequent-pair table, not the full quadratic
    fan-out; the top-k is TakeOrderedAndProject plus a {AR_TOP_K}-row
    re-rank window."""
    li = load(spark, "lineitem", sf_dir)
    pairs = (
        shared_copurchase_edges(spark, sf_dir)
        .filter(F.col("w") >= AR_MIN_SUPPORT)
        .select(
            F.col("src").alias("ante"),
            F.col("dst").alias("cons"),
            F.col("w").alias("c_ab"),
        )
    )
    items = (
        li.select(
            F.col("l_orderkey").alias("basket"),
            F.col("l_partkey").alias("item"),
        )
        .distinct()
    )
    ic = items.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    nb = items.agg(
        F.countDistinct("basket").cast("bigint").alias("n")
    )
    scored = (
        pairs.join(
            ic.select(F.col("item").alias("ante"), F.col("c").alias("ca")),
            "ante",
        )
        .join(
            ic.select(F.col("item").alias("cons"), F.col("c").alias("cb")),
            "cons",
        )
        .join(F.broadcast(nb))
        .select(
            "ante",
            "cons",
            F.col("c_ab").cast("bigint").alias("support"),
            F.expr("CAST((c_ab * 1000000) div ca AS BIGINT)").alias(
                "conf_e6"
            ),
            F.expr(
                "CAST((c_ab * n * 1000000) div (ca * cb) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )
    top = scored.orderBy(
        F.desc("lift_e6"), F.asc("ante"), F.asc("cons")
    ).limit(AR_TOP_K)
    # Unpartitioned on purpose: it ranks the AR_TOP_K rows the limit kept.
    w = Window.orderBy(F.desc("lift_e6"), F.asc("ante"), F.asc("cons"))
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "ante",
        "cons",
        "support",
        "conf_e6",
        "lift_e6",
    ).orderBy("rank")


def _kcore_oracle(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """Unroll the K peeling rounds into chained MATERIALIZED CTEs from
    the SAME constants the Spark operator uses. Each round is a pure
    degree-threshold set intersection — no floats, no tiebreaks — so
    the K-round survivor set is engine-exact by construction."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,"
        " l_partkey AS item FROM lineitem)",
        """e0 AS MATERIALIZED (
        SELECT a.item AS src, b.item AS dst
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""k{r} AS MATERIALIZED (
        SELECT src FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
    )"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
        SELECT e.src, e.dst
        FROM e{r - 1} e
        WHERE e.src IN (SELECT src FROM k{r})
          AND e.dst IN (SELECT src FROM k{r})
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT src AS partkey, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{rounds}
    GROUP BY src
    ORDER BY partkey
    """


@register("part_copurchase_kcore", oracle=_kcore_oracle())
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling over the co-purchase graph: KCORE_ROUNDS
    (= 4) rounds of dropping every part with fewer than KCORE_K (= 70)
    surviving co-purchase partners, reporting the survivors with their
    in-core degree — the density tier a curation/recommendation
    pipeline keeps when it sheds the long-tail periphery, and the fifth
    lens of the graph family (importance, density, distance, community,
    CORE).

    Each round is a monotone set intersection over shrinking edges
    (operators/graph.py kcore_bounded): one degree aggregate + two
    LEFT SEMI joins, no |V|-row state, rounds materialized. The oracle
    unrolls the identical rounds from the same constants; survivor
    sets are engine-exact because nothing is ordered, floated, or
    tie-broken."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return (
        kcore_bounded(edges.select("src", "dst"))
        .select(F.col("node").alias("partkey"), "core_degree")
        .orderBy("partkey")
    )


@register(
    "part_copurchase_kcore_exact",
    oracle=_kcore_oracle(rounds=KCORE_EXACT_UNROLL),
)
def part_copurchase_kcore_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT k-core of the co-purchase graph (k = KCORE_K): peeling run
    to the FIXPOINT, so every reported part has ≥ k surviving
    co-purchase partners inside the reported core itself — the
    graph-theoretic core, where the bounded variant reports the
    KCORE_ROUNDS-deep density tier.

    The oracle is the SAME unrolled-CTE generator as the bounded query,
    at depth KCORE_EXACT_UNROLL (= 8): peeling is monotone and
    idempotent once converged, so any unroll ≥ (fixpoint peels + 1
    witness round) replays the exact core — the measured fixpoint
    ``_last_rounds`` across the SF ladder is ≤ 8 (operators/graph.py
    constant docstring has the per-SF numbers), and the registry test
    pins convergence within that depth at the oracle SFs so data drift
    that outgrows the unroll fails loudly instead of hash-mismatching
    mysteriously. This gives the fixpoint operator hash-level
    verification (r11 verdict item 6), not just property tests."""
    edges = shared_copurchase_edges(spark, sf_dir)
    return (
        kcore_exact(
            edges.select("src", "dst"), max_iters=KCORE_EXACT_UNROLL
        )
        .select(F.col("node").alias("partkey"), "core_degree")
        .orderBy("partkey")
    )


def _labelprop_oracle(rounds: int = LPA_ROUNDS) -> str:
    """Unroll the K synchronous label-propagation rounds into chained
    MATERIALIZED CTEs from the SAME constants the Spark operator uses
    (each level referenced once per round — without MATERIALIZED,
    DuckDB's inlining re-evaluates the whole chain; the cheapest-path
    lesson). Weight sums are integer, the argmax a total order."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS basket,"
        " l_partkey AS item FROM lineitem)",
        """e AS MATERIALIZED (
        SELECT a.item AS src, b.item AS dst,
               CAST(count(*) AS BIGINT) AS w
        FROM li a JOIN li b ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
    )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT item AS node, item AS lbl"
        " FROM li)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
        SELECT l{k - 1}.node,
               CAST(coalesce(v.new_lbl, l{k - 1}.lbl) AS BIGINT) AS lbl
        FROM l{k - 1} LEFT JOIN (
            SELECT dst, lbl AS new_lbl FROM (
                SELECT e.dst, l.lbl,
                       row_number() OVER (
                           PARTITION BY e.dst
                           ORDER BY CAST(sum(e.w) AS BIGINT) DESC, l.lbl
                       ) AS rn
                FROM e JOIN l{k - 1} l ON e.src = l.node
                GROUP BY e.dst, l.lbl
            ) r WHERE rn = 1
        ) v ON l{k - 1}.node = v.dst
    )""")
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT node AS partkey, lbl AS community
    FROM l{rounds}
    ORDER BY partkey
    """


@register("part_copurchase_communities", oracle=_labelprop_oracle())
def part_copurchase_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection over the co-purchase graph by K rounds of
    SYNCHRONOUS weighted label propagation: each round every part adopts
    the label with the largest total co-purchase weight among its
    neighbors, ties to the smallest label — cross-sell clusters for
    assortment/curation grouping, completing the graph family's four
    lenses (importance, density, distance, community).

    Synchronous rounds + integer weight sums + the min-label tiebreak
    make LPA hash-pinnable (asynchronous LPA is update-order-dependent
    and never would be); the oracle unrolls the identical rounds from
    the same constants. Per round: one |E| join, one integer groupBy,
    one argmax window partitioned by the high-cardinality node key
    (operators/graph.py label_propagation)."""
    li = load(spark, "lineitem", sf_dir)
    edges = shared_copurchase_edges(spark, sf_dir)
    nodes = li.select(F.col("l_partkey").alias("node"))
    return (
        label_propagation(nodes, edges)
        .select(F.col("node").alias("partkey"), "community")
        .orderBy("partkey")
    )
