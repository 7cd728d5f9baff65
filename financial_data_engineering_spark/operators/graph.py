"""Distributed graph analytics over edge DataFrames.

``pagerank_integer`` is the canonical distributed iterative algorithm —
per round, one edge-side join + one groupBy-sum over the EDGE set and a
left join back to the |V|-row rank table — expressed in fixed-point
integer arithmetic so every round is bit-deterministic and the whole
K-round computation can be replayed exactly by a SQL oracle (the same
unrolled-CTE move the BPE trainer uses, queries/text.py).

Why integer fixed-point: float PageRank accumulates in whatever order
the shuffle delivers partial sums, so two runs (or two engines) legally
differ in the last bits and a value-hash gate cannot pin them. With
BIGINT ranks scaled to 1e12 and per-edge floor division, addition is
associative-commutative exactly, so the result is engine-independent.
The floored remainders (and the rank mass of nodes with no out-edges)
leak from the system rather than being redistributed — a documented,
deterministic variant; ranks ORDER correctly, which is what a
curation/importance pipeline consumes.

Scale shape (the part that must survive 100 TB): the per-round cost is
proportional to |E| (join + aggregate on dst), never |V|^2; the rank
table is |V| rows; rounds are a constant K. Each round's frame is cut
from its lineage through ``materialize()`` — without it the logical
plan nests every prior round and analyzer time grows superlinearly
(the connected-components lesson, llm/dedup.py). Loop parallelism is
sized from the materialized edge count, not session defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_engineering_spark.partitioning import (
    broadcast_if_small,
    materialize,
    materialize_counted,
    spread_by,
)

#: Total rank mass, damping numerator/denominator — shared with the
#: oracle generator (queries/graph.py) so query and oracle cannot drift.
PR_SCALE = 1_000_000_000_000
PR_D_NUM = 85
PR_D_DEN = 100
PR_ROUNDS = 6

#: Bounded cheapest-path (min-plus Bellman-Ford) contract constants,
#: shared with the oracle generator (queries/graph.py).
BF_ROUNDS = 4
BF_COST_SCALE = 1_000_000

#: Label-propagation contract: K synchronous rounds, ties by min label.
LPA_ROUNDS = 4

#: Bounded k-core peeling contract: degree threshold and round count,
#: shared with the oracle generator (queries/graph.py).
KCORE_K = 70
KCORE_ROUNDS = 4

#: Oracle unroll depth for the EXACT k-core query: peeling is monotone
#: and idempotent at the fixpoint, so an unrolled oracle with AT LEAST
#: (fixpoint peel rounds + 1 no-change witness round) replays the exact
#: core — extra rounds are no-ops. Measured fixpoint ``_last_rounds``
#: at k=KCORE_K over the co-purchase graph (round 12): sf0.001 -> 8,
#: sf0.01 -> 3, sf0.1 -> 4; sf1/sf10 are key-offset replicas of sf0.1
#: (disjoint copies of its graph), so their round count equals sf0.1's.
#: 8 covers the whole SF ladder; the registry test pins convergence
#: within this depth so a data change that outgrows it fails loudly.
KCORE_EXACT_UNROLL = 8


def copurchase_edges(li: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Weighted co-occurrence edges: (src, dst, w) where ``w`` counts the
    baskets in which both items appear. Symmetric by construction (both
    directions emitted). The self-join runs on the basket key — shuffle
    cost |rows|, pair fan-out bounded by per-basket item counts (TPC-H
    orders hold ≤7 lineitems, so the quadratic term is a small constant).

    Skew hazard at open-world scale: one pathological basket with 10^5
    items is 10^10 pairs. The cap belongs at INGESTION (filter baskets
    above a domain bound before edge building), not here — a runtime
    guard would cost an extra full aggregate pass per call, the exact
    probe-scan anti-pattern the round-8 review retired from the EWMA
    path."""
    # One shuffle by basket (collect_set dedups in-aggregate — the
    # separate distinct pass the old shape paid is folded in), then the
    # per-basket pair fan-out runs as two chained generates inside the
    # same stage, feeding the pair count's map-side partials. The
    # previous distinct + self-join shape shuffled the item set twice
    # (distinct exchange + join exchange) and paid two sort-merge sorts;
    # pair multiset and weights are identical by construction. The
    # per-basket set is bounded by basket size (see skew note below), so
    # the collect_set buffer is as bounded as the join fan-out was.
    # spread_by pins the basket exchange at the session's full shuffle
    # width: the per-basket pair fan-out and the pair count's map-side
    # partials are CPU-heavy at a few shuffle BYTES per row, so AQE's
    # byte-sized coalescing otherwise merges the stage down to a handful
    # of tasks (measured at sf0.1: 4 tasks on 32 cores, ~2.8 exec-s
    # serialized into ~0.9 s of wall). groupBy(basket) reuses the
    # explicit hash partitioning, so no exchange is added.
    items = spread_by(
        li.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        ),
        "basket",
    )
    sets = items.groupBy("basket").agg(F.collect_set("item").alias("its"))
    # Count each UNDIRECTED pair once (src < dst) and mirror AFTER the
    # aggregate: w(a,b) = w(b,a) = shared-basket count by symmetry, so
    # emitting only the canonical orientation halves the rows the pair
    # count aggregates and halves its shuffle bytes (guide §2.3 —
    # measured at sf0.1: pair-agg map stage 25 MB -> 12 MB shuffle
    # write). The mirror is a single explode over the |E|/2-row
    # AGGREGATED frame — one Generate in the same stage as the final
    # aggregate, NOT a self-union (a union re-reads the aggregate's
    # exchange in a second branch: measured +4 exec-s in the
    # materialize stage and a doubled post-AQE partition count that
    # taxed every downstream per-round scan). The returned multiset is
    # identical to counting both orientations directly.
    canon = (
        sets.select(F.explode("its").alias("src"), "its")
        .select("src", F.explode("its").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return canon.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("p"),
        "w",
    ).select(
        F.col("p.s").alias("src"), F.col("p.d").alias("dst"), "w"
    )


def pagerank_integer(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = PR_ROUNDS,
    rank_alias: str = "pagerank_e12",
) -> DataFrame:
    """K rounds of damped PageRank in exact BIGINT fixed-point.

    ``nodes``: one column ``node`` (includes isolated nodes — they hold
    the teleport base). ``edges``: columns ``src, dst, w`` (positive
    weights). Update rule, all integer::

        r_0(v)     = PR_SCALE // N
        r_{k+1}(v) = (15 * PR_SCALE) // (100 * N)
                     + sum over in-edges (u,v):
                         (r_k(u) * 85 * w_uv) // (100 * out_w(u))

    Per-edge floor division makes every term engine-exact; overflow
    headroom: r <= 1e12, so r*85*w stays under int64 for any w < 1e5
    (co-purchase weights are basket counts, far below).
    """
    # materialize_counted: the lineage cut and the row count each
    # operator needs come from ONE job (the count is observed on the
    # materializing job) — the r14 driver's scaling block showed this
    # family is per-round-job-overhead-bound at bench scale, so every
    # fused count is a scheduler round-trip saved.
    edges_ck, e_count = materialize_counted(edges.select("src", "dst", "w"))
    # partition sizing for the |V|-row state table (nodes_ck below):
    # floor at the session's configured shuffle parallelism, scale up
    # only past ~1M edge triples per partition (the old 50k-row target
    # made 480 partitions of ~1 MB at sf1 — 6 rounds of sub-second
    # tasks were pure scheduler overhead; measured 44.5 -> ~33 s at
    # sf1). The cap scales with the session's parallelism (128x
    # shuffle.partitions, never below 4096) so a cluster sized for a
    # 10^12-edge graph lifts it proportionally; AQE's runtime
    # coalescing/splitting remains the backstop.
    base_parts = int(
        edges_ck.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    cap = max(4096, 128 * base_parts)
    n_parts = max(base_parts, min(cap, e_count // 1_000_000 + 1))
    # out-weight attach: outw is one row per SOURCE node (|V|-bounded).
    # Materialize it (tiny blocks) with its count measured in the same
    # job, then hint the join broadcast when it fits — a checkpointed
    # edge frame scans as ExistingRDD with unknown stats, so without
    # the hint the planner shuffles the full |E| frame by src for a
    # sort-merge join whose other side is a few hundred KB (profiled at
    # sf0.1: one 23 MB + one 32 MB |E| exchange, both gone with the
    # hint). When |V| is too big to broadcast — the open-world case —
    # the hint self-disables and the sort-merge shape is unchanged.
    outw, outw_count = materialize_counted(
        edges_ck.groupBy("src").agg(F.sum("w").alias("ow"))
    )
    outw_b = broadcast_if_small(outw, outw_count, row_bytes=16)
    if outw_b is outw:
        # no broadcast (|V| too big): pre-join once through a sort-merge
        # and materialize, so the rounds scan the joined blocks — the
        # at-scale shape.
        e = materialize(edges_ck.join(outw, "src"))
    else:
        # broadcast attach is map-side: leave it LAZY so each round fuses
        # the ow lookup into its own scan of the edge blocks instead of
        # paying a full |E| block copy up front (profiled at sf0.1: the
        # materialized join was a ~210 MB localCheckpoint copy plus 9%
        # larger per-round scans).
        e = edges_ck.join(outw_b, "src")
    nodes_ck, n = materialize_counted(
        nodes.select("node").distinct().repartition(n_parts, "node")
    )
    # Seeds must be LongType literals: an int32 seed overflows in ANSI
    # constant folding the moment it meets `* 85 * w`.
    ranks = nodes_ck.withColumn("r", F.lit(PR_SCALE // n).cast("long"))
    base = (15 * PR_SCALE) // (100 * n)
    for _ in range(rounds):
        # rank table is exactly n rows of (node, r) — broadcast when it
        # fits (killing the per-round |E| shuffle), shuffle join when it
        # doesn't. Contributions partial-aggregate map-side either way.
        r_b = broadcast_if_small(ranks, n, row_bytes=16)
        contrib = (
            e.join(r_b, e["src"] == r_b["node"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(f"(r * {PR_D_NUM} * w) div ({PR_D_DEN} * ow)")
                ).alias("c")
            )
        )
        ranks = materialize(
            nodes_ck.join(contrib, nodes_ck["node"] == contrib["dst"], "left")
            .select(
                nodes_ck["node"],
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("c"), F.lit(0).cast("long"))
                ).alias("r"),
            )
        )
    return ranks.select(F.col("node"), F.col("r").alias(rank_alias))


def cheapest_paths_bounded(
    sources: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = BF_ROUNDS,
    cost_alias: str = "cost",
) -> DataFrame:
    """K rounds of min-plus relaxation (bounded Bellman-Ford) from a
    source set: the cheapest cost reachable over paths of at most K
    edges. ``sources``: one column ``node``; ``edges``: ``src, dst, c``
    with non-negative BIGINT costs.

    The min-plus semiring is the reason this gates exactly: ``min`` and
    ``+`` over BIGINT are associative/commutative whatever order the
    shuffle delivers rows, so the K-round result is engine-independent
    and a SQL oracle replays it by unrolling K ``UNION ALL`` + ``min``
    CTEs — no float accumulation anywhere (contrast float Dijkstra,
    which a value-hash gate could not pin).

    Scale shape: per round, one join of the |V_reached|-row frontier
    against the edge set (shuffle on ``src``) and one groupBy-min over
    (node) — cost proportional to the edges incident to reached nodes,
    never |V|². Rounds are a constant K; each round's state is cut from
    its lineage with ``materialize()`` (the pagerank/components lesson).
    Unreached nodes are simply absent — no infinity sentinel to encode.
    On a cluster the edge frame would be bucketed by ``src`` so every
    relaxation reuses one partitioning; AQE handles frontier skew."""
    e = materialize(edges.select("src", "dst", "c"))
    dist, f_count = materialize_counted(
        sources.select("node").distinct().withColumn(
            "cost", F.lit(0).cast("long")
        )
    )
    # frontier relaxation (not Jacobi): only nodes IMPROVED in the
    # previous round re-expand. A node whose cost did not change was
    # already expanded at that cost, so its contributions are in `dist`
    # — the K-round result is identical to relaxing the whole reached
    # set every round (pinned by the Jacobi pure-Python reference in
    # tests), but late rounds on a low-diameter graph shuffle only the
    # few still-improving rows instead of the entire reached set. At
    # 100 TB this is the difference between K edge-scans proportional
    # to the frontier's incident edges and K full |V_reached|⋈|E|
    # relaxations on an already-converged graph.
    frontier = dist
    for _ in range(rounds):
        # the frontier count rides the job that materialized it
        # (materialize_counted — one job, not checkpoint + count): an
        # EMPTY frontier means every later round is a no-op (relaxation
        # of nothing) — skip them, the K-round result is identical by
        # monotonicity. A small frontier broadcast-joins against the
        # edge set (no |E| shuffle; the checkpointed edge frame has no
        # stats, so without the hint the planner sort-merges and
        # shuffles all of e by src every round); a large one falls back
        # to the shuffle join unchanged.
        if f_count == 0:
            break
        f_b = broadcast_if_small(frontier, f_count, row_bytes=16)
        relaxed = (
            e.join(f_b, e["src"] == f_b["node"])
            .select(
                F.col("dst").alias("node"),
                (F.col("cost") + F.col("c")).alias("cost"),
            )
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        old = dist.select(
            F.col("node"), F.col("cost").alias("old_cost")
        )
        frontier, f_count = materialize_counted(
            relaxed.join(old, "node", "left")
            .filter(
                F.col("old_cost").isNull()
                | (F.col("cost") < F.col("old_cost"))
            )
            .select("node", "cost")
        )
        dist = materialize(
            dist.select("node", "cost")
            .unionByName(frontier)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
    return dist.select("node", F.col("cost").alias(cost_alias))


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    rounds: int = LPA_ROUNDS,
    label_alias: str = "community",
) -> DataFrame:
    """K synchronous rounds of weighted label propagation — community
    detection by majority vote: each round, every node adopts the label
    carrying the largest total edge weight among its neighbors, ties
    broken by the SMALLEST label. Seeds are the node ids themselves;
    isolated nodes keep their seed.

    Synchronous rounds + the min-label tiebreak are what make this
    gate-exact: the per-(node, label) weight sums are integer (exact
    under any shuffle order) and the argmax is a total order, so a SQL
    oracle replays each round verbatim (asynchronous LPA — the common
    single-machine formulation — is update-order-dependent and could
    never be hash-pinned).

    Scale shape: per round one |E|-row join against the |V|-row label
    table, one integer groupBy over (dst, label), and one argmax window
    partitioned by dst (|V| distinct keys — high-cardinality, never a
    global sort). Rounds materialize through ``materialize()``; edge
    partitioning follows the caller's frame."""
    e = materialize(edges.select("src", "dst", "w"))
    labels, n = materialize_counted(
        nodes.select("node").distinct().withColumn("lbl", F.col("node"))
    )
    # argmax via a plain max over (wsum, -lbl, lbl) structs: the pair
    # (wsum, -lbl) is unique per (dst, lbl) group, so the struct max IS
    # the row_number()-over-(desc wsum, asc lbl)==1 row — same total
    # order, but a hash aggregate with map-side partials instead of a
    # second full exchange + sort for the window (profiled at sf0.1:
    # the window pass re-shuffled and sorted the whole 22 MB vote table
    # every round). The (-lbl) tiebreak REQUIRES NUMERIC node ids: a
    # string label under unary minus is null (or an ANSI error), which
    # would silently invert the documented smallest-label tiebreak —
    # callers with non-numeric ids must map them to longs first (every
    # in-repo caller passes integer part keys).
    _vote_max = F.max(
        F.struct(
            F.col("wsum").alias("w"),
            (-F.col("lbl")).alias("nl"),
            F.col("lbl").alias("l"),
        )
    )
    for _ in range(rounds):
        # the |V|-row label table broadcast-joins against the edge set
        # when it fits (no per-round |E| shuffle); falls back to the
        # sort-merge shape unchanged when it doesn't.
        l_b = broadcast_if_small(labels, n, row_bytes=16)
        votes = (
            e.join(l_b, e["src"] == l_b["node"])
            .groupBy("dst", "lbl")
            .agg(F.sum("w").alias("wsum"))
            .groupBy("dst")
            .agg(_vote_max.alias("m"))
            .select(
                F.col("dst").alias("node"), F.col("m.l").alias("new_lbl")
            )
        )
        labels = materialize(
            labels.join(votes, "node", "left").select(
                "node",
                F.coalesce(F.col("new_lbl"), F.col("lbl")).alias("lbl"),
            )
        )
    return labels.select("node", F.col("lbl").alias(label_alias))


def _semi_both_ends(e: DataFrame, keep: DataFrame) -> DataFrame:
    """Edges of ``e`` whose src AND dst are both in ``keep`` (one ``src``
    column): two LEFT SEMI joins against aliases of the SAME ``keep``
    frame. Both build sides then share one canonical plan, so a
    broadcast survivor list ships once per round and the second semi
    reuses that exchange. A renamed copy (``withColumnRenamed("src",
    "dst")``) would be a different plan, broadcast a second time."""
    return (
        e.alias("e")
        .join(keep.alias("ka"), F.col("e.src") == F.col("ka.src"), "left_semi")
        .join(keep.alias("kb"), F.col("e.dst") == F.col("kb.src"), "left_semi")
    )


def _peel(
    e: DataFrame, k: int, bound: int | None
) -> tuple[DataFrame, int]:
    """One peeling round over the materialized edge set ``e``: its edges
    whose both ends have degree ≥ ``k`` in ``e``, left lazy, and the
    survivor bound for the rounds after it.

    Survivors only shrink: a round's survivors are ``src`` nodes of the
    previous round's edges, which are all previous survivors. The first
    round (``bound`` None) therefore materializes its survivor list and
    observes the count on that job (``materialize_counted``); a later
    round whose bound already fits the broadcast threshold leaves its
    list lazy, and the broadcast job runs the degree aggregate's final
    stage itself, with no materialize job in front of it. A bound too
    big to broadcast is measured again, as in the first round, so a
    list that has shrunk under the threshold is still broadcast.

    The broadcast survivor list makes both semi joins map-side over the
    edge blocks, one broadcast shared through ``_semi_both_ends``
    (checkpointed edges scan without stats, so the unhinted plan
    sort-merges both semis, shuffling ``e`` by src AND by dst). A list
    too big to broadcast falls back to exactly that sort-merge shape."""
    keep = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= k)
        .select("src")
    )
    keep_b = None
    if bound is not None:
        keep_b = broadcast_if_small(keep, bound, row_bytes=8)
    if keep_b is None or keep_b is keep:
        keep, bound = materialize_counted(keep)
        keep_b = broadcast_if_small(keep, bound, row_bytes=8)
    return _semi_both_ends(e, keep_b), bound


def kcore_bounded(
    edges: DataFrame,
    *,
    k: int = KCORE_K,
    rounds: int = KCORE_ROUNDS,
    degree_alias: str = "core_degree",
) -> DataFrame:
    """K rounds of k-core peeling over a SYMMETRIC directed edge list
    (both directions present, no self-loops): each round drops every
    node whose degree in the CURRENT surviving subgraph is below ``k``,
    then restricts the edge set to survivors. After ``rounds`` rounds,
    returns the surviving nodes with their degree inside the surviving
    subgraph — the density-tier signal a curation pipeline uses to keep
    the well-connected cluster and shed the periphery (the exact k-core
    is this peeling run to fixpoint).

    Why bounded rounds: exact k-core converges in a data-dependent
    number of rounds (a peeling chain can be O(|V|) long — the same
    hazard that moved connected components to large-star/small-star).
    A constant K keeps the round count — and therefore the unrolled SQL
    oracle — fixed, and each round is a monotone set intersection, so
    the K-round result is engine-exact with no tiebreaks or floats
    anywhere: survivors are a pure degree-threshold set.

    Scale shape: per round one groupBy(src) count over the current edge
    set plus two LEFT SEMI joins (src side, dst side) against the
    survivor list (``_peel``) — cost proportional to the shrinking
    |E_r|, state is only the edge set itself (no |V|-row table to
    carry). Rounds materialize through ``materialize()`` so the plan
    stays flat; the symmetric edge list means out-degree IS undirected
    degree, so no union-of-directions pass is needed."""
    e = materialize(edges.select("src", "dst"))
    bound = None
    for _ in range(rounds):
        # Jobs per round: the first pays 4 (degree aggregate's shuffle
        # map, survivor materialize, broadcast, edge materialize), later
        # ones 3 while the survivor bound fits the broadcast threshold
        # (no survivor materialize, see _peel). The last round's
        # edges are materialized too: left lazy, they would save a job
        # but put that round's aggregate and broadcast into the
        # returned plan, which then holds more than the final degree
        # aggregate.
        e, bound = _peel(e, k, bound)
        e = materialize(e)
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias(degree_alias)
    )


def kcore_exact(
    edges: DataFrame,
    *,
    k: int = KCORE_K,
    max_iters: int = 100,
    degree_alias: str = "core_degree",
) -> DataFrame:
    """EXACT k-core: the peeling of ``kcore_bounded`` run to fixpoint —
    drop sub-``k``-degree nodes and restrict the edge set until a round
    removes nothing. Input contract matches ``kcore_bounded``: a
    SYMMETRIC directed edge list (both directions present, no
    self-loops). The result is the graph-theoretic k-core: every
    surviving node has degree ≥ k INSIDE the surviving subgraph.

    Relationship to the bounded variant: peeling is monotone (each
    round's edge set is a subset of the previous), so whenever K rounds
    of ``kcore_bounded`` happen to reach the fixpoint the two agree
    exactly — pinned by test. The bounded variant stays the
    oracle-gated one (a SQL oracle needs a fixed unroll depth); this
    one serves callers who need the true core, with the data-shaped
    round count guarded the way connected components guards its loop:
    a peeling CHAIN can be O(|V|) rounds long, so a non-converged exit
    RAISES rather than returning a partial (too-large) core.

    Convergence test is free: the edge set only ever shrinks, so
    ``new_count == e_count`` alone proves the fixpoint — no exceptAll
    witness scan needed (unlike components, whose rewrite can move
    edges). Per-round cost and state are the bounded variant's (the
    same ``_peel``): one count aggregate + two LEFT SEMI joins over the
    shrinking edge set, no |V|-row carry."""
    e, e_count = materialize_counted(edges.select("src", "dst"))
    converged = e_count == 0
    rounds = 0
    bound = None
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # The same round as kcore_bounded's; the convergence count is
        # observed on the edge materialize, so a round costs 4 jobs the
        # first time and 3 after while the bound fits the broadcast
        # threshold.
        new_e, bound = _peel(e, k, bound)
        new_e, new_count = materialize_counted(new_e)
        # Monotone shrink: the new set is a filter of the old, so an
        # unchanged count IS the fixpoint (every node already ≥ k).
        converged = new_count == e_count
        e, e_count = new_e, new_count
    if not converged:
        raise RuntimeError(
            f"kcore_exact did not converge in {max_iters} peeling "
            "rounds — a long peeling chain (rounds can be O(|V|)); "
            "raise max_iters or use kcore_bounded for a fixed-depth "
            "density tier"
        )
    # Private test instrumentation: rounds taken by the last invocation
    # (includes the final nothing-peeled confirming round). NOT part of
    # the library surface; module-global last-writer-wins, so it is only
    # meaningful single-threaded (tests) — concurrent sessions sharing
    # this module must not read it.
    kcore_exact._last_rounds = rounds
    return e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias(degree_alias)
    )


def triangle_participation(edges: DataFrame) -> DataFrame:
    """Exact per-node triangle counts over an undirected graph given as
    a SYMMETRIC directed edge list (both (a,b) and (b,a) present, no
    self-loops) — the local clustering signal of community structure.

    Strategy is the degree-ordered orientation (MapReduce triangle
    counting à la Suri & Vassilvitskii): orient every undirected edge
    from the endpoint with smaller (degree, node) rank to the larger,
    so each node's OUT-degree is bounded by ~sqrt(|E|) on any graph —
    the quadratic step then never explodes on a hub node, which is
    what kills the naive a<b orientation on power-law graphs at
    100 TB. The closure runs as adjacency-array intersection per
    oriented edge (see in-line note) rather than a materialized wedge
    join; each triangle is found exactly once (at its rank-minimal
    corner), then credited to all three corners.

    The count is orientation-invariant, and was historically
    cross-checked against the naive node-ordered oracle (r11) and the
    materialized wedge-join oracle (r12) — both hash-identical. The
    LIVE sf-ladder oracle (queries/graph.py) now replays this same
    degree-ordered intersection formulation in a different engine:
    independence there is engine-level plus the committed history, not
    formulation-level (the naive and wedge shapes exceed the oracle
    box's disk at sf10). Joins shuffle on edge endpoints only; no
    collect.
    """
    from financial_data_engineering_spark.partitioning import (
        shuffle_partitions,
    )

    # the edge frame feeds FIVE plan branches (two degree joins, both
    # wedge sides, the closure probe): materialize it once or the
    # caller's pair-generation lineage re-executes per branch
    edges_ck = materialize(edges.select("src", "dst"))
    # degree table: one row per node — materialized (tiny) so its count
    # is measured, broadcast into BOTH orientation joins when it fits
    # (the checkpointed edge frame has no stats, so the unhinted plan
    # sort-merge-joined and shuffled the full |E| frame for each degree
    # attach). Falls back to the sort-merge shape when |V| is too big.
    deg, deg_count = materialize_counted(
        edges_ck.groupBy(F.col("src").alias("n")).agg(
            F.count(F.lit(1)).alias("deg")
        )
    )
    deg_b = broadcast_if_small(deg, deg_count, row_bytes=16)
    ranked = (
        edges_ck.join(deg_b.withColumnRenamed("n", "src"), "src")
        .withColumnRenamed("deg", "sdeg")
        .join(
            deg_b.select(
                F.col("n").alias("dst"), F.col("deg").alias("ddeg")
            ),
            "dst",
        )
    )
    # keep each undirected edge once, oriented by (deg, node) rank;
    # materialized: it feeds the edge stream and both adjacency joins.
    # The explicit-width repartition pins the closure's parallelism: the
    # intersection pass is CPU-bound at a few bytes per row, and AQE
    # sizes partition coalescing from shuffle BYTES — measured at
    # sf0.1 it merged the closure stage down to 8 tasks on 32 cores
    # (guide §2.5: post-shuffle work the byte count cannot see). A
    # user-specified count is exempt from coalescing.
    n_parts = shuffle_partitions(edges_ck.sparkSession)
    oriented, oriented_count = materialize_counted(
        ranked.filter(
            (F.col("sdeg") < F.col("ddeg"))
            | (
                (F.col("sdeg") == F.col("ddeg"))
                & (F.col("src") < F.col("dst"))
            )
        )
        .select("src", "dst")
        .repartition(n_parts, "src")
    )
    # adjacency-intersection closure (NOT a wedge join): a triangle
    # through oriented edge (u, v) is exactly a node in
    # adj(u) ∩ adj(v), so joining each edge to the two out-neighbor
    # arrays and intersecting JVM-side finds every triangle once — at
    # its rank-minimal corner — WITHOUT materializing the wedge set
    # through a shuffle. The wedge formulation shuffled
    # Σ outdeg(u)² rows (72M at sf0.1, 24.7 s); here the same
    # arithmetic runs inside array_intersect over |E'| rows, and only
    # actual triangles leave the operator (measured 24.7 → ~4 s at
    # sf0.1). The orientation bound still caps array length at ~√|E|
    # on any degree distribution, so executor memory per row is
    # bounded exactly where the wedge join's fan-out used to be.
    # adjacency lists: one row per source node with out-degree bounded
    # at ~sqrt(|E|) by the orientation. Materialized (so both closure
    # joins consume blocks instead of re-running the collect_list
    # aggregate) and broadcast when the MEASURED total footprint —
    # |V'| headers + one 16-byte entry per oriented edge — fits: the
    # closure then runs map-side over the oriented blocks at the pinned
    # partition width, instead of a sort-merge join whose small shuffle
    # AQE coalesces to a handful of CPU-starved tasks. Too-big
    # adjacency (the 100 TB case) falls back to the sort-merge shape.
    adj, n_adj = materialize_counted(
        oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    )
    adj_row_bytes = 24 + 16 * (oriented_count // max(n_adj, 1))
    adj = broadcast_if_small(adj, n_adj, row_bytes=adj_row_bytes)
    # Per-edge intersection computed ONCE, all three corners credited
    # from it in the same pass: each oriented edge (u, v) with
    # intersection zs contributes len(zs) triangles to u and to v and
    # one to every z — emitted as a single exploded (node, credit)
    # struct array [(u, |zs|), (v, |zs|), (z₁, 1), …] feeding one
    # grouped sum. The previous shape unioned three SELECTs over the
    # tris frame, and because the closure join is not materialized each
    # union branch re-executed the whole join + array_intersect +
    # explode pipeline — the per-edge intersection (the dominant CPU of
    # the query) ran THREE times (profiled at sf0.1: the closure stage
    # was 118 exec-seconds, ~3x the single-pass cost; the plan showed
    # three SortMergeJoin+Generate subtrees). Counts are identical:
    # per-corner credits are the same multiset, summed instead of
    # counted row-by-row.
    per_edge = (
        oriented.join(
            adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nu")),
            oriented["src"] == F.col("u"),
        )
        .join(
            adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
            oriented["dst"] == F.col("v"),
        )
        .select("u", "v", F.array_intersect("nu", "nv").alias("zs"))
        .filter(F.size("zs") > 0)
    )
    credits = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        F.size("zs").cast("long").alias("c"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        F.size("zs").cast("long").alias("c"),
                    ),
                ),
                F.transform(
                    "zs",
                    lambda z: F.struct(
                        z.alias("node"), F.lit(1).cast("long").alias("c")
                    ),
                ),
            )
        ).alias("cr")
    )
    return credits.groupBy(F.col("cr.node").alias("node")).agg(
        F.sum("cr.c").alias("n_triangles")
    )
