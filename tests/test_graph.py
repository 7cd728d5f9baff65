"""Graph analytics: integer-exact PageRank vs a pure-Python reference.

The oracle gate (tools/check_correctness.py) pins the full co-purchase
query against DuckDB; these tests pin the OPERATOR on hand-built and
random graphs, including the contracts the gate can't see: exact mass
accounting and isolated-node handling.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from financial_data_engineering_spark.operators.graph import (
    PR_D_DEN,
    PR_D_NUM,
    PR_SCALE,
    copurchase_edges,
    pagerank_integer,
)


def _py_pagerank(nodes, edges, rounds):
    """Reference replay of the exact integer update rule."""
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0) + w
    r = {v: PR_SCALE // n for v in nodes}
    base = (15 * PR_SCALE) // (PR_D_DEN * n)
    for _ in range(rounds):
        nxt = {v: base for v in nodes}
        for s, d, w in edges:
            nxt[d] += (r[s] * PR_D_NUM * w) // (PR_D_DEN * outw[s])
        r = nxt
    return r


def _run(spark, nodes, edges, rounds=4):
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        row["node"]: row["pagerank_e12"]
        for row in pagerank_integer(ndf, edf, rounds=rounds).collect()
    }
    assert got == _py_pagerank(nodes, edges, rounds)
    return got


def test_pagerank_matches_reference_on_line_graph(spark):
    nodes = [1, 2, 3, 4]
    edges = [(1, 2, 1), (2, 3, 1), (3, 4, 1)]
    _run(spark, nodes, edges)


def test_pagerank_isolated_node_holds_teleport_base(spark):
    nodes = [1, 2, 99]
    edges = [(1, 2, 3), (2, 1, 3)]
    got = _run(spark, nodes, edges)
    # 99 has no in-edges: after any round its rank is exactly the base.
    assert got[99] == (15 * PR_SCALE) // (PR_D_DEN * len(nodes))


def test_pagerank_mass_never_exceeds_scale(spark):
    """Floored remainders and dangling nodes LEAK mass, never mint it:
    the total rank stays at or below PR_SCALE every round."""
    rng = random.Random(7)
    nodes = list(range(1, 13))
    pairs = {
        (rng.randrange(1, 13), rng.randrange(1, 13)) for _ in range(30)
    }
    edges = [(s, d, rng.randrange(1, 4)) for s, d in pairs if s != d]
    got = _run(spark, nodes, edges, rounds=6)
    assert sum(got.values()) <= PR_SCALE


def test_copurchase_edges_symmetric_weighted(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 11), (2, 10), (2, 11), (2, 12)],
        "l_orderkey long, l_partkey long",
    )
    edges = {
        (r["src"], r["dst"]): r["w"]
        for r in copurchase_edges(li, "l_orderkey", "l_partkey").collect()
    }
    # duplicate (1, 11) lineitem collapses; both orders pair 10-11.
    assert edges[(10, 11)] == 2 and edges[(11, 10)] == 2
    assert edges[(10, 12)] == 1 and edges[(12, 11)] == 1
    assert (10, 10) not in edges


def test_pagerank_plan_has_no_cartesian(spark):
    ndf = spark.createDataFrame([(v,) for v in [1, 2, 3]], "node long")
    edf = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src long, dst long, w long"
    )
    plan = (
        pagerank_integer(ndf, edf, rounds=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pagerank_more_inlinks_rank_higher(spark):
    # hub: everyone links to 1; 1 links out to 2.
    nodes = [1, 2, 3, 4, 5]
    edges = [(v, 1, 1) for v in (2, 3, 4, 5)] + [(1, 2, 1)]
    got = _run(spark, nodes, edges, rounds=6)
    # the 1<->2 cycle holds nearly all the mass (finite-K parity decides
    # which of the two leads, so assert the pair, not one node)...
    leaders = sorted(got, key=got.get, reverse=True)[:2]
    assert set(leaders) == {1, 2}
    # ...and the base-only leaves tie exactly.
    assert got[3] == got[4] == got[5]
    assert min(got[1], got[2]) > got[3]


def test_pagerank_sf_small_is_deterministic(spark):
    from financial_data_engineering_spark.queries.graph import (
        part_copurchase_pagerank,
    )

    a = part_copurchase_pagerank(spark, "/root/testdata/sf0.001")
    b = part_copurchase_pagerank(spark, "/root/testdata/sf0.001")
    ra = [tuple(r) for r in a.collect()]
    rb = [tuple(r) for r in b.collect()]
    assert ra == rb
    assert len(ra) > 0
    total = sum(v for _, v in ra)
    assert total <= PR_SCALE
    # the graph is dense enough that most mass survives the leak
    assert total > PR_SCALE // 2
    assert a.schema["pagerank_e12"].dataType.typeName() == "long"


def _py_triangles(edges_undirected):
    """Per-node triangle counts by brute-force combination check."""
    from itertools import combinations

    adj = {}
    for a, b in edges_undirected:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = dict.fromkeys(adj, 0)
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            counts[x] += 1
            counts[y] += 1
            counts[z] += 1
    return {n: c for n, c in counts.items() if c}


def _run_triangles(spark, undirected):
    from financial_data_engineering_spark.operators.graph import (
        triangle_participation,
    )

    sym = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    edf = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_participation(edf).collect()
    }
    assert got == _py_triangles(undirected)
    return got


def test_triangles_k4(spark):
    # K4: 4 triangles, every node in exactly 3
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _run_triangles(spark, k4)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_triangle_plus_tail(spark):
    got = _run_triangles(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1}  # tail node 4 is triangle-free


def test_triangles_random_graph_matches_reference(spark):
    import random

    rng = random.Random(11)
    nodes = range(1, 25)
    undirected = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(1, 25), rng.randrange(1, 25))
                for _ in range(120)
            )
            if a != b
        }
    )
    _run_triangles(spark, undirected)


def test_triangles_hub_graph_stays_bounded(spark):
    """Star graph (hub of degree 20, no closures): degree orientation
    points every edge INTO the hub, so the hub contributes zero wedges
    and the result is empty — the power-law safety property."""
    star = [(99, i) for i in range(1, 21)]
    got = _run_triangles(spark, star)
    assert got == {}


def _py_cheapest(sources, edges, rounds):
    """Reference replay of the bounded min-plus relaxation."""
    dist = {v: 0 for v in sources}
    for _ in range(rounds):
        nxt = dict(dist)
        for s, d, c in edges:
            if s in dist and (d not in nxt or dist[s] + c < nxt[d]):
                nxt[d] = dist[s] + c
        dist = nxt
    return dist


def _run_cheapest(spark, sources, edges, rounds=4):
    from financial_data_engineering_spark.operators.graph import (
        cheapest_paths_bounded,
    )

    sdf = spark.createDataFrame([(v,) for v in sources], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long, c long")
    got = {
        r["node"]: r["cost"]
        for r in cheapest_paths_bounded(sdf, edf, rounds=rounds).collect()
    }
    assert got == _py_cheapest(sources, edges, rounds)
    return got


def test_cheapest_path_prefers_two_cheap_hops(spark):
    # direct edge costs 10; the detour 3+3 wins
    edges = [(1, 2, 10), (1, 3, 3), (3, 2, 3)]
    got = _run_cheapest(spark, [1], edges)
    assert got == {1: 0, 2: 6, 3: 3}


def test_cheapest_path_round_bound_cuts_long_paths(spark):
    # line 1-2-3-4-5, unit costs: rounds=2 reaches only node 3
    edges = [(i, i + 1, 1) for i in range(1, 5)]
    got = _run_cheapest(spark, [1], edges, rounds=2)
    assert got == {1: 0, 2: 1, 3: 2}


def test_cheapest_path_multi_source_takes_min(spark):
    edges = [(1, 5, 7), (2, 5, 4)]
    got = _run_cheapest(spark, [1, 2], edges)
    assert got[5] == 4


def test_cheapest_path_random_graph_matches_reference(spark):
    rng = random.Random(23)
    edges = sorted(
        {
            (rng.randrange(1, 30), rng.randrange(1, 30))
            for _ in range(150)
        }
    )
    edges = [(s, d, rng.randrange(1, 50)) for s, d in edges if s != d]
    _run_cheapest(spark, [1, 2], edges)


def _py_labelprop(nodes, edges, rounds):
    """Reference replay of synchronous min-tiebreak label propagation."""
    lbl = {v: v for v in nodes}
    for _ in range(rounds):
        votes = {}
        for s, d, w in edges:
            votes.setdefault(d, {}).setdefault(lbl[s], 0)
            votes[d][lbl[s]] += w
        nxt = dict(lbl)
        for d, vv in votes.items():
            best = max(vv.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[d] = best[0]
        lbl = nxt
    return lbl


def _run_labelprop(spark, nodes, edges, rounds=4):
    from financial_data_engineering_spark.operators.graph import (
        label_propagation,
    )

    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["node"]: r["community"]
        for r in label_propagation(ndf, edf, rounds=rounds).collect()
    }
    assert got == _py_labelprop(nodes, edges, rounds)
    return got


def test_labelprop_two_cliques_converge_to_two_communities(spark):
    # two triangles bridged by one weak edge
    cliq = lambda ns: [
        (a, b, 3) for a in ns for b in ns if a != b
    ]
    edges = cliq([1, 2, 3]) + cliq([7, 8, 9]) + [(3, 7, 1), (7, 3, 1)]
    got = _run_labelprop(spark, [1, 2, 3, 7, 8, 9], edges)
    assert len({got[1], got[2], got[3]}) == 1
    assert len({got[7], got[8], got[9]}) == 1
    assert got[1] != got[7]


def test_labelprop_isolated_node_keeps_seed(spark):
    got = _run_labelprop(spark, [1, 2, 42], [(1, 2, 1), (2, 1, 1)])
    assert got[42] == 42


def test_labelprop_tie_breaks_to_min_label(spark):
    # node 5 hears labels 1 and 2 with equal weight -> adopts 1
    edges = [(1, 5, 2), (2, 5, 2)]
    got = _run_labelprop(spark, [1, 2, 5], edges, rounds=1)
    assert got[5] == 1


def test_labelprop_random_graph_matches_reference(spark):
    rng = random.Random(7)
    pairs = sorted(
        {
            (rng.randrange(1, 25), rng.randrange(1, 25))
            for _ in range(100)
        }
    )
    edges = [(s, d, rng.randrange(1, 5)) for s, d in pairs if s != d]
    _run_labelprop(spark, list(range(1, 25)), edges)


def test_shared_copurchase_edges_reuses_and_rebuilds_after_release(spark):
    """The session-scoped edge frame is one MATERIALIZED object until
    release_shared_edges() drops it, after which it rebuilds; the
    served frame is lineage-cut (flat scan — the iterative operators'
    fast path, measured 3.7 s vs 8.5 s over a persist at sf0.1)."""
    from financial_data_engineering_spark import plans
    from financial_data_engineering_spark.queries.graph import (
        release_shared_edges,
        shared_copurchase_edges,
    )

    release_shared_edges()
    sf = "/root/testdata/sf0.001"
    a = shared_copurchase_edges(spark, sf)
    b = shared_copurchase_edges(spark, sf)
    assert a is b
    # lineage is cut: no shuffle left in the served frame's plan
    assert plans.shuffle_count(a) == 0
    assert release_shared_edges() == 1
    c = shared_copurchase_edges(spark, sf)
    assert c is not a
    release_shared_edges()


def _py_kcore(undirected, k, rounds):
    """Reference replay of bounded peeling on an undirected edge set."""
    edges = {(a, b) for a, b in undirected} | {
        (b, a) for a, b in undirected
    }
    for _ in range(rounds):
        deg = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        edges = {(s, d) for s, d in edges if s in keep and d in keep}
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    return out


def _run_kcore(spark, undirected, k, rounds=4):
    from financial_data_engineering_spark.operators.graph import kcore_bounded

    sym = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    edf = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_bounded(edf, k=k, rounds=rounds).collect()
    }
    assert got == _py_kcore(undirected, k, rounds)
    return got


def test_kcore_k4_survives_k3_peeling(spark):
    # K4 is a 3-core: every node keeps degree 3, nothing peels.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _run_kcore(spark, k4, k=3)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_tail_peels_and_cascades(spark):
    # Triangle with a 2-chain tail: k=2 peels the tail end first, then
    # the cascade removes the next tail node on the following round —
    # the multi-round behavior the bounded contract exists to capture.
    g = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    assert _run_kcore(spark, g, k=2, rounds=1) == {
        # only node 5 (degree 1) peeled so far; node 4 keeps its spot
        # this round but its reported in-core degree already drops to 1
        1: 2, 2: 2, 3: 3, 4: 1,
    }
    assert _run_kcore(spark, g, k=2, rounds=2) == {1: 2, 2: 2, 3: 2}


def test_kcore_bounded_stops_short_of_fixpoint(spark):
    # A 5-chain under k=2 peels one node per round from each end; at
    # rounds=1 the interior survives, at rounds=3 everything is gone.
    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert set(_run_kcore(spark, chain, k=2, rounds=1)) == {2, 3, 4}
    assert _run_kcore(spark, chain, k=2, rounds=3) == {}


def test_kcore_random_graph_matches_reference(spark):
    rng = random.Random(23)
    undirected = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(1, 30), rng.randrange(1, 30))
                for _ in range(150)
            )
            if a != b
        }
    )
    for k in (2, 4, 8):
        _run_kcore(spark, undirected, k=k)


def _kcore_test_graph(spark):
    rng = random.Random(5)
    undirected = {
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(200))
        if a != b
    }
    sym = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    return spark.createDataFrame(sym, "src long, dst long")


def test_kcore_bounded_job_ceiling(spark):
    """The first peeling round submits at most four Spark jobs: the degree
    aggregate's shuffle map stage, its materialize (the survivor count is
    observed on that job), ONE survivor broadcast that both semi joins
    share, and the edge materialize. Later rounds submit at most three:
    the first round's count bounds their survivor lists, so the broadcast
    job runs the aggregate's final stage with no materialize in front. A
    second broadcast, or a count or survivor materialize in a later
    round, breaks the ceiling."""
    from financial_data_engineering_spark.operators.graph import kcore_bounded
    from tests.conftest import count_jobs

    edf = _kcore_test_graph(spark)
    for rounds in (1, 3):
        with count_jobs(spark) as jobs:
            kcore_bounded(edf, k=6, rounds=rounds)
        assert jobs.n <= 3 * rounds + 1, (rounds, jobs.n)


def test_kcore_exact_job_ceiling(spark):
    """kcore_exact runs the same rounds as kcore_bounded (the convergence
    count is observed on each round's edge materialize), plus the input
    count: a count over an input that is already materialized, two jobs
    (shuffle map and result)."""
    from financial_data_engineering_spark.operators.graph import kcore_exact
    from tests.conftest import count_jobs

    edf = _kcore_test_graph(spark)
    with count_jobs(spark) as jobs:
        kcore_exact(edf, k=6)
    rounds = kcore_exact._last_rounds
    assert rounds >= 2
    assert jobs.n <= 3 * rounds + 1 + 2, (rounds, jobs.n)



def test_kcore_peel_measures_a_bound_too_big_to_broadcast(spark):
    """A later peeling round whose survivor bound is over the broadcast
    threshold measures its own survivor list, as the first round does,
    and broadcasts it once that count fits: a list that has shrunk under
    the threshold is not sort-merged."""
    from financial_data_engineering_spark.operators.graph import _peel
    from financial_data_engineering_spark.partitioning import materialize

    e = materialize(_kcore_test_graph(spark))
    deg = {}
    for r in e.collect():
        deg[r["src"]] = deg.get(r["src"], 0) + 1
    survivors = sum(1 for d in deg.values() if d >= 6)
    thr = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    out, bound = _peel(e, 6, thr // 8 + 1)
    assert bound == survivors
    assert "ResolvedHint" in out._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, out.collect())) == sorted(
        (r["src"], r["dst"])
        for r in e.collect()
        if deg[r["src"]] >= 6 and deg[r["dst"]] >= 6
    )

def test_kcore_query_docstring_constants_in_sync():
    """queries/graph.py inlines KCORE_ROUNDS/KCORE_K as literals in the
    query docstring (a plain string cannot interpolate them); this pin
    fails if the constants move without the doc."""
    from financial_data_engineering_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
    )
    from financial_data_engineering_spark.queries.graph import (
        part_copurchase_kcore,
    )

    doc = part_copurchase_kcore.__doc__
    assert f"KCORE_ROUNDS\n    (= {KCORE_ROUNDS})" in doc
    assert f"KCORE_K (= {KCORE_K})" in doc


def _run_kcore_exact(spark, undirected, k, max_iters=100):
    from financial_data_engineering_spark.operators.graph import kcore_exact

    sym = [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected]
    edf = spark.createDataFrame(sym, "src long, dst long")
    return {
        r["node"]: r["core_degree"]
        for r in kcore_exact(edf, k=k, max_iters=max_iters).collect()
    }


def test_kcore_exact_peels_chain_to_empty(spark):
    # The case the bounded variant exists to avoid: a peeling chain.
    # An 11-node path under k=2 loses one node from each end per round
    # — 5 peeling rounds + 1 confirming round — and ends EMPTY, where
    # kcore_bounded at rounds=4 still reports survivors.
    from financial_data_engineering_spark.operators.graph import kcore_exact

    chain = [(i, i + 1) for i in range(1, 11)]
    assert _run_kcore_exact(spark, chain, k=2) == {}
    assert kcore_exact._last_rounds == 6
    assert _run_kcore(spark, chain, k=2, rounds=4) != {}


def test_kcore_exact_is_a_true_core_and_matches_converged_bounded(spark):
    # Random graph: (a) every surviving node's degree inside the core
    # is >= k (the defining k-core property — bounded can't promise
    # it); (b) one more bounded round changes nothing => bounded had
    # converged, and then exact agrees with it verbatim.
    rng = random.Random(31)
    undirected = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(1, 40), rng.randrange(1, 40))
                for _ in range(260)
            )
            if a != b
        }
    )
    for k in (3, 6):
        exact = _run_kcore_exact(spark, undirected, k=k)
        assert all(d >= k for d in exact.values())
        if _py_kcore(undirected, k, 8) == _py_kcore(undirected, k, 9):
            assert exact == _run_kcore(spark, undirected, k=k, rounds=8)


def test_kcore_exact_raises_when_chain_outruns_max_iters(spark):
    import pytest

    chain = [(i, i + 1) for i in range(1, 11)]
    sym = [(a, b) for a, b in chain] + [(b, a) for a, b in chain]
    edf = spark.createDataFrame(sym, "src long, dst long")
    from financial_data_engineering_spark.operators.graph import kcore_exact

    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_exact(edf, k=2, max_iters=3).collect()


def test_kcore_exact_query_converges_within_oracle_unroll(spark):
    """part_copurchase_kcore_exact's oracle unrolls KCORE_EXACT_UNROLL
    rounds; idempotence past the fixpoint makes that exact ONLY if the
    operator converges within the unroll at every oracle SF. Pin the
    invariant at the test SFs (sf0.001 is the measured worst case, 8
    rounds) — data drift that outgrows the unroll fails here AND
    raises loudly in the query itself (max_iters = the unroll)."""
    from financial_data_engineering_spark.operators.graph import (
        KCORE_EXACT_UNROLL,
        kcore_exact,
    )
    from financial_data_engineering_spark.queries.graph import (
        part_copurchase_kcore_exact,
        release_shared_edges,
    )
    from tests.conftest import SF_MEDIUM, SF_SMALL

    for sf_dir, worst_case in ((SF_SMALL, 8), (SF_MEDIUM, 3)):
        rows = part_copurchase_kcore_exact(spark, sf_dir)
        n = rows.count()
        assert kcore_exact._last_rounds == worst_case
        assert kcore_exact._last_rounds <= KCORE_EXACT_UNROLL
        # every survivor satisfies the defining core property
        assert all(
            r["core_degree"] >= 70 for r in rows.collect()
        ) or n == 0
    release_shared_edges()
