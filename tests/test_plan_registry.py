"""Registry-wide physical-plan audit: every registered query, every round.

The per-family plan tests (test_plans.py, test_scale_layout.py) pin the
designed shape of specific hot paths. This suite is the safety net UNDER
them: it walks the ENTIRE query registry — the exact surface the driver
grades — and asserts the global scale invariants no query may ever break,
plus a frozen per-query shuffle budget so a refactor that quietly adds an
Exchange (an extra full network round-trip of the data at 100 TB) fails CI
instead of surfacing as a mystery regression in the next bench.

Global invariants (every query):
- no CartesianProduct — the all-pairs shuffle join is never acceptable;
- no BatchEvalPython — row-at-a-time Python UDFs are banned engine-wide
  (Python kernels must be Arrow-batched);
- nested-loop joins only where whitelisted (a broadcast NLJ against a
  deliberately bounded build side — currently only the brute-force kNN
  scorer, whose query side is a broadcast of <=100 rows by contract).

Budgets are upper bounds, not exact counts: AQE/caching can only remove
exchanges from these plans, never add them, so `<=` catches regressions
without flaking on optimizer improvements.
"""

from __future__ import annotations

import functools

import pytest
from pyspark.sql import functions as F

from financial_data_engineering_spark import plans
from financial_data_engineering_spark import queries as q
from tests.conftest import SF_MEDIUM, SF_SMALL

# query -> max Exchange nodes, frozen from the audited plans. Raising a
# budget is a deliberate act that belongs in the same commit as the plan
# change that needs it, with the why in the commit message.
SHUFFLE_BUDGET = {
    "ann_ivf_cosine": 3,
    # serve-from-index plan: dedup + rank window + presentation sort; the
    # index build's own jobs run at build time, outside this plan, and
    # the lists scan is pruned by the broadcast probes (dynamic
    # partition pruning reuses that exchange, so it adds no shuffle)
    "ann_ivf_from_index": 3,
    "ann_lsh_cosine": 2,
    "ann_lsh_multiprobe": 2,
    "customer_overlapping_orders": 3,
    "customer_padded_keys": 0,
    "customer_priority_scd2": 2,
    # broadcast left-anti join against the order keys (no distinct on
    # the build side: an anti join neither fans out on nor needs unique
    # keys); the one exchange is the presentation sort
    "customers_without_orders": 1,
    "date_dimension": 2,
    "dedup_component_groups": 2,
    # K rounds run against materialized (lineage-cut) inputs, so the
    # returned plan is the final rank table + presentation sort; the
    # per-round joins/aggregates are costed in the operator docstring
    "part_copurchase_pagerank": 1,
    # K min-plus rounds run against materialized inputs (same shape as
    # pagerank); returned plan is the final dist table + presentation sort
    "part_copurchase_cheapest_path": 1,
    # K label-propagation rounds run against materialized inputs;
    # returned plan is the final label table + presentation sort
    "part_copurchase_communities": 1,
    # basket distinct + pair aggregate + item-count joins on both rule
    # sides + the top-k TakeOrdered and its 25-row re-rank
    "part_association_rules": 13,
    # bigram stream -> c2/c1 model aggregates -> score joins (AQE
    # broadcasts the count tables here) -> per-doc -> per-source rollup
    "source_bigram_lm_quality": 8,
    # token explode feeds the dl and posting-list aggregates (the second
    # filtered to |query terms| before its shuffle); df/avgdl broadcast;
    # the top-k is TakeOrderedAndProject + a 25-row re-rank window
    "doc_bm25_topk": 10,
    # distinct-hash shuffle -> register groupBy -> one-row fold; the
    # exact audit count rides the register table's cnt column (no rescan)
    "hll_distinct_orders": 3,
    # per-group + merged register folds and the one global-exact
    # re-aggregation of the deduped hash frame; all branches after the
    # first distinct move <= m rows per group
    "hll_priority_union": 10,
    # changelog window shuffle + two full-outer sides + presentation sort
    "customer_cdc_merge": 4,
    # degree-oriented wedge join + closure probe + corner rollup over
    # the materialized edge/orientation frames
    "part_copurchase_triangles": 14,
    # identical engine plan to part_copurchase_triangles (only the
    # ORACLE differs — the naive-formulation cross-check row)
    "part_copurchase_triangles_xcheck": 14,
    # four layout/dim arms aggregate the materialized <= 256-row cell
    # histogram (control-plane); the single corpus-side aggregate ran
    # at materialize time
    "lineitem_zorder_skipping": 8,
    "dedup_embedding_cosine": 2,
    "dedup_exact_survivors": 2,
    # span explode (map-side) -> one span-keyed agg -> TakeOrdered
    "cross_doc_repeated_spans": 2,
    # repeated-span agg + span join + per-doc distinct-count + doc join
    # + source rollup/sort — all inverted-index keyed, never doc x doc
    "doc_boilerplate_coverage": 6,
    # post-checkpoint sketch membership: the distinct-shuffle ran at
    # sketch build; joins over k-row sketches + pad/union fold
    "kmv_priority_intersect": 2,
    # posexplode (map-side) -> (label, dim) agg -> label agg -> sort
    "embedding_label_centroids": 3,
    # one user_id window shuffle + presentation sort; the 7-day frame is
    # a per-partition sliding aggregate, no self-join
    "user_rolling_value_7d": 2,
    # two exact-median grouped aggs (sort-based) + final rollup + sort;
    # per-group stats attach via broadcast
    "lineitem_quantity_mad_outliers": 5,
    # both retriever plans (bucket joins) + fusion groupBy + rank window;
    # fusion itself adds one exchange over two k-row lists
    "ann_rrf_fusion": 4,
    # typed from_json extraction is map-side; distinct-count expand agg
    # (2 phases) + presentation sort
    "event_props_rollup": 3,
    # registry anti-join plan: batch survivors agg + anti-join + id
    # re-attach; registry side is fingerprint-only
    "dedup_incremental_new_unique": 3,
    # two banded-signature pipelines (batch + registry) + candidate join
    # + union verify + best-match window; one more than the self-join LSH
    "dedup_incremental_minhash": 7,
    # component fixpoint runs pre-checkpoint; rep rollup + broadcast
    # attach + presentation sort
    "dedup_group_representatives": 2,
    "dedup_minhash_lsh": 6,
    "dedup_ngram_jaccard": 9,
    # registry-distinct broadcast attach + 1-row audit agg; the screen
    # itself is map-side literal arithmetic (bloom words collected as
    # control-plane), the bloom build agg runs at operator build
    "dedup_bloom_screen": 2,
    # post-persist per-cluster GEMM tile (one cluster shuffle into
    # applyInPandas) + pair/size aggs + small left join + sort; the
    # k-means/assignment jobs run at operator build, outside this plan
    "dedup_semantic_clusters": 5,
    # the exchanges inside the persisted fingerprint/band relations count
    # too: spread repartition before the token explode + presentation sort
    "dedup_simhash": 2,
    # spread repartition + band-bucket exchange (persisted) + pair dedup
    # + presentation sort
    "dedup_simhash_pairs": 4,
    # the pair plan's spread, band and pair exchanges + a second pair
    # exchange for the symmetrized union, one per-doc rank window
    # exchange, presentation sort
    "dedup_simhash_topk": 6,
    # salted probe shuffle + segment agg; the replicated build side
    # auto-broadcasts at bench scale
    "customer_order_stats_salted": 2,
    # distinct (source, token) collapse + token-keyed pair count + size
    # agg (broadcast attach) + presentation sort
    "source_vocab_overlap": 5,
    # per-part agg + co-partitioned fact rejoin + brand agg/sort
    "small_quantity_order_revenue": 3,
    "dedup_winnowing": 2,
    # same winnowing plan over the doc_id % 10 slice (sf10 oracle twin)
    "dedup_winnowing_decimated": 2,
    "doc_bpe_tokens": 1,
    # vocabulary collapse agg + char-pair agg; top-k is TakeOrdered
    "bpe_merge_candidates": 2,
    # iterative trainer: distributed work happens in the checkpointed
    # merge loop; the returned merge table is a LocalTableScan plus the
    # presentation sort's exchange (10 rows)
    "bpe_learned_merges": 1,
    "doc_chunks": 1,
    # post-checkpoint: pid-window + presentation sort; the range
    # repartition ran at build time (frozen by localCheckpoint)
    "doc_dense_ids": 2,
    "doc_fingerprints": 2,
    "doc_lang_id": 2,
    # distributed prefix-rank (operators/prefix.py): corpus count agg +
    # one-partition quota window (k source rows) + range exchange + the
    # post-materialize (source,pid) offsets agg + offsets window (both
    # control-plane: <= n_parts x |sources| rows) + presentation sort;
    # quotas and offsets attach broadcast — the corpus itself moves in
    # exactly TWO of the six exchanges (count partials + range spread)
    "doc_mix_rebalance": 6,
    # same prefix-sum shape minus the quota math: range exchange +
    # offsets agg + offsets window + (source,bin) rollup + sort
    "doc_pack_bins": 5,
    "doc_repetition_flags": 3,
    # two-phase salted top-k: (source,salt) window + source window over
    # the bounded union + sort
    "doc_sample_stratified": 3,
    # map-side split expression + rollup agg + presentation sort
    "doc_split_assign": 2,
    "doc_text_stats": 1,
    "embedding_quantization_stats": 2,
    # broadcast eval index: the 4 exchanges are the two tiny eval-side
    # aggregations + final sort, never a corpus shuffle (SMJ count is 0)
    "eval_contamination": 4,
    "event_funnel_pairs": 2,
    "event_rollup_grouping_sets": 2,
    "event_type_counts": 1,
    # exact per-type agg + map-side literal CM probe + 5-row sort; the
    # counter-matrix build agg runs at operator build (collect)
    "event_type_cm_audit": 2,
    "events_value_histogram": 2,
    # mergeable-moment agg (map-side partials) + 5-row sort
    "event_value_dispersion": 2,
    "events_asof_latest_order": 3,
    # per-user lag window + (prev,next) agg over |event_types|^2 keys + sort
    "event_transition_counts": 3,
    # user-day agg + user lead-window; the calendar fill is a map-side
    # sequence/explode (no spine join) + presentation sort
    "user_value_gapfill": 3,
    # pivot with declared values compiles to the two-level agg + sort
    "orders_priority_pivot": 3,
    # custkey agg + dense-ids range repartition (pre-checkpoint) + decile
    # agg + sort; the ntile itself is arithmetic, no global window
    "customer_revenue_deciles": 4,
    # dims broadcast; nation agg + one |nations|-row window/sort stage
    "nation_revenue_running_share": 2,
    # supplier/nation broadcast; (nation, part) agg + |nations|-partition
    # rank window + sort
    # two-phase salted top-3 over the (nation, part) aggregate
    "top_parts_per_nation": 4,
    # distinct-name collapse, persisted by the block-size guard's
    # materialization (its exchange counts too); post-cache plan is two
    # tiny noun aggs + broadcast joins + sort
    "part_fuzzy_name_blocks": 4,
    # orders->nation distinct-count agg (expand, 2 phases) + 1-row divisor
    # agg attached as a broadcast EQUI-join + sort
    "nations_full_priority_coverage": 5,
    "fact_orders_star": 1,
    "high_value_parties": 1,
    "hourly_event_rollup": 2,
    "kmv_distinct_customers": 3,
    # post-checkpoint plan: sketches materialize once; merge + union +
    # sort read the k·|groups| frame
    "kmv_priority_union": 3,
    "knn_brute_force_cosine": 2,
    "latest_order_per_customer": 1,
    "lineitem_global_stats": 1,
    # r15 two-level cumulative sum: histogram collapse (appears in both
    # join branches statically — runtime ReusedExchange computes it
    # once) + explicit (flag, bucket) spread for the within-bucket
    # cum-window + bucket-total agg + tiny flag-level offset window +
    # rollup (partial-agged to <= 3 rows/partition before its exchange)
    # + sort. Trades a few hundred-row exchanges for running the prefix
    # sum at 3x|buckets| partitions instead of 3 (the
    # fixed-cardinality-key bottleneck).
    "lineitem_price_quantiles": 7,
    "lineitem_priority_asof": 4,
    # map-side stack Generate + grouped rollup + 12-row sort
    "lineitem_measure_unpivot": 2,
    "multimodal_decode_stats": 2,
    "multimodal_frame_stats": 2,
    "multimodal_pixel_roundtrip": 2,
    "multimodal_resize_stats": 2,
    "nation_latest_order_revenue": 2,
    "order_distinct_counts": 2,
    "order_priority_share": 2,
    # pre-aggregated bucketed range join: day rollup + per-order agg +
    # sort; the join attaches day summaries by bucket (broadcast at test
    # scale, shuffle-on-uniform-buckets at 100 TB), no NLJ
    # quarter-pruned orders LEFT SEMI delayed lineitems (co-partitioned
    # orderkey join pair) + priority agg/sort
    "order_priority_delayed_counts": 2,
    # part attach (estimator-chosen broadcast) + brand agg/sort
    "part_brand_vwap": 2,
    # part attach + (brand, month) bar agg + presentation sort — the
    # single-aggregate OHLC shape (min_by/max_by partials)
    "part_brand_ohlc_monthly": 2,
    # one grouped agg (OHLC + sum_e2 via extra_aggs, no second scan) + sort
    "user_value_ohlc": 2,
    # brand window (rolling sums) + brand rollup reusing partitioning + sort
    # one-pass month segmentation: (brand,month) window + month rollup
    # reusing its partitioning + per-brand Arrow carry fold + sort
    "part_brand_rolling_band": 3,
    # brand collect_list agg (fold is map-side HOF) + presentation sort
    "part_brand_ewma_band": 2,
    # (brand,month) cummax window + month agg + brand stitch window +
    # rollup + sort (month-segmented: see the query docstring)
    "part_brand_max_drawdown": 3,
    # user collect_list agg (same fold) + presentation sort
    "user_value_ewma_band": 2,
    # user cummax window + rollup reusing partitioning + sort
    "user_value_max_drawdown": 2,
    # user window (rolling sums) + rollup reusing partitioning + sort
    "user_value_rolling_band": 2,
    # (brand,month) lag window + month agg + brand boundary window +
    # rollup + sort (month-segmented)
    "part_brand_return_stats": 3,
    # bar rollup (brand,month) + brand lag window over |bars| + sort
    "part_brand_monthly_returns": 3,
    # same bar rollup + lag window + brand rollup reusing partitioning
    "part_brand_gap_counts": 3,
    # post-checkpoint returns frame: month agg + broadcast market join +
    # brand moment agg + sort
    "part_brand_beta": 3,
    # post-checkpoint self-join on bar_m + pair moment agg + sort
    "brand_return_correlation": 4,
    # bar rollup + brand lag window + (brand,moy) agg (brand partitioning
    # satisfies it) + sort
    "part_brand_return_seasonality": 3,
    # month-segmented: month-peak agg + prior window + (brand,month)
    # windows + two-level rollup + brand fold + sort
    "part_brand_underwater_runs": 5,
    # same gaps-and-islands plan keyed by user over events
    "user_value_underwater_runs": 2,
    # (user, month) close agg + user lag window + user rollup + sort
    "user_monthly_bar_diffs": 3,
    # corpus code build (one exchange) + query code build + pool window
    # + rerank equi-joins + presentation sort
    "ann_quantized_rerank": 4,
    # ADC agg collapsing the broadcast-LUT join's m-way fan-out + pool
    # window + rerank neighbor join (both sides) + rank window +
    # presentation sort; code/LUT builds are map-only Arrow passes
    "ann_pq_rerank": 6,
    # same cascade with the candidate set cut to the probed inverted
    # lists first (broadcast probe join + code equi-join, map-side)
    "ann_ivfpq_rerank": 6,
    # distinct-word collapse + doc agg (encoded vocab broadcasts at test
    # scale; word-keyed shuffle join at corpus scale) + sort
    "doc_bpe_encoding": 2,
    # same encoder plan over the doc_id % 10 slice (sf10 oracle twin)
    "doc_bpe_encoding_decimated": 2,
    # custkey lag window + segment agg + 5-row sort
    "customer_order_gaps": 3,
    # Q13 shape: orders pre-aggregate + left join to customer + the
    # count-of-counts aggregate; presentation sort folds into the tiny
    # final agg's exchange
    "customer_order_count_distribution": 3,
    # Q21 shape: late-set build join + distinct, semi + anti probes on
    # the shared orderkey shuffle, supplier/nation broadcast, top-25
    "suppliers_kept_order_waiting": 5,
    # Q22 shape: 1-row scalar-stats exchange + nation rollup + sort;
    # the anti side broadcasts at test scale (shuffles at corpus scale)
    "inactive_rich_customers_by_nation": 3,
    # Q11 shape: post-loop plan over the materialized per-part view —
    # 1-row total exchange + presentation sort
    "part_value_concentration": 2,
    # Q15 shape: post-loop plan over the materialized revenue view —
    # 1-row max exchange + presentation sort
    "top_quarter_supplier": 2,
    # SCD2 build: ONE custkey window (row_number + both leads share the
    # sort) + presentation sort
    "customer_scd2_history": 2,
    # Q7 shape: lineitem<->orders is the one fact-fact exchange; the
    # pre-filtered nation/supplier/customer chains broadcast; + group
    # agg (the presentation sort folds into the tiny final exchange)
    "nation_pair_trade_volume": 2,
    # Q8 shape: fact-fact exchange + unhinted customer join (AQE
    # broadcasts it at test scale, sound shuffle at 100 TB) + year agg
    # + presentation sort
    "nation_market_share": 4,
    # Q9 shape: part/supplier/nation broadcast; fact-fact exchange +
    # (nation, year) agg; sort folds into the final exchange
    "profit_by_nation_year": 2,
    # Q10 shape: per-custkey agg rides the orderkey join's exchange;
    # dims attach post-agg; top-20 is TakeOrderedAndProject
    "returned_item_top_customers": 1,
    # Q14 shape: fact-fact exchange + 12-row month agg
    "promo_revenue_share": 2,
    # Q16 shape: two-phase distinct aggregate (partial distinct +
    # count) + presentation sort; anti/part sides broadcast
    "supplier_cnt_by_part_attrs": 3,
    # Q18 shape: per-order qty agg + TakeOrderedAndProject over the
    # ~1% survivors (joins broadcast at test scale via AQE)
    "large_volume_customers": 1,
    # Q19 shape: broadcast join + 1-row global agg
    "part_disjunctive_revenue": 1,
    # Q20 shape: (suppkey, partkey) threshold agg + distinct; the two
    # semijoins broadcast
    "qualified_part_suppliers": 3,
    # Q2 shape: bridge (part,supp) agg + partkey min-window reusing the
    # rows in hand (no second bridge scan); attribute joins broadcast;
    # top-100 is TakeOrderedAndProject
    "min_cost_part_suppliers": 2,
    # Q6 shape: pure scan + pushed range filters + 1-row global agg
    "discount_band_revenue": 1,
    # Q12 shape: orderkey fact-fact exchange + 2-row conditional-count
    # agg (map-side combine collapses below the join first); sort folds
    # into the tiny final exchange
    "late_shipment_priority_counts": 2,
    # K peeling rounds run against materialized inputs (the pagerank
    # shape); returned plan is the survivor-degree agg + presentation
    # sort
    "part_copurchase_kcore": 2,
    # fixpoint peeling runs against materialized inputs (same shape as
    # the bounded variant); returned plan is the survivor-degree agg +
    # presentation sort
    "part_copurchase_kcore_exact": 2,
    # per-user lead window + rollup reusing its partitioning + sort
    "user_value_twap": 2,
    "order_week_shipments": 3,
    "pii_scrub_stats": 2,
    "pricing_summary": 2,
    "quality_completeness_lineitem": 1,
    "quality_freshness_events": 1,
    "quality_pattern_customer_name": 1,
    "quality_range_quantity": 1,
    "quality_uniqueness_orders": 2,
    "region_local_supplier_volume": 3,
    "revenue_by_region_segment": 2,
    "shipping_priority_revenue": 2,
    "sliding_event_counts": 2,
    # window fan-out + two-phase distinct expand + presentation sort
    "sliding_active_users": 3,
    # one user shuffle to assemble sequences; regex is map-side + sort
    "user_browse_to_buy_runs": 2,
    # orderkey shuffle join (0-Exchange under the bucketed layout) +
    # priority agg; sort folds into the 5-row agg exchange
    "priority_fulfillment_latency": 3,
    "source_quality_rollup": 2,
    "source_vocab_stats": 3,
    "surrogate_keys_nation": 1,
    # + two-phase salted top-K over the scored vocabulary
    "tfidf_top_terms": 7,
    "top_bigrams": 2,
    "top_customers_by_revenue": 1,
    "top_part_nouns": 1,
    "user_retention_cohorts": 4,
    "user_sessions": 2,
}

# Queries allowed exactly this many nested-loop joins: the kNN scorer
# cross-joins the corpus against a BROADCAST query set bounded to k<=100
# rows (llm/similarity.py brute_force_topk), and tfidf attaches the corpus
# size N as a broadcast of ONE aggregated row — both map-side loops, not
# shuffles. Everything else: zero.
NLJ_WHITELIST = {
    "knn_brute_force_cosine": 1,
    "tfidf_top_terms": 1,
    # stage 1 of the quantized cascade: broadcast of <= _N_QUERIES code
    # rows against the corpus code scan, same contract as the kNN scorer
    "ann_quantized_rerank": 1,
    # the 1-row max-custkey aggregate attaches to the changelog as an
    # IdentityBroadcastMode NLJ (Catalyst folds the constant-key
    # equality away) — broadcast of exactly one row, never data x data
    "customer_cdc_merge": 1,
    # the merged row's exact-count audit attaches the 1-row global
    # distinct aggregate to the 1-row merged-estimate fold — broadcast
    # of exactly one row against one row (operators/hll.py)
    "hll_priority_union": 1,
    # the 1-row (N, avgdl) corpus-stats aggregate attaches to the
    # posting-list scores as a broadcast scalar (the tfidf contract)
    "doc_bm25_topk": 1,
    # the 1-row basket-count aggregate attaches to the frequent-pair
    # scores as a broadcast scalar (the tfidf contract)
    "part_association_rules": 1,
    # Q22's scalar-avg subquery: the 1-row (sum, count) aggregate
    # attaches to the filtered customers as an IdentityBroadcastMode
    # NLJ carrying the integer cross-multiplication predicate
    "inactive_rich_customers_by_nation": 1,
    # Q11's 1-row (total, count) broadcast against the per-part view
    # (inequality predicate keeps it an IdentityBroadcastMode NLJ;
    # Q15's max attaches as an EQUI-condition, so Catalyst plans it as
    # a BroadcastHashJoin on revenue_e4 = max_rev — no NLJ entry)
    "part_value_concentration": 1,
}


def test_budget_covers_entire_registry():
    """A new query must ship with a budget row in the same commit."""
    assert set(SHUFFLE_BUDGET) == set(q.all_queries())


# --- low-cardinality window/sort audit -------------------------------------
# Round 8 fixed seven fixed-cardinality-key bottlenecks by hand (a Window or
# Sort partitioned solely by a 3-25-value key caps parallelism at that
# cardinality — 25 tasks each sorting 1/25th of 100 TB). This audit walks
# every registered query's optimized plan so the next contributor cannot
# reintroduce one: flagged iff the partition keys are all drawn from the
# below-floor columns (or empty) AND a scale-with-data leaf is reachable
# without crossing an Aggregate / Limit / top-k rank filter (behind those
# the frame is control-plane, where a narrow window is the deliberate,
# cardinality-justified choice).

_CARD_FLOOR = 64
# alias-or-column -> (table, expr) for every categorical key queries
# partition by; cardinalities measured from the data below, not assumed.
_LOW_CARD_CANDIDATES = {
    "brand": ("part", "p_brand"),
    "p_brand": ("part", "p_brand"),
    "nation": ("nation", "n_name"),
    "n_name": ("nation", "n_name"),
    "region": ("region", "r_name"),
    "r_name": ("region", "r_name"),
    "priority": ("orders", "o_orderpriority"),
    "o_orderpriority": ("orders", "o_orderpriority"),
    "o_orderstatus": ("orders", "o_orderstatus"),
    "status": ("orders", "o_orderstatus"),
    "l_returnflag": ("lineitem", "l_returnflag"),
    "l_linestatus": ("lineitem", "l_linestatus"),
    "c_mktsegment": ("customer", "c_mktsegment"),
    "event_type": ("events", "event_type"),
    "source": ("documents", "source"),
    "lang": ("documents", "lang"),
    "user_id": ("events", "user_id"),  # 150 at sf0.01: must NOT flag
}
#: attribute names unique to the scale-with-data tables (region/nation
#: are fixed-size and excluded on purpose)
_BIG_MARKERS = {
    "l_partkey", "o_orderkey", "p_partkey", "c_custkey", "s_suppkey",
    "event_id", "doc_id", "vec_id",
}


@functools.lru_cache(maxsize=1)
def _low_card_columns() -> frozenset[str]:
    """Keys whose cardinality is FIXED (does not grow with data volume):
    measured at two scale factors — below the floor at sf0.01 AND flat
    from sf0.001 to sf0.01. user_id is the calibration case: 15 at
    sf0.001 but 150 at sf0.01 and |users| at 100 TB — a key that grows
    with the data spreads the work and must not be flagged."""
    import duckdb

    con = duckdb.connect()
    out = set()
    for alias, (table, col) in _LOW_CARD_CANDIDATES.items():
        small, med = (
            con.execute(
                f"SELECT count(DISTINCT {col}) FROM"
                f" '{d}/{table}.parquet'"
            ).fetchone()[0]
            for d in (SF_SMALL, SF_MEDIUM)
        )
        if med < _CARD_FLOOR and med <= small * 2:
            out.add(alias)
    assert "user_id" not in out, "calibration: user_id grows with SF"
    assert "brand" in out, "calibration: brand is fixed at 25"
    return frozenset(out)


def test_low_card_audit_trips_on_a_broken_plan(spark):
    """A deliberately-wrong plan — a data-scale window partitioned only
    by a 3-value key — must be flagged, or the audit is vacuous."""
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    broken = li.select(
        "l_returnflag", F.row_number().over(w).alias("rn")
    )
    v = plans.low_card_partition_violations(
        broken, set(_low_card_columns()), _BIG_MARKERS
    )
    assert v, "audit failed to flag a 3-way window over lineitem"
    # ... and the top-k filter barrier keeps the REDUCED frame usable:
    # a salted phase-1 (not flagged) capped by rank, then a narrow
    # phase-2 window over the |groups x salts x k| remainder — the
    # two-phase sampler shape must pass clean.
    ws = Window.partitionBy("l_returnflag", "_salt").orderBy(
        "l_extendedprice"
    )
    local = (
        li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(8)))
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= 5)
    )
    w2 = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    above = local.select(
        "l_returnflag", F.row_number().over(w2).alias("r2")
    )
    assert not plans.low_card_partition_violations(
        above, set(_low_card_columns()), _BIG_MARKERS
    )


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGET))
def test_plan_invariants(spark, name):
    df = q.all_queries()[name](spark, SF_SMALL)
    violations = []
    violations += plans.low_card_partition_violations(
        df, set(_low_card_columns()), _BIG_MARKERS
    )
    if plans.cartesian_count(df) != 0:
        violations.append("CartesianProduct in plan")
    if plans.row_udf_count(df) != 0:
        violations.append("row-at-a-time BatchEvalPython in plan")
    nlj = plans.nested_loop_join_count(df)
    if nlj != NLJ_WHITELIST.get(name, 0):
        violations.append(
            f"nested-loop joins: {nlj} (allowed {NLJ_WHITELIST.get(name, 0)})"
        )
    shuffles = plans.shuffle_count(df)
    if shuffles > SHUFFLE_BUDGET[name]:
        violations.append(
            f"shuffles: {shuffles} > budget {SHUFFLE_BUDGET[name]}"
        )
    assert not violations, f"{name}: {'; '.join(violations)}\n{plans.plan_text(df)}"
