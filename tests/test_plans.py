"""Physical-plan property tests: the scale guarantees the engine relies on
must hold in the actual plans, not just in docstrings. A regression here
means a silent 100×-scale cost even while results stay correct.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from financial_data_engineering_spark import plans
from financial_data_engineering_spark import queries as q
from tests.conftest import SF_MEDIUM, SF_SMALL


def _df(spark, name):
    return q.all_queries()[name](spark, SF_MEDIUM)


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = _df(spark, "high_value_parties")
    assert plans.uses_pushed_filter(df, "c_acctbal")
    assert plans.uses_pushed_filter(df, "s_acctbal")


def test_pricing_summary_pushes_date_filter_and_prunes_columns(spark):
    df = _df(spark, "pricing_summary")
    assert plans.uses_pushed_filter(df, "l_shipdate")
    (scan,) = plans.scans(df)
    # 16-column table, 7-column query: pruning must reach the reader.
    assert set(scan.read_columns) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_plan_facts_survive_an_aqe_action(spark, tmp_path):
    """After an action under AQE the formatted plan also carries the
    initial plan and its node details; the counts must read the final
    plan alone, the same before and after the action."""
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
        .orderBy("k")
    )
    assert plans.shuffle_count(df) == 2
    df.collect()
    assert plans.shuffle_count(df) == 2

    # an executed cached relation nests its own final and initial plans
    cached = spark.range(1000).repartition(3).cache()
    cached.count()
    nested = cached.groupBy((F.col("id") % 7).alias("k")).count()
    assert plans.shuffle_count(nested) == 2
    nested.collect()
    assert plans.shuffle_count(nested) == 2
    cached.unpersist()

    spark.range(100).write.parquet(str(tmp_path / "p"))
    scanned = (
        spark.read.parquet(str(tmp_path / "p"))
        .filter("id > 10")
        .groupBy((F.col("id") % 3).alias("k"))
        .count()
    )
    assert len(plans.scans(scanned)) == 1
    scanned.collect()
    assert len(plans.scans(scanned)) == 1
    assert plans.uses_pushed_filter(scanned, "id")


def test_dimension_joins_broadcast_not_shuffle(spark):
    """customer/nation are dims: the optimizer must broadcast them, and
    the whole 3-table join should cost at most one data shuffle."""
    df = _df(spark, "top_customers_by_revenue")
    assert plans.broadcast_join_count(df) >= 2
    assert plans.sortmerge_join_count(df) == 0
    assert plans.shuffle_count(df) <= 2


def test_single_pass_aggregations_have_one_shuffle(spark):
    for name in ("event_type_counts", "order_priority_share", "doc_lang_id"):
        df = _df(spark, name)
        # one aggregation shuffle (+ possibly a final sort exchange)
        assert plans.shuffle_count(df) <= 2, name


def test_map_only_queries_have_zero_shuffles(spark):
    """Per-row text stats and fingerprints are map-only until the final
    presentation sort — no aggregation exchange allowed."""
    df = _df(spark, "doc_text_stats")
    assert plans.shuffle_count(df) <= 1  # the orderBy range exchange only


def test_quality_rules_fuse_to_single_scan(spark):
    """All four compiled quality rules over lineitem must evaluate in one
    aggregate pass: exactly one scan of the table."""
    df = _df(spark, "quality_completeness_lineitem")
    assert len(plans.scans(df)) == 1


def test_whole_stage_codegen_active_on_hot_paths(spark):
    for name in ("pricing_summary", "dedup_simhash", "doc_text_stats"):
        assert plans.has_whole_stage_codegen(_df(spark, name)), name


def test_dedup_family_never_nested_loops(spark):
    """Candidate generation in every fuzzy-dedup pass must be an equi-join
    on block/band keys; a nested-loop join in any of these plans means an
    all-pairs product sneaked back in."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash_pairs"):
        df = _df(spark, name)
        assert plans.nested_loop_join_count(df) == 0, name


def test_simhash_queries_plan_shape(spark):
    """Fingerprinting is one explode + one groupBy(id) aggregation; the
    pairs query adds the band window, self-join, dedup, and presentation
    sort, but must stay within its designed exchange budget."""
    assert plans.shuffle_count(_df(spark, "dedup_simhash")) <= 2
    assert plans.shuffle_count(_df(spark, "dedup_simhash_pairs")) <= 8


def test_ngram_guard_broadcasts_hot_shingles(spark):
    """The max_doc_freq skew guard must apply as a broadcast anti-join
    (hot side is small by construction) — shuffling the whole inverted
    index against the guard would defeat it."""
    df = _df(spark, "dedup_ngram_jaccard")
    assert plans.broadcast_join_count(df) >= 1


def test_ann_queries_broadcast_the_query_side(spark):
    """Few-queries-vs-corpus searches must broadcast the query side; a
    sort-merge join here would shuffle the whole corpus for 5 probes."""
    for name in ("knn_brute_force_cosine", "ann_lsh_cosine", "ann_ivf_cosine"):
        df = _df(spark, name)
        assert plans.broadcast_join_count(df) >= 1, name
        assert plans.sortmerge_join_count(df) == 0, name


def test_embedding_gemm_runs_distributed(spark):
    """The exact pairwise-cosine kernel must appear in the plan as an
    Arrow-batched groupBy kernel (block-pair tiles on executors), and its
    scan must prune to the two needed columns — the contract that replaced
    the driver-side toPandas collect."""
    df = _df(spark, "dedup_embedding_cosine")
    assert plans.python_kernel_count(df) >= 1
    (scan,) = plans.scans(df)
    assert set(scan.read_columns) == {"vec_id", "embedding"}


@pytest.mark.parametrize(
    "name",
    [
        "knn_brute_force_cosine",
        "ann_lsh_cosine",
        "ann_ivf_cosine",
        "ann_ivfpq_rerank",
        "dedup_embedding_cosine",
        "dedup_semantic_clusters",
    ],
)
def test_vector_kernels_stay_on_arrow(spark, name):
    """Numpy kernels over an embedding column take Arrow batches
    (mapInArrow / applyInArrow); a pandas node here means vectors are
    rebuilt row by row from a pandas object series again."""
    text = plans.plan_text(q.all_queries()[name](spark, SF_SMALL))
    assert not re.search(r"MapInPandas|FlatMapGroupsInPandas", text), name


def test_asof_join_plan_stays_bounded(spark):
    """The as-of join resolves as window-over-union (or ranged equi-join),
    never a nested-loop product, within its exchange budget."""
    df = _df(spark, "events_asof_latest_order")
    assert plans.nested_loop_join_count(df) == 0
    assert plans.shuffle_count(df) <= 6


def test_star_fact_resolution_broadcasts_dimensions(spark):
    """Fact FK -> surrogate resolution joins small dims: every one must
    broadcast."""
    df = _df(spark, "fact_orders_star")
    assert plans.broadcast_join_count(df) >= 1
    assert plans.sortmerge_join_count(df) == 0


def test_partitioned_fact_sink_prunes_partitions(spark, tmp_path):
    """The dimensional layer's contract: facts hive-partitioned by
    date_key must let a date-range predicate prune at the FILE level
    (PartitionFilters on the scan), not post-scan filter."""
    from financial_data_engineering_spark.functions import date_key
    from financial_data_engineering_spark.tables import load
    from tests.conftest import SF_SMALL

    fact = load(spark, "orders", SF_SMALL).withColumn(
        "date_key", date_key(F.col("o_orderdate"))
    )
    path = str(tmp_path / "fact_orders")
    fact.write.mode("overwrite").partitionBy("date_key").parquet(path)

    back = spark.read.parquet(path).filter(F.col("date_key") == 19960102)
    (scan,) = plans.scans(back)
    assert any("date_key" in f for f in scan.partition_filters)
    assert not any("date_key" in f for f in scan.pushed_filters)
    assert "date_key" not in scan.read_columns  # partition col, not data col


def test_spread_by_is_exempt_from_aqe_coalescing(spark):
    """The pre-explode spread must carry a USER-SPECIFIED partition
    count: a bare repartition(col) is AQE-coalescible, and AQE sizes
    the coalesce from the tiny compressed shuffle-write bytes — which
    silently re-merges the spread into the single-task fan-out it
    exists to prevent (measured 3x at sf0.1, 2-2.8x at sf1; see
    reports/bench/NOTES.md round 8). The optimized plan renders the
    two forms as REPARTITION_BY_NUM vs REPARTITION_BY_COL."""
    from pyspark.sql import functions as F

    from financial_data_engineering_spark.partitioning import spread_by

    import re

    df = spark.range(0, 100).withColumn("k", F.col("id") % 7)
    plan = spread_by(df, "k")._jdf.queryExecution().optimizedPlan().toString()
    # explicit count renders as "RepartitionByExpression [k], N" — the
    # user-specified (non-coalescible) form
    assert re.search(r"RepartitionByExpression \[[^\]]+\], \d+", plan), plan
    bare = (
        df.repartition(F.col("k"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert not re.search(r"RepartitionByExpression \[[^\]]+\], \d+", bare)


def test_discount_band_revenue_is_pure_pushdown_scan(spark):
    """Q6 shape: ALL three range predicates must reach the parquet scan
    (the discount band is written as plain literals, not round()
    arithmetic, precisely for this) and the projection must prune the
    11-column table to the four referenced columns."""
    df = _df(spark, "discount_band_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert plans.uses_pushed_filter(df, col), col
    (scan,) = plans.scans(df)
    assert set(scan.read_columns) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }
    # scan + filter + 1-row global agg: one exchange, nothing else
    assert plans.shuffle_count(df) <= 1


def test_min_cost_part_suppliers_builds_bridge_once(spark):
    """Q2 shape: the correlated per-part min must ride a window over the
    one bridge aggregate — NOT a second scan of lineitem joined back on
    (partkey, cost). One lineitem scan in the whole plan is the proof."""
    df = _df(spark, "min_cost_part_suppliers")
    li_scans = [s for s in plans.scans(df) if "lineitem" in s.location]
    assert len(li_scans) == 1, plans.plan_text(df)
    # the two semijoin prunes push nothing lineitem-side (keys arrive by
    # broadcast), but projection pruning must: 3 columns of 11
    assert set(li_scans[0].read_columns) == {
        "l_partkey", "l_suppkey", "l_extendedprice",
    }


def test_late_shipment_pushes_single_table_conjuncts(spark):
    """Q12 shape: the join-straddling lag residual must not stop the
    single-table conjuncts (IN-list + ship-year range) from reaching
    the lineitem scan."""
    df = _df(spark, "late_shipment_priority_counts")
    assert plans.uses_pushed_filter(df, "l_returnflag")
    assert plans.uses_pushed_filter(df, "l_shipdate")
