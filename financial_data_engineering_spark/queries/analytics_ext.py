"""Round-5 analytics extensions: sequence analysis, time-series repair,
pivot/reshape, distributed ranking buckets, running shares, grouped top-k,
fuzzy entity matching, and relational division.

These widen the relational surface beyond the reference's pandas
expressions (reference src/transformers/*, examples/*) with the
operations its indicator/time-series domain needs next — each one
oracle-checked against DuckDB and plan-budgeted in
tests/test_plan_registry.py. Determinism rules follow registry.py:
integer-exact outputs (the ``(2*num*scale + den) div (2*den)`` idiom for
ratios), total orders before any LIMIT, aliases matched to the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_engineering_spark.operators import (
    blocked_name_match_stats,
    locf_daily_fill,
    scalable_ntile,
    transition_counts,
)
from financial_data_engineering_spark.queries.registry import register
from financial_data_engineering_spark.tables import load


@register(
    "event_transition_counts",
    oracle="""
    SELECT prev_type, next_type, count(*) AS n_transitions
    FROM (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM events
    ) t
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence (``lag`` per user, then a global pair count) — the building
    block of funnel and next-action analyses. Plan + tiebreak live in
    operators/sequences.py (shared with the streaming twin's parity test
    and the telemetry example)."""
    events = load(spark, "events", sf_dir)
    return transition_counts(events).orderBy("prev_type", "next_type")


@register(
    "user_value_gapfill",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS daily_value_e2
        FROM events
        GROUP BY 1, 2
    ),
    nxt AS (
        SELECT *,
               lead(day) OVER (PARTITION BY user_id ORDER BY day)
                   AS next_day
        FROM daily
    )
    SELECT user_id,
           CAST(gs.fill_day AS DATE) AS day,
           daily_value_e2,
           CAST(CAST(gs.fill_day AS DATE) > nxt.day AS INT) AS is_gap
    FROM nxt,
         LATERAL unnest(generate_series(
             CAST(day AS TIMESTAMP),
             CAST(coalesce(next_day - INTERVAL 1 DAY, day) AS TIMESTAMP),
             INTERVAL 1 DAY
         )) AS gs(fill_day)
    ORDER BY user_id, day
    """,
)
def user_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user value series with gaps repaired by LOCF
    (last-observation-carried-forward) over a generated calendar spine —
    the standard repair for indicator series before rolling windows.

    Plan (operators/timeseries.py): per-user-day aggregate, ``lead`` to
    find each observation's reach, then a MAP-SIDE ``sequence``+``explode``
    fill — no spine table, no spine join; the only shuffles are the
    aggregate, the user window, and the presentation sort.
    """
    events = load(spark, "events", sf_dir)
    daily = (
        events.groupBy(
            "user_id", F.col("ts").cast("date").alias("day")
        ).agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "daily_value_e2"
            )
        )
    )
    filled = locf_daily_fill(daily, "user_id", "day", ["daily_value_e2"])
    return filled.orderBy("user_id", "day")


@register(
    "orders_priority_pivot",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
               AS p1_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')
               AS p3_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')
               AS p4_not_specified,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5_low
    FROM orders
    GROUP BY 1
    ORDER BY order_year
    """,
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide reshape): order counts by year × priority.

    ``groupBy().pivot(values=...)`` with the value list DECLARED — Spark
    then skips the extra distinct-values job and compiles the pivot to a
    single pass of conditional aggregates (one shuffle on the groupBy
    key), exactly the oracle's FILTER form.
    """
    orders = load(spark, "orders", sf_dir)
    priorities = [
        "1-URGENT",
        "2-HIGH",
        "3-MEDIUM",
        "4-NOT SPECIFIED",
        "5-LOW",
    ]
    safe = {
        "1-URGENT": "p1_urgent",
        "2-HIGH": "p2_high",
        "3-MEDIUM": "p3_medium",
        "4-NOT SPECIFIED": "p4_not_specified",
        "5-LOW": "p5_low",
    }
    wide = (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("o_orderpriority", priorities)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "order_year",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(safe[p])
            for p in priorities
        ],
    ).orderBy("order_year")


@register(
    "customer_revenue_deciles",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS revenue_e2
        FROM orders
        GROUP BY 1
    ),
    tiled AS (
        SELECT revenue_e2,
               CAST(ntile(10) OVER (ORDER BY revenue_e2 DESC, o_custkey)
                   AS BIGINT) AS decile
        FROM rev
    )
    SELECT decile,
           count(*) AS n_customers,
           CAST(sum(revenue_e2) AS BIGINT) AS total_revenue_e2,
           min(revenue_e2) AS min_revenue_e2,
           max(revenue_e2) AS max_revenue_e2
    FROM tiled
    GROUP BY decile
    ORDER BY decile
    """,
)
def customer_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles — NTILE(10) computed WITHOUT the
    single-partition window (operators/ids.py scalable_ntile: range
    partitions + driver offsets + remainder arithmetic), so the ranking
    step distributes at any |customers|.

    The sort key is (revenue DESC, custkey) made ascending by negation —
    range partitioning and per-partition ranks then reproduce the global
    order exactly.
    """
    orders = load(spark, "orders", sf_dir)
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_e2"
        )
    )
    keyed = rev.withColumn("_neg_rev", -F.col("revenue_e2"))
    tiled = scalable_ntile(
        keyed, ["_neg_rev", "o_custkey"], 10, bucket_name="decile"
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("revenue_e2").alias("total_revenue_e2"),
            F.min("revenue_e2").alias("min_revenue_e2"),
            F.max("revenue_e2").alias("max_revenue_e2"),
        )
        .orderBy("decile")
    )


@register(
    "nation_revenue_running_share",
    oracle="""
    WITH nat_rev AS (
        SELECT n_name,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS revenue_e2
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    )
    SELECT n_name,
           revenue_e2,
           CAST(sum(revenue_e2) OVER (
               ORDER BY revenue_e2 DESC, n_name
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_revenue_e2,
           CAST((2 * CAST(sum(revenue_e2) OVER (
                     ORDER BY revenue_e2 DESC, n_name
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS HUGEINT) * 1000000 + sum(revenue_e2) OVER ())
                // (2 * sum(revenue_e2) OVER ()) AS BIGINT)
               AS cum_share_e6
    FROM nat_rev
    ORDER BY revenue_e2 DESC, n_name
    """,
)
def nation_revenue_running_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto / cumulative-share analysis: nations by revenue with a
    running share of total (share_e6, engine-exact integer rounding).

    The unpartitioned windows run over the AGGREGATED frame — |nations|
    rows, a constant — so the one-partition window is control-plane-sized
    by construction, unlike a raw-data global window. Customer attaches
    without a broadcast hint — it grows with SF, so the choice belongs to
    the size estimator/AQE (auto-broadcast through ~sf10 at two columns,
    shuffle join beyond); nation stays hinted (constant 25 rows). One
    shuffle for the nation aggregate. The cumulative numerator is widened
    to DECIMAL(38,0) before the *1e6 scale-up: cumulative e2 revenue
    crosses the int64 ceiling near SF 0.2, where non-ANSI Spark would wrap
    silently while the DuckDB oracle (HUGEINT) stays exact.
    """
    orders = load(spark, "orders", sf_dir)
    customer = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    nat_rev = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_e2"
            )
        )
    )
    # Both windows are unpartitioned on purpose: nat_rev holds one row per
    # nation (25), whatever the scale factor.
    w_cum = Window.orderBy(
        F.col("revenue_e2").desc(), "n_name"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return (
        nat_rev.withColumn("cum_revenue_e2", F.sum("revenue_e2").over(w_cum))
        .withColumn("_total", F.sum("revenue_e2").over(w_all))
        .select(
            "n_name",
            "revenue_e2",
            "cum_revenue_e2",
            F.expr(
                "CAST((2 * CAST(cum_revenue_e2 AS DECIMAL(38,0)) * 1000000"
                " + _total) div (2 * _total) AS BIGINT)"
            ).alias("cum_share_e6"),
        )
        .orderBy(F.col("revenue_e2").desc(), "n_name")
    )


@register(
    "top_parts_per_nation",
    oracle="""
    WITH part_rev AS (
        SELECT s_nationkey,
               l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                   AS BIGINT) AS revenue_e2
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT n_name,
               l_partkey,
               revenue_e2,
               row_number() OVER (
                   PARTITION BY s_nationkey
                   ORDER BY revenue_e2 DESC, l_partkey
               ) AS rank
        FROM part_rev
        JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT n_name, CAST(rank AS INT) AS rank, l_partkey, revenue_e2
    FROM ranked
    WHERE rank <= 3
    ORDER BY n_name, rank
    """,
)
def top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (k=3): highest-revenue parts per supplier nation.
    Generalizes the argmax-per-group operator (k=1) the reference's
    latest-per-group pattern uses.

    Supplier (SF-scaling, two columns — unhinted so the size estimator/
    AQE picks broadcast while it fits and a shuffle join beyond) and
    nation (hinted, constant) attach before one shuffle for the
    (nation, part) aggregate, one for the per-nation rank window —
    whose partition count is |nations|, so the window never concentrates
    raw data.
    """
    lineitem = load(spark, "lineitem", sf_dir)
    supplier = load(spark, "supplier", sf_dir)
    nation = load(spark, "nation", sf_dir)
    part_rev = (
        lineitem.join(
            supplier.select("s_suppkey", "s_nationkey"),
            lineitem.l_suppkey == supplier.s_suppkey,
        )
        .groupBy("s_nationkey", "l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("revenue_e2")
        )
    )
    # Two-phase salted top-k (round 8): the nation key has ~25 values,
    # so a single nation-partitioned rank window would sort the whole
    # |nations x parts| aggregate in 25 tasks; phase 1 ranks within
    # (nation, xxhash64(part) salt) — uniform spread — and phase 2
    # re-ranks only |nations x salts x 3| rows (the global top-3 is
    # contained in the union of local top-3s under the same order).
    order = [F.col("revenue_e2").desc(), F.col("l_partkey")]
    salt = F.pmod(F.xxhash64(F.col("l_partkey")), F.lit(32))
    w1 = Window.partitionBy("s_nationkey", "_salt").orderBy(*order)
    local = (
        part_rev.withColumn("_salt", salt)
        .withColumn("rank", F.row_number().over(w1))
        .filter(F.col("rank") <= 3)
        .drop("_salt", "rank")
    )
    w2 = Window.partitionBy("s_nationkey").orderBy(*order)
    return (
        local.join(
            F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 3)
        .select("n_name", "rank", "l_partkey", "revenue_e2")
        .orderBy("n_name", "rank")
    )


@register(
    "part_fuzzy_name_blocks",
    oracle="""
    WITH names AS (
        SELECT split_part(p_name, ' ', 2) AS noun,
               p_name AS name,
               count(*) AS cnt
        FROM part
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.noun,
               levenshtein(a.name, b.name) AS d,
               a.cnt AS c1,
               b.cnt AS c2
        FROM names a
        JOIN names b ON a.noun = b.noun AND a.name < b.name
    ),
    base AS (
        SELECT noun,
               CAST(sum(cnt) AS BIGINT) AS n_records,
               count(*) AS n_names,
               CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS n_exact_pairs
        FROM names
        GROUP BY 1
    ),
    close AS (
        SELECT noun,
               count(*) AS n_close_names,
               CAST(sum(c1 * c2) AS BIGINT) AS n_close_pairs
        FROM pairs
        WHERE d <= 3
        GROUP BY 1
    )
    SELECT base.noun,
           n_records,
           n_names,
           n_exact_pairs,
           CAST(coalesce(n_close_names, 0) AS BIGINT) AS n_close_names,
           CAST(coalesce(n_close_pairs, 0) AS BIGINT) AS n_close_pairs
    FROM base
    LEFT JOIN close USING (noun)
    ORDER BY noun
    """,
)
def part_fuzzy_name_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching (record linkage) over part names: block on
    the name's noun, collapse to DISTINCT names, Levenshtein-compare only
    within blocks, and recover record-pair counts arithmetically from
    name multiplicities (operators/entity.py).

    The distinct-collapse is the scale move: the benchmark corpus has
    2,000 parts but 64 distinct names, so the quadratic comparison runs
    on dozens of rows, not millions of record pairs; a block-size guard
    refuses degenerate blocking keys.
    """
    part = load(spark, "part", sf_dir)
    records = part.select(
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
        F.col("p_name"),
    )
    stats = blocked_name_match_stats(
        records, "noun", "p_name", max_dist=3
    )
    return stats.orderBy("noun")


@register(
    "nations_full_priority_coverage",
    oracle="""
    SELECT n_name,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1
    HAVING count(DISTINCT o_orderpriority) =
           (SELECT count(DISTINCT o_orderpriority) FROM orders)
    ORDER BY n_name
    """,
)
def nations_full_priority_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Relational division: nations whose customers have placed orders at
    EVERY priority level that exists anywhere (the "suppliers of all
    parts" classic, via distinct-count equality).

    The divisor cardinality attaches as an EQUI-join on the computed
    count — a 1-row broadcast hash join, not a nested-loop cross join —
    so the plan keeps the repo-wide no-NLJ invariant.
    """
    orders = load(spark, "orders", sf_dir)
    customer = load(spark, "customer", sf_dir)
    nation = load(spark, "nation", sf_dir)
    per_nation = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count_distinct("o_orderpriority").alias("n_priorities"))
    )
    total = orders.agg(
        F.count_distinct("o_orderpriority").alias("_total_priorities")
    )
    return (
        per_nation.join(
            F.broadcast(total),
            per_nation.n_priorities == total._total_priorities,
        )
        .select("n_name", "n_priorities")
        .orderBy("n_name")
    )


@register(
    "part_brand_vwap",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST((2 * sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         * CAST(l.l_quantity AS BIGINT))
                 + sum(CAST(l.l_quantity AS BIGINT)))
                // (2 * sum(CAST(l.l_quantity AS BIGINT))) AS BIGINT)
               AS vwap_e2
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    ORDER BY brand
    """,
)
def part_brand_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per brand — the VWAP every
    financial-data stack computes, done integer-exact: price is 2dp by
    construction, so round(price·100)·qty is an exact e2·unit long per
    item; the weighted mean is one half-up division of two exact sums.
    One shuffle for the brand aggregate after the part dimension attaches
    (unhinted — the size estimator/AQE broadcasts while part fits).
    Int64 headroom: per-brand e2·qty sums reach ~2e17 near SF 1e5."""
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    qty = F.col("l_quantity").cast("long")
    px_qty = F.round(F.col("l_extendedprice") * 100).cast("long") * qty
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(qty).alias("total_qty"),
            F.sum(px_qty).alias("_pxq"),
        )
        .select(
            "brand",
            "total_qty",
            F.expr("(2 * _pxq + total_qty) div (2 * total_qty)").alias(
                "vwap_e2"
            ),
        )
        .orderBy("brand")
    )


@register(
    "customer_order_gaps",
    oracle="""
    WITH gaps AS (
        SELECT c.c_mktsegment AS segment,
               date_diff('day',
                   lag(o.o_orderdate) OVER (
                       PARTITION BY o.o_custkey
                       ORDER BY o.o_orderdate, o.o_orderkey),
                   o.o_orderdate) AS gap_days
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment,
           count(*) AS n_gaps,
           CAST(min(gap_days) AS BIGINT) AS min_gap,
           CAST(max(gap_days) AS BIGINT) AS max_gap,
           CAST((2 * sum(CAST(gap_days AS BIGINT)) * 100 + count(*))
                // (2 * count(*)) AS BIGINT) AS avg_gap_e2
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY segment
    ORDER BY segment
    """,
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution per market segment: the re-order
    cadence metric (churn/retention's raw material). One per-customer lag
    window (orderkey tiebreak for same-day orders), exact integer day
    arithmetic, then a segment rollup with the half-up e2 mean. Two
    shuffles: the custkey window and the |segments|-ary aggregate; the
    customer dimension attaches unhinted (estimator/AQE chooses)."""
    orders = load(spark, "orders", sf_dir)
    customer = load(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        gaps.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_days").cast("long").alias("min_gap"),
            F.max("gap_days").cast("long").alias("max_gap"),
            F.expr(
                "(2 * sum(CAST(gap_days AS BIGINT)) * 100 + count(*))"
                " div (2 * count(*))"
            ).alias("avg_gap_e2"),
        )
        .orderBy("segment")
    )


@register(
    "user_value_twap",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS v_e2,
               epoch_us(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id))
                 - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_segments,
           CAST(sum(dur_us) AS BIGINT) AS span_us,
           CAST((2 * sum(CAST(v_e2 AS HUGEINT) * dur_us) + sum(dur_us))
                // (2 * sum(dur_us)) AS BIGINT) AS twap_e2
    FROM seg
    WHERE dur_us IS NOT NULL AND dur_us > 0
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_value_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user — TWAP, the canonical
    financial time-series aggregate (each observation holds until the
    next one; zero-duration segments drop, the open last segment has no
    weight). Integer-exact end to end: 2dp values scale to e2 longs,
    durations are exact epoch-microsecond differences, and the weighted
    mean is one half-up division of two exact sums. The value-time area
    accumulates in DECIMAL(38,0) — MEASURED necessity, not caution: the
    round-7 sf1-scale replica run (reports/gate/
    r07_local_sf1_strict_spot.log; tools/make_scaled_sf.py stretches
    per-user histories to ~12 years) overflowed the original int64
    ``sum(v_e2 * dur_us)`` in ANSI mode, since one multi-year segment
    at e5 values already reaches ~3e19. The widening starts BEFORE the
    per-segment multiply (the product itself is what overflows first);
    DuckDB agrees because its BIGINT sum is int128 (HUGEINT) natively —
    the oracle now widens its product explicitly too. Output stays
    BIGINT (a TWAP is value-scale). One shuffle for the per-user lead
    window; the rollup reuses its partitioning."""
    events = load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    seg = events.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
        (F.lead(us).over(w) - us).alias("dur_us"),
    )
    return (
        seg.filter(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur_us").alias("span_us"),
            F.expr(
                "CAST((2 * sum(CAST(v_e2 AS DECIMAL(38,0)) * dur_us)"
                " + sum(dur_us))"
                " div (2 * sum(dur_us)) AS BIGINT)"
            ).alias("twap_e2"),
        )
        .orderBy("user_id")
    )
