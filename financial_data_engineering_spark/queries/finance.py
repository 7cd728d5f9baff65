"""Financial bar/band queries: OHLC bars, rolling Bollinger-style band
breaches, EWMA fixed-point bands, and maximum drawdown — the market-data
depth on top of round 6's VWAP/TWAP/gap aggregates (analytics_ext.py).

The reference's argmax-per-group shape (reference
examples/multi_source_pipeline.py:114) is the kernel of all of these:
open/close are argmin/argmax over an event-time total order, and the
band/drawdown queries compare each tick against statistics of its own
past. Everything follows the registry's integer-exactness rule — prices
enter as e2 longs, every derived quantity is int64 arithmetic (squared-
inequality forms instead of sqrt, half-up fixed-point division instead
of float EWMA), so DuckDB replays every bit.

Event-time order: ticks order by the NATIVE integer quadruple
(epoch_us(shipdate), orderkey, linenumber, px). The px tiebreak is
LOAD-BEARING: the synthetic lineitem does NOT keep (orderkey,
linenumber) unique (118k duplicated groups at sf0.1, 3 of them within
one brand with differing prices — found live as a one-tick n_up/n_down
flip in the returns oracle), so the timestamp triple alone is not a
total order. With px appended, rows that still tie are identical in
every field these queries read (brand, time, price; volume only enters
order-independent sums), so any residual order is interchangeable —
determinism by value-equivalence rather than by key uniqueness. Spark
takes the quadruple as a struct (min_by/max_by and array_sort order
structs field-by-field); DuckDB takes it as aggregate/window ORDER BY
clauses (its arg_min has no composite form, but first/last and list()
accept ORDER BY). Round-7 measurement: the first cut packed the triple into a
zero-padded 34-char string, and building + comparing those strings cost
~2.5x the whole aggregate (2.4-3.1 s vs 0.9-1.0 s at sf0.1 for the OHLC
query) — per-row string construction on the 100 TB side of a plan is a
scan tax; native ints stay in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_engineering_spark.operators.finance import (
    BAND_K,
    ROLL_MIN,
    ROLL_N,
    ewma_band_fold,
    ohlc_bars,
)
from financial_data_engineering_spark.partitioning import (
    make_scratch_dir,
    materialize as materialize_df,
    remove_scratch_dir,
    spread_by,
)
from financial_data_engineering_spark.queries.registry import register
from financial_data_engineering_spark.tables import load

#: EWMA segmented-replay bound: no key's tick history is ever collected
#: into an array longer than this. 2^16 five-long-field structs is
#: ~2.5 MB per segment — a hard per-key executor-memory bound that
#: holds at ANY data volume (the r7 verdict's one scale-killer was the
#: unbounded per-brand collect_list on a 25-value key). At sf0.1 and
#: below every key fits in one segment, so the bench plan is the
#: single-shuffle fold; above it the replay is not just bounded but
#: FASTER — the per-segment array sorts shrink and parallelize across
#: (key, segment) pairs (measured at the sf1 replica: 25-brand
#: single-fold 17.4 s vs 4-segment replay 10.1 s, outputs
#: bit-identical).
EWMA_SEG_N = 1 << 16

#: Shared tick view of lineitem x part: the event-time order triple as
#: native integers, the month as a truncated DATE (formatted to string
#: only on the |bars|-row output side — round-7 measurement: date_format
#: on the 600k-row input side cost ~12% of the OHLC aggregate).
_LI_SEQ_SQL = """
        SELECT p.p_brand AS brand,
               date_trunc('month', l.l_shipdate) AS bar_m,
               epoch_us(l.l_shipdate) AS us,
               l.l_orderkey AS okey,
               l.l_linenumber AS lineno,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS px,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
"""

_EV_SEQ_SQL = """
        SELECT user_id,
               epoch_us(ts) AS us,
               event_id AS eid,
               CAST(round(value * 100) AS BIGINT) AS px
        FROM events
"""


def _li_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, bar_m, o=struct(us, okey, lineno), px, qty) tick view of
    lineitem — the Spark twin of _LI_SEQ_SQL with the order triple
    pre-packed as a struct column for min_by/array_sort/window use."""
    li = load(spark, "lineitem", sf_dir)
    part = load(spark, "part", sf_dir).select("p_partkey", "p_brand")
    return li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.trunc("l_shipdate", "month").alias("bar_m"),
        F.struct(
            F.unix_micros("l_shipdate").alias("us"),
            F.col("l_orderkey").alias("okey"),
            F.col("l_linenumber").cast("long").alias("lineno"),
            # px tiebreak — see module docstring (the triple alone is
            # NOT unique in this data)
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("tb"),
        ).alias("o"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("px"),
        F.col("l_quantity").cast("long").alias("qty"),
    )


def events_seq(ev: DataFrame) -> DataFrame:
    """(user_id, o=struct(us, eid), px) view of an events frame, batch
    or streaming."""
    return ev.select(
        "user_id",
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
        ).alias("o"),
        F.round(F.col("value") * 100).cast("long").alias("px"),
    )


def _ev_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events_seq`` of the events table."""
    return events_seq(load(spark, "events", sf_dir))


def events_ohlc(ev: DataFrame) -> DataFrame:
    """Lifetime OHLC bar of each user's e2 values over an events frame:
    ONE grouped aggregate, ``ohlc_bars`` keyed by the (us, eid) struct,
    with ``sum_e2`` riding the same aggregate. The batch query and the
    streaming twin (streaming/stateful.py ``running_ohlc``) both run
    exactly this."""
    return ohlc_bars(
        events_seq(ev),
        ["user_id"],
        "o",
        "px",
        extra_aggs=[F.sum("px").alias("sum_e2")],
    ).withColumnRenamed("n_trades", "n_events")


_EWMA_REDUCE_SQL = """
               list_reduce(
                   list(struct_pack(
                       n_above := CAST(0 AS BIGINT),
                       n_below := CAST(0 AS BIGINT),
                       dev := CAST(0 AS BIGINT),
                       ewma := px,
                       n := CAST(1 AS BIGINT)) ORDER BY {order}),
                   (acc, x) -> struct_pack(
                       n_above := acc.n_above + CASE
                           WHEN x.ewma > acc.ewma + {k} * acc.dev
                           THEN 1 ELSE 0 END,
                       n_below := acc.n_below + CASE
                           WHEN x.ewma < acc.ewma - {k} * acc.dev
                           THEN 1 ELSE 0 END,
                       dev := (abs(x.ewma - acc.ewma) + 7 * acc.dev + 4)
                              // 8,
                       ewma := (x.ewma + 7 * acc.ewma + 4) // 8,
                       n := acc.n + 1)
               )
"""


def _ewma_segment_replay(
    segs: DataFrame, key: str, n_seg: int
) -> DataFrame:
    """Chained exact replay over the seg-partitioned scratch table:
    fold segment 0's (bounded, sorted) px arrays, then carry the O(1)
    state struct into each later segment's fold via
    ``ewma_band_fold(..., init=state)``. Bit-identical to one long fold
    — the recurrence is a left fold, so chunked evaluation composes —
    while per-key memory is capped at ``seg_n`` structs regardless of
    data volume. Ties in the rank order can split across segments in
    either order; safe because fully-tied rows are value-identical
    (module docstring: determinism by value-equivalence).

    Cost shape: ceil(max_history / seg_n) tiny |keys|-row join steps
    chain the state (each reading ONLY its own seg=i parquet directory
    — partition pruning), materialize() every few steps to bound
    lineage (the dedup fixpoint's pattern). The sequential step count
    is inherent to the recurrence — no engine folds one symbol's
    history in sublinear time; the parallel axis is across keys. The
    RETURNED state is always materialized (the last iteration, or the
    seg-0 fold when n_seg == 1), so the caller may delete the scratch
    directory as soon as this returns."""
    state = materialize_df(
        segs.filter(F.col("seg") == 0)
        .select(key, ewma_band_fold(F.col("pxs")).alias("st"))
    )
    for i in range(1, n_seg):
        nxt = segs.filter(F.col("seg") == i).select(key, "pxs")
        state = state.join(nxt, key, "left").select(
            key,
            F.when(F.col("pxs").isNull(), F.col("st"))
            .otherwise(ewma_band_fold(F.col("pxs"), init=F.col("st")))
            .alias("st"),
        )
        if i % 8 == 0 or i == n_seg - 1:
            state = materialize_df(state)
    return state


def _ewma_select(
    df: DataFrame, key: str, n_alias: str, seg_n: int = EWMA_SEG_N
) -> DataFrame:
    """Fold each group's time-sorted px history and expand the final
    state struct, with per-key memory hard-capped at ``seg_n`` ticks.

    ONE path, no plan-choice probe (the round-8 version paid a full
    groupBy-count pass over the tick table per call just to pick
    single-fold vs segmented — an extra full scan at 100 TB, and the
    sf1 measurement showed the segmented path is faster whenever >1
    segment and equivalent at 1): rank ticks per key in event-time
    order, cut the rank into fixed-size segments, and materialize the
    (key, seg, pxs) table ONCE as seg-partitioned scratch parquet.
    ``n_seg`` then comes from the partition directories (metadata-only
    — the probe's answer, free), segment 0 folds directly, and any
    later segments chain through ``_ewma_segment_replay`` with each
    step reading only its own seg=i directory (pruning measured at sf10,
    37 segments x 60M rows: 87.6 -> 82.2 s vs cache-filter re-scans,
    and the removed re-scan term grows n_seg^2 x data while the fold
    grows linearly). The honest scale answer for unbounded per-key
    history remains the streaming twin's O(1) state.

    The collected elements are FLAT structs (order fields + px,
    compared field-by-field by array_sort) — round-7 measurement at
    sf0.1: sorting 24k-element arrays of flat structs runs 1.7 s where
    nested (o-struct, px) elements take 6.5 s and the original string
    keys 3.4 s; struct comparison cost is per-level, so keep sort
    elements one level deep.

    The scratch dir is uuid-unique per invocation (concurrent or
    repeated calls in one app never share a directory), lives on the
    conf-pointed shared store off-local (partitioning.make_scratch_dir),
    and is removed in a ``finally`` — safe because the replay's return
    is always materialized."""
    spark = df.sparkSession
    ord_fields = df.schema["o"].dataType.fieldNames()
    flat = F.struct(
        *[F.col(f"o.{f}").alias(f) for f in ord_fields],
        F.col("px").alias("px"),
    )
    w = Window.partitionBy(key).orderBy(
        *[F.col(f"o.{f}") for f in ord_fields], "px"
    )
    seg = F.call_function("div", F.row_number().over(w) - 1, F.lit(seg_n))
    path = make_scratch_dir(spark, "fdes_ewma_segs_")
    try:
        (
            df.select(key, seg.alias("seg"), flat.alias("t"))
            .groupBy(key, "seg")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list("t")), lambda t: t["px"]
                ).alias("pxs")
            )
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(path)
        )
        segs = spark.read.parquet(path)
        # seg is a partition column: max() resolves from directory
        # listing, no data read — this replaces the old probe scan.
        n_seg = segs.agg(F.max("seg")).collect()[0][0] + 1
        folded = _ewma_segment_replay(segs, key, n_seg)
    finally:
        remove_scratch_dir(spark, path)
    return (
        folded.select(
            key,
            F.col("st.n").alias(n_alias),
            F.col("st.ewma").alias("ewma_e2"),
            F.col("st.dev").alias("dev_e2"),
            F.col("st.n_above").alias("n_above"),
            F.col("st.n_below").alias("n_below"),
        )
        .orderBy(key)
    )


@register(
    "part_brand_ohlc_monthly",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL})
    SELECT brand,
           strftime(bar_m, '%Y-%m') AS bar_month,
           first(px ORDER BY us, okey, lineno, px) AS open_e2,
           max(px) AS high_e2,
           min(px) AS low_e2,
           last(px ORDER BY us, okey, lineno, px) AS close_e2,
           count(*) AS n_trades,
           CAST(sum(qty) AS BIGINT) AS volume
    FROM seq
    GROUP BY brand, bar_m
    ORDER BY brand, bar_month
    """,
)
def part_brand_ohlc_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly OHLC bars per brand — the canonical market-data rollup,
    as ONE grouped aggregate (operators/finance.py ohlc_bars): min_by/
    max_by carry (order-struct, price) pairs through map-side partial
    aggregation, so 100 TB of ticks shuffles only |brands x months| bar
    rows — no window, no self-join, and the O(1) bar state is the same
    associative merge the streaming twin folds in state. Single data
    shuffle (the bar groupBy; part attaches unhinted — estimator/AQE
    broadcasts while it fits) plus the presentation sort. The month
    formats to string on the |bars| side only; the order key is the
    native integer triple (module docstring: the string-key first cut
    cost ~2.5x)."""
    bars = ohlc_bars(
        _li_seq(spark, sf_dir),
        ["brand", "bar_m"],
        "o",
        "px",
        size_col="qty",
    )
    return bars.select(
        "brand",
        F.date_format("bar_m", "yyyy-MM").alias("bar_month"),
        "open_e2",
        "high_e2",
        "low_e2",
        "close_e2",
        "n_trades",
        "volume",
    ).orderBy("brand", "bar_month")


@register(
    "user_value_ohlc",
    oracle=f"""
    WITH seq AS ({_EV_SEQ_SQL})
    SELECT user_id,
           first(px ORDER BY us, eid) AS open_e2,
           max(px) AS high_e2,
           min(px) AS low_e2,
           last(px ORDER BY us, eid) AS close_e2,
           count(*) AS n_events,
           CAST(sum(px) AS BIGINT) AS sum_e2
    FROM seq GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime OHLC of each user's event values — ``events_ohlc`` over
    the events table. Its streaming twin, streaming/stateful.py
    running_ohlc, IS ``events_ohlc`` over the stream: the same single
    aggregate, whose merge is associative and commutative, so the
    stream reproduces these rows exactly from ANY arrival order (a
    stronger guarantee than the TWAP twin's ordered replay). Values may
    be negative (the order key is the (ts, event_id) struct, not the
    value)."""
    return events_ohlc(load(spark, "events", sf_dir)).orderBy("user_id")


@register(
    "part_brand_rolling_band",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL}),
    stats AS (
        SELECT brand, px,
               count(px) OVER w AS n,
               sum(px) OVER w AS s,
               sum(px * px) OVER w AS ss
        FROM seq
        WINDOW w AS (PARTITION BY brand ORDER BY us, okey, lineno, px
                     ROWS BETWEEN {ROLL_N} PRECEDING AND 1 PRECEDING)
    ),
    flags AS (
        SELECT brand,
               CASE WHEN n >= {ROLL_MIN} THEN 1 ELSE 0 END AS eval,
               CASE WHEN n >= {ROLL_MIN} AND n * px - s > 0
                     AND (n * px - s) * (n * px - s)
                         > {BAND_K * BAND_K} * (n * ss - s * s)
                    THEN 1 ELSE 0 END AS above,
               CASE WHEN n >= {ROLL_MIN} AND n * px - s < 0
                     AND (n * px - s) * (n * px - s)
                         > {BAND_K * BAND_K} * (n * ss - s * s)
                    THEN 1 ELSE 0 END AS below
        FROM stats
    )
    SELECT brand,
           count(*) AS n_ticks,
           CAST(sum(eval) AS BIGINT) AS n_eval,
           CAST(sum(above) AS BIGINT) AS n_above,
           CAST(sum(below) AS BIGINT) AS n_below
    FROM flags GROUP BY brand ORDER BY brand
    """,
)
def part_brand_rolling_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling price-band breach counter (Bollinger shape) per brand:
    each tick is compared against mean +/- K*sigma of the previous
    ROLL_N ticks — entirely in int64 via the squared inequality
    ``(n*x - S)^2 > K^2 * (n*SS - S^2)`` (both sides are n^2 times the
    float form; no sqrt, no division, no float ever), with sign checks
    picking the breach direction. Pairs with audits.py's RANGE-frame
    rolling 7d: ROWS frame here because tick bands are count-based.

    MONTH-SEGMENTED in ONE PASS (the fixed-cardinality-key fix the
    drawdown documents, adapted to a bounded ROWS frame): a single
    (brand, month)-partitioned window pass — parallelism |brands x
    months|, one exchange, one sort — computes the in-month rolling
    frame, which is complete and final for every row past position
    ROLL_N (the data-scale bulk), plus each month's first/last <=ROLL_N
    ticks as rank-selected bounded arrays (calendar-bounded: |brands x
    months x ROLL_N| elements at ANY data volume). Only those head rows
    can see across a month boundary; their flags are settled in a
    per-brand Arrow fold over the month frame that threads the
    last-ROLL_N-of-the-prior-stream carry (a sparse month's frame
    reaches past its predecessor, so the carry CHAINS) in exact Python
    ints. Replaces the round-8 ghost-row design, which re-injected
    carry rows into the full stream and re-windowed the whole corpus a
    second time: two scans of the tick join, two full-data exchanges,
    two sorts -> one of each (sf10 replica, warm same-session pairs:
    22.5 -> 17.1 s). Int64 headroom: px <= 1e7
    (e2 of a 1e5 price cap), so n*SS <= 20 * 20 * 1e14 = 4e16 and the
    squared diff <= 4e16 — three orders under int64 at any SF (bounds
    set by the price domain and ROLL_N, not by data volume). Identical
    rows at sf0.01/sf0.1/sf1."""
    return _rolling_band_segmented(_li_seq(spark, sf_dir))


def _rolling_band_segmented(seq: DataFrame, key: str = "brand") -> DataFrame:
    """ONE-PASS month-segmented rolling band over a (key, bar_m,
    o-struct, px) tick frame — the part_brand_rolling_band body, seq-
    parameterized so the property suite can replay it on synthetic
    ticks against a pure-Python reference (the oracle gates pin the
    three fixed datasets; random ticks cover sub-ROLL_N months and
    boundary shapes they cannot).

    The round-8 version materialized ghost ROWS and re-windowed the
    whole corpus a second time — two scans of the tick join, two
    full-data exchanges, two sorts. This version exploits that only a
    month's first ROLL_N ticks can see across the boundary: ONE window
    pass (partitioned (key, month), one exchange, one sort) computes
    both the in-month rolling frame — complete and final for every row
    past position ROLL_N ("body" rows, the data-scale bulk) — and the
    per-month head/tail px arrays (rank-selected, <= ROLL_N elements
    each, CALENDAR-bounded: |keys x months x ROLL_N| regardless of data
    volume). The month rollup reuses the window's hash partitioning (no
    second exchange); head-row flags are then evaluated inside a
    per-key ordered fold over the month structs, threading the
    last-ROLL_N-of-the-prior-stream carry exactly as before (a sparse
    month's frame reaches past its predecessor, so the carry CHAINS).
    All arithmetic stays int64; the fold touches <= |keys| x |months| x
    ROLL_N elements — control-plane work at any SF."""
    ord_fields = seq.schema["o"].dataType.fieldNames()
    ord_cols = [F.col(f"o.{f}") for f in ord_fields]
    flat = F.struct(
        *[F.col(f"o.{f}").alias(f) for f in ord_fields],
        F.col("px").alias("px"),
    )
    px = F.col("px")
    w_o = Window.partitionBy(key, "bar_m").orderBy(*ord_cols)
    w_p = Window.partitionBy(key, "bar_m")
    w_roll = w_o.rowsBetween(-ROLL_N, -1)
    # spread_by pins the (key, month) exchange at full shuffle width
    # before the window cascade: the tick frame's shuffle is ~26 MB at
    # sf0.1, so AQE's bytes-based coalescing merged the CPU-heavy
    # window stage to ~16 tasks on 32 cores; the explicit width is the
    # exchange the window needs anyway, so nothing is added.
    ranked = spread_by(seq, key, "bar_m").select(
        key,
        "bar_m",
        px,
        flat.alias("f"),
        F.row_number().over(w_o).alias("rn"),
        F.count(F.lit(1)).over(w_p).alias("cnt"),
        F.count(px).over(w_roll).alias("n0"),
        F.sum(px).over(w_roll).alias("s0"),
        F.sum(px * px).over(w_roll).alias("ss0"),
    )
    # Body rows (rn > ROLL_N): the in-month frame IS the global frame.
    n, s, ss = F.col("n0"), F.col("s0"), F.col("ss0")
    eligible = (F.col("rn") > ROLL_N) & (n >= ROLL_MIN)
    diff = n * px - s
    breach = diff * diff > F.lit(BAND_K * BAND_K) * (n * ss - s * s)
    months = ranked.groupBy(key, "bar_m").agg(
        F.count(F.lit(1)).alias("m_ticks"),
        F.sum(eligible.cast("long")).alias("b_eval"),
        F.sum((eligible & (diff > 0) & breach).cast("long")).alias("b_above"),
        F.sum((eligible & (diff < 0) & breach).cast("long")).alias("b_below"),
        # collect_list skips the NULLs F.when leaves on non-matching
        # rows, so both bounded arrays assemble in this same aggregate
        F.transform(
            F.array_sort(
                F.collect_list(F.when(F.col("rn") <= ROLL_N, F.col("f")))
            ),
            lambda t: t["px"],
        ).alias("head"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") > F.col("cnt") - ROLL_N, F.col("f"))
                )
            ),
            lambda t: t["px"],
        ).alias("tail"),
    )
    # The cross-month carry fold runs as one Arrow batch per key: its
    # input is the calendar-bounded month frame (|keys x months| rows,
    # each holding two <=ROLL_N arrays), its math is pure Python ints
    # (exact — the same squared inequality), and its state is the last
    # <=ROLL_N px of the stream so far. An expression-tree formulation
    # was tried first and rejected by measurement: the triple-nested
    # array fold re-substitutes every let-bound operand, and Catalyst
    # spent ~25 s PER LINEAGE walking the blown-up tree (execution
    # itself was 0.4 s) — the inlining failure mode ivf_assignments
    # documents, at plan time instead of run time.
    import pandas as pd

    kt = dict(seq.dtypes)[key]
    schema = (
        f"{key} {kt}, n_ticks long, n_eval long, n_above long,"
        " n_below long"
    )
    k2 = BAND_K * BAND_K

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("bar_m")
        carry: list[int] = []
        e = a = b = 0
        for head, tail in zip(pdf["head"], pdf["tail"]):
            for i, pxi in enumerate(head):
                frame = (carry + [int(v) for v in head[:i]])[-ROLL_N:]
                nn = len(frame)
                if nn < ROLL_MIN:
                    continue
                e += 1
                si = sum(frame)
                ssi = sum(v * v for v in frame)
                di = nn * int(pxi) - si
                if di * di > k2 * (nn * ssi - si * si):
                    if di > 0:
                        a += 1
                    elif di < 0:
                        b += 1
            carry = (carry + [int(v) for v in tail])[-ROLL_N:]
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_ticks": [int(pdf["m_ticks"].sum())],
                "n_eval": [int(pdf["b_eval"].sum()) + e],
                "n_above": [int(pdf["b_above"].sum()) + a],
                "n_below": [int(pdf["b_below"].sum()) + b],
            }
        )

    return months.groupBy(key).applyInPandas(fold, schema=schema).orderBy(key)


@register(
    "part_brand_ewma_band",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL}),
    folded AS (
        SELECT brand,
               {_EWMA_REDUCE_SQL.format(order="us, okey, lineno, px", k=BAND_K)}
               AS st
        FROM seq GROUP BY brand
    )
    SELECT brand,
           st.n AS n_ticks,
           st.ewma AS ewma_e2,
           st.dev AS dev_e2,
           st.n_above AS n_above,
           st.n_below AS n_below
    FROM folded ORDER BY brand
    """,
)
def part_brand_ewma_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA price band per brand via an integer-exact FIXED-POINT
    RECURRENCE (operators/finance.py): ewma' = (x + 7*ewma + 4) div 8
    (alpha = 1/8, half-up), dev' the same recurrence over |x - ewma|
    (EWMAD), and each tick counted against prev_ewma +/- 2*prev_dev
    BEFORE the state advances. No float enters at any step, so the
    DuckDB twin — a list_reduce over the identically-ordered tick list —
    reproduces every intermediate exactly. EWMA is sequential by
    definition, so the scale axis is across brands/symbols (each group
    folds independently after one shuffle); per-key MEMORY is hard-capped
    at EWMA_SEG_N ticks by segmented exact replay (_ewma_select — the
    25-value p_brand key grows linearly with data volume, so the
    unguarded collect_list was round 7's one scale cliff), with streaming
    the answer for unbounded histories (the state is two longs;
    streaming/stateful.py running_ewma_band).

    ORACLE HAZARD, pinned here and in ewma_band_state's docstring:
    DuckDB 1.0.0's 2-arg list_reduce evaluates the result struct's
    fields IN PLACE over the accumulator buffer from the 2nd iteration
    on — a later field reading an acc slot an earlier field wrote sees
    the NEW value. Both twins therefore order fields so that no field
    reads a slot written before it within a step (breach counters, then
    dev, then ewma, then n), which is correct under BOTH in-place and
    functional evaluation."""
    return _ewma_select(_li_seq(spark, sf_dir), "brand", "n_ticks")


@register(
    "part_brand_max_drawdown",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL}),
    dd AS (
        SELECT brand, px,
               max(px) OVER (PARTITION BY brand
                             ORDER BY us, okey, lineno, px
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - px AS drawdown
        FROM seq
    )
    SELECT brand,
           count(*) AS n_ticks,
           max(px) AS peak_e2,
           max(drawdown) AS max_drawdown_e2
    FROM dd GROUP BY brand ORDER BY brand
    """,
)
def part_brand_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per brand — the canonical risk metric: the
    largest peak-to-trough drop of the price series (running peak
    includes the current tick, so a fresh high draws down zero).

    Computed MONTH-SEGMENTED because p_brand has 25 values at every
    data volume: a brand-partitioned cummax window would sort the whole
    table in 25 tasks (the fixed-cardinality-key bottleneck the
    histogram quantiles and the EWMA segmented replay also avoid).
    Drawdown is segment-combinable — for consecutive segments A then B,
    dd(AB) = max(dd(A), dd(B), peak(A) - min(B)): if B's own prefix
    peak exceeds A's carried peak by the time B's minimum prints, the
    true drawdown at that minimum is within dd(B); otherwise it is
    peak(A) - min(B) — so level 1 computes per-(brand, MONTH) cummax
    windows (parallelism |brands x months|, calendar-scaled), and
    level 2 folds the month summaries left-to-right with a
    prior-months cummax lag over the tiny bar-shaped frame. Identical
    rows to the row-level cummax the oracle spells out; round-8
    measurement at the sf1 replica: 4.72 s (brand window, bench run) ->
    2.28 s (segmented, warm best-of-two), with the parallelism bound
    moved from 25 to 25 x months."""
    seq = _li_seq(spark, sf_dir)
    w_m = (
        Window.partitionBy("brand", "bar_m")
        .orderBy("o.us", "o.okey", "o.lineno", "o.tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # spread_by pins the (key, month) exchange at full shuffle width
    # before the window cascade: the tick frame's shuffle is ~26 MB at
    # sf0.1, so AQE's bytes-based coalescing merged the CPU-heavy
    # window stage to ~16 tasks on 32 cores; the explicit width is the
    # exchange the window needs anyway, so nothing is added.
    dd = spread_by(seq, "brand", "bar_m").select(
        "brand",
        "bar_m",
        F.col("px"),
        (F.max("px").over(w_m) - F.col("px")).alias("dd_in"),
    )
    months = dd.groupBy("brand", "bar_m").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("px").alias("mx"),
        F.min("px").alias("mn"),
        F.max("dd_in").alias("dd_m"),
    )
    w_prior = (
        Window.partitionBy("brand")
        .orderBy("bar_m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stitched = months.select(
        "brand",
        "n",
        "mx",
        F.greatest(
            F.col("dd_m"),
            F.coalesce(
                F.max("mx").over(w_prior) - F.col("mn"), F.lit(0)
            ),
        ).alias("dd_c"),
    )
    return (
        stitched.groupBy("brand")
        .agg(
            F.sum("n").alias("n_ticks"),
            F.max("mx").alias("peak_e2"),
            F.max("dd_c").alias("max_drawdown_e2"),
        )
        .orderBy("brand")
    )


@register(
    "user_value_ewma_band",
    oracle=f"""
    WITH seq AS ({_EV_SEQ_SQL}),
    folded AS (
        SELECT user_id,
               {_EWMA_REDUCE_SQL.format(order="us, eid", k=BAND_K)}
               AS st
        FROM seq GROUP BY user_id
    )
    SELECT user_id,
           st.n AS n_events,
           st.ewma AS ewma_e2,
           st.dev AS dev_e2,
           st.n_above AS n_above,
           st.n_below AS n_below
    FROM folded ORDER BY user_id
    """,
)
def user_value_ewma_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA value band over the events stream — the same
    integer-exact fixed-point fold as part_brand_ewma_band (and the
    same DuckDB list_reduce oracle with the documented field-order
    defense), keyed by user over (ts, event_id) event-time order. This
    is the batch twin of streaming/stateful.py running_ewma_band, which
    replays the identical recurrence in state with exact parity.

    Rounding note: the recurrences use SQL ``div`` (truncation toward
    zero, identical in Spark and DuckDB); for the NONNEGATIVE e2 values
    of this table that equals half-up rounding. A series with negative
    values stays cross-engine exact (both engines truncate), only the
    tie direction below zero changes — the streaming twin emulates the
    same truncation."""
    return _ewma_select(_ev_seq(spark, sf_dir), "user_id", "n_events")


@register(
    "user_value_max_drawdown",
    oracle=f"""
    WITH seq AS ({_EV_SEQ_SQL}),
    dd AS (
        SELECT user_id, px,
               max(px) OVER (PARTITION BY user_id ORDER BY us, eid
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - px AS drawdown
        FROM seq
    )
    SELECT user_id,
           count(*) AS n_events,
           max(px) AS peak_e2,
           max(drawdown) AS max_drawdown_e2
    FROM dd GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown of event values — the events-table
    sibling of part_brand_max_drawdown, and the batch twin of
    streaming/stateful.py running_drawdown: the metric is computable
    with O(1) state (running peak + running max drawdown), which is why
    the streaming twin carries exactly two longs. Same single-window
    shape: one user-partitioned cummax window whose partitioning the
    rollup reuses, plus the presentation sort."""
    seq = _ev_seq(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("o.us", "o.eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = seq.select(
        "user_id",
        F.col("px"),
        (F.max("px").over(w) - F.col("px")).alias("drawdown"),
    )
    return (
        dd.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("px").alias("peak_e2"),
            F.max("drawdown").alias("max_drawdown_e2"),
        )
        .orderBy("user_id")
    )


@register(
    "user_value_rolling_band",
    oracle=f"""
    WITH seq AS ({_EV_SEQ_SQL}),
    stats AS (
        SELECT user_id, px,
               count(px) OVER w AS n,
               sum(px) OVER w AS s,
               sum(px * px) OVER w AS ss
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY us, eid
                     ROWS BETWEEN {ROLL_N} PRECEDING AND 1 PRECEDING)
    ),
    flags AS (
        SELECT user_id,
               CASE WHEN n >= {ROLL_MIN} THEN 1 ELSE 0 END AS eval,
               CASE WHEN n >= {ROLL_MIN} AND n * px - s > 0
                     AND (n * px - s) * (n * px - s)
                         > {BAND_K * BAND_K} * (n * ss - s * s)
                    THEN 1 ELSE 0 END AS above,
               CASE WHEN n >= {ROLL_MIN} AND n * px - s < 0
                     AND (n * px - s) * (n * px - s)
                         > {BAND_K * BAND_K} * (n * ss - s * s)
                    THEN 1 ELSE 0 END AS below
        FROM stats
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(eval) AS BIGINT) AS n_eval,
           CAST(sum(above) AS BIGINT) AS n_above,
           CAST(sum(below) AS BIGINT) AS n_below
    FROM flags GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_rolling_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling value-band breach counter — the events-table
    sibling of part_brand_rolling_band (identical all-int64 squared
    inequality), and the batch twin of streaming/stateful.py
    running_rolling_band, whose state is the last ROLL_N px values per
    user — the window IS the state, so streaming this metric needs
    exactly 20 values per key. One user-partitioned window
    shuffle reused by the rollup, plus the presentation sort."""
    seq = _ev_seq(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("o.us", "o.eid")
        .rowsBetween(-ROLL_N, -1)
    )
    px = F.col("px")
    stats = seq.select(
        "user_id",
        px,
        F.count(px).over(w).alias("n"),
        F.sum(px).over(w).alias("s"),
        F.sum(px * px).over(w).alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    eligible = n >= ROLL_MIN
    diff = n * px - s
    breach = diff * diff > F.lit(BAND_K * BAND_K) * (n * ss - s * s)
    flags = stats.select(
        "user_id",
        eligible.cast("long").alias("eval"),
        (eligible & (diff > 0) & breach).cast("long").alias("above"),
        (eligible & (diff < 0) & breach).cast("long").alias("below"),
    )
    return (
        flags.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("eval").alias("n_eval"),
            F.sum("above").alias("n_above"),
            F.sum("below").alias("n_below"),
        )
        .orderBy("user_id")
    )


#: Shared oracle CTE: monthly open/close bars per brand — the
#: part_brand_ohlc_monthly aggregate reused as the input of the
#: bar-to-bar queries (aggregate-then-window composition).
_BARS_SQL = f"""
        SELECT brand, bar_m,
               first(px ORDER BY us, okey, lineno, px) AS open_e2,
               last(px ORDER BY us, okey, lineno, px) AS close_e2
        FROM ({_LI_SEQ_SQL}) seq
        GROUP BY brand, bar_m
"""


def _li_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, bar_m, open_e2, close_e2) monthly bars — ohlc_bars
    restricted to the open/close pair the bar-to-bar queries consume
    (high/low/count partials would ride for free, but the pruned
    aggregate keeps the map-side state minimal)."""
    seq = _li_seq(spark, sf_dir)
    return seq.groupBy("brand", "bar_m").agg(
        F.min_by("px", "o").alias("open_e2"),
        F.max_by("px", "o").alias("close_e2"),
    )


@register(
    "part_brand_monthly_returns",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    r AS (
        SELECT brand, bar_m, close_e2,
               lag(close_e2) OVER (PARTITION BY brand ORDER BY bar_m)
                   AS prev_close_e2
        FROM bars
    )
    SELECT brand,
           strftime(bar_m, '%Y-%m') AS bar_month,
           close_e2,
           prev_close_e2,
           CAST((2 * (close_e2 - prev_close_e2) * 10000 + prev_close_e2)
                // (2 * prev_close_e2) AS BIGINT) AS ret_e4
    FROM r WHERE prev_close_e2 IS NOT NULL
    ORDER BY brand, bar_month
    """,
)
def part_brand_monthly_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand MONTHLY close-to-close simple returns — bar-to-bar
    analytics on top of the OHLC aggregate (the aggregate-then-window
    composition no tick-level query exercises): the tick table rolls up
    to |brands x months| bars in one grouped aggregate, then a lag
    window over the TINY bar frame computes half-up basis-point returns
    (same integer idiom as part_brand_return_stats; prices positive so
    the lag denominator never vanishes). The expensive side is the bar
    rollup — the window and sort touch only |bars| rows, so the 100-TB
    cost profile is identical to part_brand_ohlc_monthly's single
    shuffle of bar rows. First bar per brand has no predecessor and is
    excluded (matching the tick-level return stats)."""
    bars = _li_bars(spark, sf_dir)
    w = Window.partitionBy("brand").orderBy("bar_m")
    prev = F.lag("close_e2").over(w)
    ret = F.expr(
        "CAST((2 * (close_e2 - prev_close_e2) * 10000 + prev_close_e2)"
        " div (2 * prev_close_e2) AS BIGINT)"
    )
    return (
        bars.select("brand", "bar_m", "close_e2", prev.alias("prev_close_e2"))
        .filter(F.col("prev_close_e2").isNotNull())
        .select(
            "brand",
            F.date_format("bar_m", "yyyy-MM").alias("bar_month"),
            "close_e2",
            "prev_close_e2",
            ret.alias("ret_e4"),
        )
        .orderBy("brand", "bar_month")
    )


@register(
    "part_brand_gap_counts",
    oracle=f"""
    WITH bars AS ({_BARS_SQL}),
    g AS (
        SELECT brand, open_e2,
               lag(close_e2) OVER (PARTITION BY brand ORDER BY bar_m)
                   AS prev_close
        FROM bars
    )
    SELECT brand,
           count(*) AS n_bars,
           CAST(sum(CASE WHEN prev_close IS NOT NULL
                          AND open_e2 > prev_close THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gap_up,
           CAST(sum(CASE WHEN prev_close IS NOT NULL
                          AND open_e2 < prev_close THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gap_down,
           CAST(max(CASE WHEN prev_close IS NOT NULL
                         THEN abs(open_e2 - prev_close) END)
                AS BIGINT) AS max_abs_gap_e2
    FROM g GROUP BY brand ORDER BY brand
    """,
)
def part_brand_gap_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opening-gap census per brand: how often a month OPENS above/below
    the previous month's CLOSE (gap-up / gap-down), and the largest
    absolute gap — the discontinuity statistic bar charts annotate. Same
    aggregate-then-window shape as part_brand_monthly_returns: one bar
    rollup shuffle over the tick table, then lag + rollup over |bars|
    rows with the brand partitioning reused; all int64 e2 arithmetic
    (single-bar brands yield NULL max_abs_gap_e2 on both engines)."""
    bars = _li_bars(spark, sf_dir)
    w = Window.partitionBy("brand").orderBy("bar_m")
    g = bars.select(
        "brand",
        "open_e2",
        F.lag("close_e2").over(w).alias("prev_close"),
    )
    has_prev = F.col("prev_close").isNotNull()
    return (
        g.groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.sum(
                (has_prev & (F.col("open_e2") > F.col("prev_close"))).cast("long")
            ).alias("n_gap_up"),
            F.sum(
                (has_prev & (F.col("open_e2") < F.col("prev_close"))).cast("long")
            ).alias("n_gap_down"),
            F.max(
                F.when(has_prev, F.abs(F.col("open_e2") - F.col("prev_close")))
            ).alias("max_abs_gap_e2"),
        )
        .orderBy("brand")
    )


#: Shared oracle CTE: the monthly close-to-close return series (brand,
#: bar_m, r_e4) — part_brand_monthly_returns' core reused by the
#: beta / correlation / seasonality queries.
_RETURNS_SQL = f"""
        SELECT brand, bar_m, r_e4 FROM (
            SELECT brand, bar_m,
                   CAST((2 * (close_e2 - lag(close_e2) OVER w) * 10000
                         + lag(close_e2) OVER w)
                        // (2 * lag(close_e2) OVER w) AS BIGINT) AS r_e4
            FROM ({_BARS_SQL}) bars
            WINDOW w AS (PARTITION BY brand ORDER BY bar_m)
        ) WHERE r_e4 IS NOT NULL
"""


def _li_returns(
    spark: SparkSession, sf_dir: str, materialize: bool = False
) -> DataFrame:
    """(brand, bar_m, r_e4) monthly return series — the Spark twin of
    _RETURNS_SQL. ``materialize=True`` materializes the frame (it is
    |brands x months| rows — control-plane scale) so queries that
    consume it TWICE (beta's market join, the correlation self-join)
    compute the tick-table rollup once instead of re-scanning lineitem
    per consumer."""
    bars = _li_bars(spark, sf_dir)
    w = Window.partitionBy("brand").orderBy("bar_m")
    prev = F.lag("close_e2").over(w)
    r = (
        bars.select("brand", "bar_m", "close_e2", prev.alias("_prev"))
        .filter(F.col("_prev").isNotNull())
        .select(
            "brand",
            "bar_m",
            F.expr(
                "CAST((2 * (close_e2 - _prev) * 10000 + _prev)"
                " div (2 * _prev) AS BIGINT)"
            ).alias("r_e4"),
        )
    )
    return materialize_df(r) if materialize else r


@register(
    "part_brand_beta",
    oracle=f"""
    WITH r AS ({_RETURNS_SQL}),
    mkt AS (
        SELECT bar_m,
               CAST((2 * sum(r_e4) + count(*)) // (2 * count(*)) AS BIGINT)
                   AS m_e4
        FROM r GROUP BY bar_m
    ),
    j AS (
        SELECT r.brand, r.r_e4, mkt.m_e4
        FROM r JOIN mkt USING (bar_m)
    ),
    s AS (
        SELECT brand, count(*) AS n, sum(r_e4) AS sr, sum(m_e4) AS sm,
               sum(r_e4 * m_e4) AS srm, sum(m_e4 * m_e4) AS smm
        FROM j GROUP BY brand
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_months,
           CAST(n * srm - sr * sm AS BIGINT) AS cov_num,
           CAST(n * smm - sm * sm AS BIGINT) AS var_num,
           CAST(CASE WHEN n * smm - sm * sm > 0 THEN
               (2 * CAST(n * srm - sr * sm AS HUGEINT) * 10000
                + (n * smm - sm * sm))
               // (2 * CAST(n * smm - sm * sm AS HUGEINT))
           END AS BIGINT) AS beta_e4
    FROM s ORDER BY brand
    """,
)
def part_brand_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand market beta over the monthly return series: the market
    is the equal-weighted cross-brand mean return per month (half-up e4
    integer), and beta = cov(r, m) / var(m) emitted both as raw integer
    moment combinations (cov_num = n·Σrm − Σr·Σm, var_num likewise) and
    as a half-up e4 ratio — the division widens to DECIMAL(38,0) /
    HUGEINT first because 2·cov·10⁴ can reach ~2e20 (r_e4 is bounded by
    the price-ratio domain at ~1e6, months by the calendar, so the
    widened arithmetic is exact at any data volume). Negative numerators
    truncate toward zero identically on both engines (the return-stats
    convention).

    Scale shape: the tick table rolls up to |brands x months| bars once
    (the returns frame is materialized because beta consumes it
    twice — market aggregate and join back); everything after operates
    on the tiny bar frame, with the month-keyed market table broadcast.
    """
    r = _li_returns(spark, sf_dir, materialize=True)
    mkt = r.groupBy("bar_m").agg(
        F.expr(
            "CAST((2 * sum(r_e4) + count(*)) div (2 * count(*)) AS BIGINT)"
        ).alias("m_e4")
    )
    j = r.join(F.broadcast(mkt), "bar_m")
    s = j.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_e4").alias("sr"),
        F.sum("m_e4").alias("sm"),
        F.sum(F.col("r_e4") * F.col("m_e4")).alias("srm"),
        F.sum(F.col("m_e4") * F.col("m_e4")).alias("smm"),
    )
    c = s.select(
        "brand",
        F.col("n").alias("n_months"),
        (F.col("n") * F.col("srm") - F.col("sr") * F.col("sm")).alias(
            "cov_num"
        ),
        (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")).alias(
            "var_num"
        ),
    )
    beta = F.expr(
        "CAST(CASE WHEN var_num > 0 THEN"
        " (2 * CAST(cov_num AS DECIMAL(38,0)) * 10000 + var_num)"
        " div (2 * CAST(var_num AS DECIMAL(38,0)))"
        " END AS BIGINT)"
    )
    return c.select(
        "brand", "n_months", "cov_num", "var_num", beta.alias("beta_e4")
    ).orderBy("brand")


@register(
    "brand_return_correlation",
    oracle=f"""
    WITH r AS ({_RETURNS_SQL}),
    p AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               a.r_e4 AS ra, b.r_e4 AS rb
        FROM r a JOIN r b ON a.bar_m = b.bar_m AND a.brand < b.brand
    ),
    s AS (
        SELECT brand_a, brand_b, count(*) AS n,
               sum(ra) AS sa, sum(rb) AS sb, sum(ra * rb) AS sab,
               sum(ra * ra) AS saa, sum(rb * rb) AS sbb
        FROM p GROUP BY brand_a, brand_b
    ),
    c AS (
        SELECT brand_a, brand_b, n,
               n * sab - sa * sb AS cov,
               n * saa - sa * sa AS va,
               n * sbb - sb * sb AS vb
        FROM s
    )
    SELECT brand_a, brand_b, CAST(n AS BIGINT) AS n_months,
           CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS corr_sign,
           CAST(CASE WHEN va > 0 AND vb > 0 THEN
               (2 * CAST(cov AS HUGEINT) * CAST(cov AS HUGEINT) * 10000
                + CAST(va AS HUGEINT) * CAST(vb AS HUGEINT))
               // (2 * CAST(va AS HUGEINT) * CAST(vb AS HUGEINT))
           END AS BIGINT) AS corr2_e4
    FROM c ORDER BY brand_a, brand_b
    """,
)
def brand_return_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix of the brands' monthly return series
    (upper triangle): sign of the covariance plus the SQUARED
    correlation as a half-up e4 integer — corr² avoids the square root
    no integer-exact cross-engine form survives, and with the sign it
    carries the same information. cov² and va·vb reach ~1e32, so those
    products widen to DECIMAL(38,0)/HUGEINT (exact to 1e38; corr²·10⁴
    ≤ 10⁴ by Cauchy-Schwarz so the final BIGINT cast is safe).

    Scale shape: the self-join runs on the CHECKPOINTED |brands x
    months| return frame — pair count is |brands|², a function of the
    symbol universe, NOT of tick volume, so the all-pairs form is the
    right plan at any SF (the tick table is touched exactly once, by
    the bar rollup). Equi-join on bar_m with a brand_a < brand_b
    predicate — never a cartesian."""
    r = _li_returns(spark, sf_dir, materialize=True)
    a = r.select(
        F.col("brand").alias("brand_a"),
        "bar_m",
        F.col("r_e4").alias("ra"),
    )
    b = r.select(
        F.col("brand").alias("brand_b"),
        "bar_m",
        F.col("r_e4").alias("rb"),
    )
    p = a.join(b, "bar_m").filter(F.col("brand_a") < F.col("brand_b"))
    s = p.groupBy("brand_a", "brand_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
    )
    c = s.select(
        "brand_a",
        "brand_b",
        F.col("n").alias("n_months"),
        (F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")).alias("cov"),
        (F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")).alias("va"),
        (F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb")).alias("vb"),
    )
    corr2 = F.expr(
        "CAST(CASE WHEN va > 0 AND vb > 0 THEN"
        " (2 * CAST(cov AS DECIMAL(38,0)) * CAST(cov AS DECIMAL(38,0))"
        "  * 10000 + CAST(va AS DECIMAL(38,0)) * CAST(vb AS DECIMAL(38,0)))"
        " div (2 * CAST(va AS DECIMAL(38,0)) * CAST(vb AS DECIMAL(38,0)))"
        " END AS BIGINT)"
    )
    sign = (
        F.when(F.col("cov") > 0, 1)
        .when(F.col("cov") < 0, -1)
        .otherwise(0)
        .cast("long")
    )
    return c.select(
        "brand_a",
        "brand_b",
        "n_months",
        sign.alias("corr_sign"),
        corr2.alias("corr2_e4"),
    ).orderBy("brand_a", "brand_b")


@register(
    "part_brand_return_seasonality",
    oracle=f"""
    WITH r AS ({_RETURNS_SQL})
    SELECT brand, CAST(month(bar_m) AS BIGINT) AS moy,
           count(*) AS n_months,
           CAST((2 * sum(r_e4) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_r_e4,
           CAST(sum(CASE WHEN r_e4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(sum(CASE WHEN r_e4 < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
    FROM r GROUP BY brand, month(bar_m) ORDER BY brand, moy
    """,
)
def part_brand_return_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar seasonality of monthly returns: per (brand,
    month-of-year), the half-up mean return and up/down counts — the
    "is January different" table. Same aggregate-then-window-then-
    aggregate composition as the other bar queries; the seasonality
    rollup touches only the |brands x months| return frame."""
    r = _li_returns(spark, sf_dir)
    return (
        r.groupBy("brand", F.month("bar_m").cast("long").alias("moy"))
        .agg(
            F.count(F.lit(1)).alias("n_months"),
            F.expr(
                "CAST((2 * sum(r_e4) + count(*)) div (2 * count(*))"
                " AS BIGINT)"
            ).alias("mean_r_e4"),
            F.sum((F.col("r_e4") > 0).cast("long")).alias("n_up"),
            F.sum((F.col("r_e4") < 0).cast("long")).alias("n_down"),
        )
        .orderBy("brand", "moy")
    )


@register(
    "part_brand_underwater_runs",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL}),
    d1 AS (
        SELECT brand, us, okey, lineno, px,
               CASE WHEN max(px) OVER w1 > px THEN 1 ELSE 0 END AS uw
        FROM seq
        WINDOW w1 AS (PARTITION BY brand ORDER BY us, okey, lineno, px
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d2 AS (
        SELECT brand, us, uw, okey, lineno, px,
               CASE WHEN uw <> coalesce(lag(uw) OVER w2, -1)
                    THEN 1 ELSE 0 END AS chg
        FROM d1
        WINDOW w2 AS (PARTITION BY brand ORDER BY us, okey, lineno, px)
    ),
    d3 AS (
        SELECT brand, us, uw,
               sum(chg) OVER (PARTITION BY brand
                              ORDER BY us, okey, lineno, px
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_id
        FROM d2
    ),
    runs AS (
        SELECT brand, run_id, count(*) AS run_ticks,
               max(us) - min(us) AS dur_us
        FROM d3 WHERE uw = 1 GROUP BY brand, run_id
    )
    SELECT brand,
           count(*) AS n_runs,
           CAST(max(run_ticks) AS BIGINT) AS max_run_ticks,
           CAST(max(dur_us) AS BIGINT) AS max_run_dur_us
    FROM runs GROUP BY brand ORDER BY brand
    """,
)
def part_brand_underwater_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest underwater stretch per brand — drawdown's DURATION
    counterpart: a tick is underwater when it sits strictly below the
    running peak, and consecutive underwater ticks form runs via the
    gaps-and-islands idiom (flag-change cumulative sum), reported as
    the run census plus the longest run in ticks and in microseconds.
    All int64.

    MONTH-SEGMENTED like the drawdown above (25-value brand key = 25
    whole-table sorts otherwise): pass 1 computes each month's
    prior-months running peak over the tiny (brand, month) frame; pass
    2 evaluates flags and runs with month-local windows — exact because
    the global running peak is max(prior_peak, in-month prefix peak) —
    then ONE two-level aggregation (runs, then month summaries; both
    reuse the window's (brand, month) partitioning) yields
    calendar-bounded month structs, and a per-brand F.aggregate fold
    stitches runs across month boundaries exactly: the open run (tail
    of month m-1) extends into month m's head run when both are
    underwater — adjacent by construction. The bounded collect_list
    here is NOT the EWMA memory cliff (months are calendar-scaled).
    Round-8 measurement at the sf1 replica: 7.3 s (brand windows,
    bench) -> 3.4 s (segmented, warm), parallelism bound 25 ->
    25 x months. Identical rows to the oracle's row-level
    formulation at sf0.01/sf0.1/sf1."""
    return _underwater_runs_segmented(_li_seq(spark, sf_dir))


def _underwater_runs_segmented(seq: DataFrame, key: str = "brand") -> DataFrame:
    """Month-segmented underwater-run census over a (key, bar_m,
    o-struct, px) tick frame — the part_brand_underwater_runs body,
    seq-parameterized so the property suite can replay it on synthetic
    ticks against a pure-Python reference (random ticks exercise run
    shapes the fixed datasets cannot: runs spanning several months,
    fully-underwater months, single-tick months)."""
    ord_cols = [F.col(f"o.{f}") for f in seq.schema["o"].dataType.fieldNames()]
    # Pass 1 (control-plane sized): per-month peaks -> each month's
    # PRIOR-months running peak, over the tiny (brand, month) frame.
    mp = seq.groupBy(key, "bar_m").agg(F.max("px").alias("m_mx"))
    w_prior = (
        Window.partitionBy(key)
        .orderBy("bar_m")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    priors = mp.select(
        key,
        "bar_m",
        F.coalesce(
            F.max("m_mx").over(w_prior), F.lit(-(1 << 62))
        ).alias("prior_peak"),
    )
    # Pass 2: flags + runs WITHIN (brand, month) — the global running
    # peak equals max(prior_peak, in-month prefix peak), so flags are
    # exact with month-local windows.
    # spread_by pins the (key, month) exchange at full shuffle width
    # before the window cascade: the tick frame's shuffle is ~26 MB at
    # sf0.1, so AQE's bytes-based coalescing merged the CPU-heavy
    # window stage to ~16 tasks on 32 cores; the explicit width is the
    # exchange the window needs anyway, so nothing is added.
    ticks = spread_by(seq, key, "bar_m").join(
        F.broadcast(priors), [key, "bar_m"]
    )
    w_m = Window.partitionBy(key, "bar_m").orderBy(*ord_cols)
    w_mc = w_m.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d1 = ticks.select(
        key,
        "bar_m",
        F.col("o.us").alias("us"),
        "o",
        (
            F.col("px")
            < F.greatest(F.max("px").over(w_mc), F.col("prior_peak"))
        )
        .cast("int")
        .alias("uw"),
        F.row_number().over(w_m).alias("rn"),
    )
    d2 = d1.select(
        key,
        "bar_m",
        "us",
        "o",
        "uw",
        "rn",
        (F.col("uw") != F.coalesce(F.lag("uw").over(w_m), F.lit(-1)))
        .cast("int")
        .alias("chg"),
    )
    d3 = d2.select(
        key,
        "bar_m",
        "us",
        "uw",
        "rn",
        F.sum("chg").over(w_mc).alias("run_id"),
    )
    # Runs AND month totals in one two-level aggregation chain — both
    # group-bys are satisfied by the (brand, month) hash partitioning
    # the window already produced, so neither re-shuffles, and the tick
    # pipeline is consumed exactly once (the first cut fanned d3 into
    # three consumers and recomputed it per branch — 12 exchanges).
    # Non-underwater stretches keep their run_id so the level-1 rows
    # partition ALL ticks: t = sum(len), and the month's tail run is
    # simply the max_rn row (max_by), underwater or not.
    lvl1 = d3.groupBy(key, "bar_m", "uw", "run_id").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.min("rn").alias("min_rn"),
        F.max("rn").alias("max_rn"),
    )
    is_uw = F.col("uw") == 1
    is_head = is_uw & (F.col("min_rn") == 1)
    tail = F.max_by(
        F.struct("uw", "len", "start_us"), F.col("max_rn")
    )
    months = (
        lvl1.groupBy(key, "bar_m")
        .agg(
            F.sum("len").alias("t"),
            F.max("end_us").alias("m_last_us"),
            F.sum(F.when(is_uw, 1).otherwise(0)).alias("nr"),
            F.coalesce(F.max(F.when(is_uw, F.col("len"))), F.lit(0)).alias(
                "mxl"
            ),
            F.coalesce(
                F.max(
                    F.when(is_uw, F.col("end_us") - F.col("start_us"))
                ),
                F.lit(0),
            ).alias("mxd"),
            F.coalesce(F.max(F.when(is_head, 1)), F.lit(0)).alias(
                "first_uw"
            ),
            F.coalesce(F.max(F.when(is_head, F.col("len"))), F.lit(0)).alias(
                "h_len"
            ),
            F.coalesce(
                F.max(F.when(is_head, F.col("end_us"))), F.lit(0)
            ).alias("h_end"),
            tail.alias("_tail"),
        )
        .select(
            key,
            "bar_m",
            "t",
            "m_last_us",
            "nr",
            "mxl",
            "mxd",
            "first_uw",
            "h_len",
            "h_end",
            (F.col("_tail.uw") == 1).cast("int").alias("last_uw"),
            F.when(F.col("_tail.uw") == 1, F.col("_tail.len"))
            .otherwise(0)
            .alias("t_len"),
            F.when(F.col("_tail.uw") == 1, F.col("_tail.start_us"))
            .otherwise(0)
            .alias("t_start"),
        )
    )
    # Level 2: stitch runs across month boundaries with ONE bounded fold
    # per brand — the month-summary array is calendar-sized (~tens of
    # structs), so collect_list here is NOT the unbounded-history cliff
    # (contrast EWMA_SEG_N's rationale). State: the OPEN run
    # (len, start; start -1 = closed) plus the census so far; a month
    # whose first tick is underwater extends the open run (the last tick
    # of month m-1 and the first of month m are adjacent in the global
    # order), anything else closes it.
    mfields = [
        "bar_m", "t", "m_last_us", "nr", "mxl", "mxd",
        "first_uw", "h_len", "h_end", "last_uw", "t_len", "t_start",
    ]
    arr = months.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct(*mfields))).alias("ms")
    )
    init = F.struct(
        F.lit(0).cast("long").alias("open_len"),
        F.lit(-1).cast("long").alias("open_start"),
        F.lit(0).cast("long").alias("n_runs"),
        F.lit(0).cast("long").alias("mx_len"),
        F.lit(0).cast("long").alias("mx_dur"),
    )

    def step(acc, m):
        merged = (acc["open_start"] >= 0) & (m["first_uw"] == 1)
        all_uw = (m["nr"] == 1) & (m["h_len"] == m["t"])
        n_runs = acc["n_runs"] + m["nr"] - F.when(merged, 1).otherwise(0)
        head_len = acc["open_len"] + m["h_len"]
        head_dur = m["h_end"] - acc["open_start"]
        mx_len = F.greatest(
            acc["mx_len"],
            m["mxl"],
            F.when(merged, head_len).otherwise(F.lit(0)),
        )
        mx_dur = F.greatest(
            acc["mx_dur"],
            m["mxd"],
            F.when(merged, head_dur).otherwise(F.lit(0)),
        )
        open_len = F.when(
            m["last_uw"] == 1,
            F.when(merged & all_uw, acc["open_len"] + m["t"]).otherwise(
                m["t_len"]
            ),
        ).otherwise(F.lit(0))
        open_start = F.when(
            m["last_uw"] == 1,
            F.when(merged & all_uw, acc["open_start"]).otherwise(
                m["t_start"]
            ),
        ).otherwise(F.lit(-1))
        mx_len = F.greatest(mx_len, open_len)
        mx_dur = F.greatest(
            mx_dur,
            F.when(
                open_start >= 0, m["m_last_us"] - open_start
            ).otherwise(F.lit(0)),
        )
        return F.struct(
            open_len.cast("long").alias("open_len"),
            open_start.cast("long").alias("open_start"),
            n_runs.cast("long").alias("n_runs"),
            mx_len.cast("long").alias("mx_len"),
            mx_dur.cast("long").alias("mx_dur"),
        )

    st = F.aggregate("ms", init, step)
    # explode-wrapper: a Generator is a projection barrier, keeping
    # CollapseProject from inlining the fold once per output column
    # (the _ewma_select lesson)
    return (
        arr.select(key, F.explode(F.array(st)).alias("st"))
        .select(
            key,
            F.col("st.n_runs").alias("n_runs"),
            F.col("st.mx_len").alias("max_run_ticks"),
            F.col("st.mx_dur").alias("max_run_dur_us"),
        )
        .filter(F.col("n_runs") > 0)
        .orderBy(key)
    )


@register(
    "user_value_underwater_runs",
    oracle=f"""
    WITH seq AS ({_EV_SEQ_SQL}),
    d1 AS (
        SELECT user_id, us, eid,
               CASE WHEN max(px) OVER w1 > px THEN 1 ELSE 0 END AS uw
        FROM seq
        WINDOW w1 AS (PARTITION BY user_id ORDER BY us, eid
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    d2 AS (
        SELECT user_id, us, eid, uw,
               CASE WHEN uw <> coalesce(lag(uw) OVER w2, -1)
                    THEN 1 ELSE 0 END AS chg
        FROM d1
        WINDOW w2 AS (PARTITION BY user_id ORDER BY us, eid)
    ),
    d3 AS (
        SELECT user_id, us, uw,
               sum(chg) OVER (PARTITION BY user_id ORDER BY us, eid
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS run_id
        FROM d2
    ),
    runs AS (
        SELECT user_id, run_id, count(*) AS run_ticks,
               max(us) - min(us) AS dur_us
        FROM d3 WHERE uw = 1 GROUP BY user_id, run_id
    )
    SELECT user_id,
           count(*) AS n_runs,
           CAST(max(run_ticks) AS BIGINT) AS max_run_ticks,
           CAST(max(dur_us) AS BIGINT) AS max_run_dur_us
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def user_value_underwater_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest underwater stretch of event values — the events
    sibling of part_brand_underwater_runs (identical gaps-and-islands
    plan: three stacked same-order windows, rollups reusing the user
    partitioning) and the batch twin of streaming/stateful.py
    running_underwater, whose state is O(1): peak, the open run's
    (start, length), and the maxima — the demonstration that run-length
    drawdown analytics stream without the tick history. Users never
    underwater produce no runs and are absent (both engines)."""
    seq = _ev_seq(spark, sf_dir)
    ord_cols = [F.col("o.us"), F.col("o.eid")]
    w_run = Window.partitionBy("user_id").orderBy(*ord_cols)
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d1 = seq.select(
        "user_id",
        F.col("o.us").alias("us"),
        "o",
        (F.max("px").over(w_cum) > F.col("px")).cast("int").alias("uw"),
    )
    d2 = d1.select(
        "user_id",
        "us",
        "o",
        "uw",
        (F.col("uw") != F.coalesce(F.lag("uw").over(w_run), F.lit(-1)))
        .cast("int")
        .alias("chg"),
    )
    d3 = d2.select(
        "user_id", "us", "uw", F.sum("chg").over(w_cum).alias("run_id")
    )
    runs = (
        d3.filter(F.col("uw") == 1)
        .groupBy("user_id", "run_id")
        .agg(
            F.count(F.lit(1)).alias("run_ticks"),
            (F.max("us") - F.min("us")).alias("dur_us"),
        )
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.max("run_ticks").alias("max_run_ticks"),
            F.max("dur_us").alias("max_run_dur_us"),
        )
        .orderBy("user_id")
    )


@register(
    "user_monthly_bar_diffs",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, date_trunc('month', ts) AS bar_m,
               epoch_us(ts) AS us, event_id AS eid,
               CAST(round(value * 100) AS BIGINT) AS px
        FROM events
    ),
    bars AS (
        SELECT user_id, bar_m,
               last(px ORDER BY us, eid) AS close_e2
        FROM seq GROUP BY user_id, bar_m
    ),
    d AS (
        SELECT user_id,
               close_e2 - lag(close_e2) OVER (PARTITION BY user_id
                                              ORDER BY bar_m) AS d_e2
        FROM bars
    )
    SELECT user_id,
           count(*) AS n_bars,
           count(d_e2) AS n_diffs,
           CAST(sum(d_e2) AS BIGINT) AS sum_d_e2,
           CAST(min(d_e2) AS BIGINT) AS min_d_e2,
           CAST(max(d_e2) AS BIGINT) AS max_d_e2,
           CAST(sum(CASE WHEN d_e2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(sum(CASE WHEN d_e2 < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def user_monthly_bar_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly bar construction over the events stream: per user, the
    close-to-close DIFF distribution between consecutive observed
    months (diffs, not ratios — event values can be negative or zero,
    so a return denominator is undefined; the difference is exact int64
    for any sign). This is the batch twin of streaming/stateful.py
    running_monthly_bars, which builds the same bars by rolling a
    single open bar through state. Same aggregate-then-window shape as
    the part_brand bar queries, keyed by (user, month)."""
    ev = load(spark, "events", sf_dir)
    seq = ev.select(
        "user_id",
        F.trunc("ts", "month").alias("bar_m"),
        F.struct(
            F.unix_micros("ts").alias("us"),
            F.col("event_id").alias("eid"),
        ).alias("o"),
        F.round(F.col("value") * 100).cast("long").alias("px"),
    )
    bars = seq.groupBy("user_id", "bar_m").agg(
        F.max_by("px", "o").alias("close_e2")
    )
    w = Window.partitionBy("user_id").orderBy("bar_m")
    d = bars.select(
        "user_id",
        (F.col("close_e2") - F.lag("close_e2").over(w)).alias("d_e2"),
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            F.count("d_e2").alias("n_diffs"),
            F.sum("d_e2").alias("sum_d_e2"),
            F.min("d_e2").alias("min_d_e2"),
            F.max("d_e2").alias("max_d_e2"),
            # when/otherwise(0), not a bare boolean cast: the first bar's
            # NULL diff must count as 0 (the oracle's CASE ... ELSE 0),
            # where (NULL > 0) would sum to NULL for single-bar users
            F.sum(F.when(F.col("d_e2") > 0, 1).otherwise(0).cast("long")).alias(
                "n_up"
            ),
            F.sum(F.when(F.col("d_e2") < 0, 1).otherwise(0).cast("long")).alias(
                "n_down"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "part_brand_return_stats",
    oracle=f"""
    WITH seq AS ({_LI_SEQ_SQL}),
    rets AS (
        SELECT brand,
               CAST((2 * (px - lag(px) OVER w) * 10000
                     + lag(px) OVER w)
                    // (2 * lag(px) OVER w) AS BIGINT) AS r_e4
        FROM seq
        WINDOW w AS (PARTITION BY brand ORDER BY us, okey, lineno, px)
    )
    SELECT brand,
           count(*) AS n_returns,
           CAST(min(r_e4) AS BIGINT) AS min_r_e4,
           CAST(max(r_e4) AS BIGINT) AS max_r_e4,
           CAST((2 * sum(r_e4) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_r_e4,
           CAST(sum(CASE WHEN r_e4 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(sum(CASE WHEN r_e4 < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down
    FROM rets WHERE r_e4 IS NOT NULL
    GROUP BY brand ORDER BY brand
    """,
)
def part_brand_return_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-to-tick simple-return distribution per brand, log-free and
    integer-exact: r_e4 = half-up of (px_t - px_{t-1}) * 1e4 / px_{t-1}
    (basis points of the e2 price; prices are positive, so the lag
    denominator never vanishes). Mean/min/max/up-down counts complete
    the band/drawdown risk picture with the return-side marginals. The
    half-up idiom rounds negative returns toward zero on both engines
    (div truncates; documented on user_value_ewma_band). One lag window
    on brand whose partitioning the rollup reuses, plus the
    presentation sort — the drawdown/band budget."""
    return _return_stats_segmented(_li_seq(spark, sf_dir), "brand")


def _return_stats_segmented(seq: DataFrame, key: str) -> DataFrame:
    """Month-segmented return stats over a (key, bar_m, o, px) frame —
    identical to a single per-key lag over the whole history (property
    test: test_return_stats_segmented_matches_reference), but the lag
    runs within (key, MONTH) — parallelism |keys x months| instead of
    |keys| whole-table sorts (the fixed-cardinality-key fix the
    drawdown documents); the month's first tick has no in-month
    predecessor and its boundary return is recovered at level 2 via one
    lag over the tiny month frame.

    Degenerate shapes (round-8 ADVICE): when EVERY month holds exactly
    one tick there are no in-month returns, so sum(sum_r) aggregates
    nothing but NULLs — coalesced to 0 so the boundary returns still
    produce a mean. Keys with no returns at all (single-tick histories)
    are dropped, matching the oracle's WHERE r_e4 IS NOT NULL."""
    w_m = Window.partitionBy(key, "bar_m").orderBy(
        "o.us", "o.okey", "o.lineno", "o.tb"
    )
    r_e4 = F.expr(
        "CAST((2 * (px - _prev) * 10000 + _prev) div (2 * _prev) AS BIGINT)"
    )
    # spread_by pins the (key, month) exchange at full shuffle width
    # before the window cascade: the tick frame's shuffle is ~26 MB at
    # sf0.1, so AQE's bytes-based coalescing merged the CPU-heavy
    # window stage to ~16 tasks on 32 cores; the explicit width is the
    # exchange the window needs anyway, so nothing is added.
    enriched = spread_by(seq, key, "bar_m").select(
        key,
        "bar_m",
        "px",
        "o",
        F.lag("px").over(w_m).alias("_prev"),
    ).select(key, "bar_m", "px", "o", r_e4.alias("r"))
    months = enriched.groupBy(key, "bar_m").agg(
        F.count("r").alias("n_r"),
        F.min("r").alias("mn_r"),
        F.max("r").alias("mx_r"),
        F.sum("r").alias("sum_r"),
        F.sum(F.when(F.col("r") > 0, 1).otherwise(0)).alias("up_r"),
        F.sum(F.when(F.col("r") < 0, 1).otherwise(0)).alias("dn_r"),
        F.min_by("px", "o").alias("first_px"),
        F.max_by("px", "o").alias("last_px"),
    )
    w_b = Window.partitionBy(key).orderBy("bar_m")
    rb = F.expr(
        "CAST((2 * (first_px - _pc) * 10000 + _pc) div (2 * _pc)"
        " AS BIGINT)"
    )
    stitched = months.select(
        key,
        "n_r",
        "mn_r",
        "mx_r",
        "sum_r",
        "up_r",
        "dn_r",
        "first_px",
        F.lag("last_px").over(w_b).alias("_pc"),
    ).select(key, "n_r", "mn_r", "mx_r", "sum_r", "up_r", "dn_r", rb.alias("rb"))
    return (
        stitched.groupBy(key)
        .agg(
            (F.sum("n_r") + F.count("rb")).alias("n_returns"),
            F.least(F.min("mn_r"), F.min("rb")).alias("min_r_e4"),
            F.greatest(F.max("mx_r"), F.max("rb")).alias("max_r_e4"),
            F.expr(
                "CAST((2 * (coalesce(sum(sum_r), 0) + coalesce(sum(rb), 0))"
                " + (sum(n_r) + count(rb)))"
                " div (2 * (sum(n_r) + count(rb))) AS BIGINT)"
            ).alias("mean_r_e4"),
            (
                F.sum("up_r")
                + F.sum(F.when(F.col("rb") > 0, 1).otherwise(0))
            ).alias("n_up"),
            (
                F.sum("dn_r")
                + F.sum(F.when(F.col("rb") < 0, 1).otherwise(0))
            ).alias("n_down"),
        )
        .filter(F.col("n_returns") > 0)
        .orderBy(key)
    )
