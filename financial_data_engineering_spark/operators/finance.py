"""Financial bar/band aggregates: OHLC bars and an integer-exact EWMA
band fold.

The reference's per-group argmax/argmin shape (reference
examples/multi_source_pipeline.py:114 — latest indicator per country via
sort+first) generalizes to the canonical market-data aggregate: OHLC
(open/high/low/close) bars, where open/close are argmin/argmax of the
price over the bar's event-time order and high/low are plain extremes.
Both operators here keep the repo's integer-exactness rule: prices enter
as e2-scaled longs, every derived number is integer arithmetic, and the
DuckDB oracles replay the same operations bit for bit.

Scale shape:

- ``ohlc_bars`` is ONE grouped aggregate — ``min_by``/``max_by`` carry
  the (total-order key, price) pair through map-side partial
  aggregation, so a 100 TB tick table rolls up with a single shuffle of
  |bars| rows and no window or self-join. The per-bar state is O(1),
  and the merge is associative+commutative, so the streaming twin
  (streaming/stateful.py ``running_ohlc``) IS this aggregate run over
  the stream — exact batch parity under ANY arrival order.
- ``ewma_band_merge`` is the per-step lambda of a left fold: EWMA is a
  sequential recurrence BY DEFINITION (each output depends on the
  previous), so the scale axis is across keys — thousands of symbols
  fold in parallel, one ``aggregate`` over each symbol's sorted tick
  array — never across time. The batch form bounds per-key memory by
  SEGMENTED EXACT REPLAY (queries/finance.py ``_ewma_select``): when a
  key's history exceeds the segment bound, ticks are ranked into
  fixed-size segments, each segment folds as a bounded array, and the
  O(1) final state carries into the next segment's fold via ``init`` —
  bit-identical to one long fold because the recurrence is a left fold.
  The sequential TIME cost across a single key's history is inherent to
  the recurrence in any engine; incremental maintenance in a stream
  (streaming/stateful.py ``running_ewma_band``, two-long state) is the
  answer for histories that never stop growing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: EWMA smoothing is the dyadic rational EWMA_ALPHA_NUM / EWMA_ALPHA_DEN
#: (alpha = 1/8): new = (x + 7*prev + 4) div 8, half-up. A dyadic alpha
#: keeps the fixed-point recurrence in exact int64 arithmetic — no float
#: enters at any step, so Spark and DuckDB agree on every intermediate.
EWMA_ALPHA_NUM = 1
EWMA_ALPHA_DEN = 8

#: Band half-width in mean-absolute-deviation units: breach when the
#: tick lands strictly outside prev_ewma +/- BAND_K * prev_dev.
BAND_K = 2

#: Rolling-band window: statistics over the ROLL_N ticks strictly before
#: the current one; a tick is evaluated only once ROLL_MIN past ticks
#: exist (early-history ticks have no meaningful band).
ROLL_N = 20
ROLL_MIN = 5


def ohlc_bars(
    ticks: DataFrame,
    key_cols: list[str],
    ord_col: str,
    price_col: str,
    size_col: str | None = None,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """One OHLC bar per ``key_cols`` group: open/close are the prices at
    the min/max of ``ord_col`` (which must be a TOTAL order within every
    group — ties would make open/close nondeterministic), high/low are
    the extremes, plus ``n_trades`` and (when ``size_col`` is given)
    ``volume``. ``extra_aggs`` ride the SAME grouped aggregate (aliased
    aggregate columns), so callers never pay a second scan + join for a
    sibling statistic. Single grouped aggregate; all partials are O(1)
    and mergeable."""
    px = F.col(price_col)
    o = F.col(ord_col)
    aggs = [
        F.min_by(px, o).alias("open_e2"),
        F.max(px).alias("high_e2"),
        F.min(px).alias("low_e2"),
        F.max_by(px, o).alias("close_e2"),
        F.count(F.lit(1)).alias("n_trades"),
    ]
    if size_col is not None:
        aggs.append(F.sum(F.col(size_col).cast("long")).alias("volume"))
    aggs.extend(extra_aggs or [])
    return ticks.groupBy(*[F.col(c) for c in key_cols]).agg(*aggs)


def ewma_band_state(px: Column) -> Column:
    """A tick lifted into the fold's state struct — also the state a
    single-tick group ends with (ewma = the tick, dev 0, no breaches).

    FIELD ORDER IS LOAD-BEARING for the DuckDB oracle twin: DuckDB
    1.0.0's 2-arg ``list_reduce`` evaluates the lambda's result struct
    field-by-field IN PLACE over the accumulator buffer from the second
    iteration on, so a later field that reads an ``acc`` slot an earlier
    field already wrote sees the NEW value (verified empirically: a
    trace field placed last observes the current step's outputs). The
    fields are therefore ordered so no field reads an ``acc`` slot
    written before it in the same step — breach counters first (they
    read old ewma/dev), then dev (reads old ewma + own slot), then ewma
    (own slot), then n (own slot). Under correct functional evaluation
    the order is irrelevant, so this layout is right under BOTH
    semantics. Spark's ``aggregate`` builds a fresh struct per step
    (Catalyst expressions are pure), but the twins keep identical field
    order anyway so the contract is visible in both texts."""
    zero = F.lit(0).cast("long")
    return F.struct(
        zero.alias("n_above"),
        zero.alias("n_below"),
        zero.alias("dev"),
        px.cast("long").alias("ewma"),
        F.lit(1).cast("long").alias("n"),
    )


def ewma_band_merge(acc: Column, x: Column) -> Column:
    """One EWMA-band fold step, all int64: count a breach of
    prev_ewma +/- BAND_K*prev_dev, then advance the half-up fixed-point
    recurrences for the mean (EWMA) and the mean absolute deviation
    (EWMAD). ``x`` is a lifted tick (``ewma_band_state``), so ``x.ewma``
    is the raw price; an empty accumulator (n=0, the fold's init) adopts
    ``x`` unchanged — making the fold's result for a 1-tick sequence the
    lifted tick itself, exactly like the oracle's reduce with the first
    element as initial accumulator."""
    a_num = F.lit(EWMA_ALPHA_NUM)
    a_rest = F.lit(EWMA_ALPHA_DEN - EWMA_ALPHA_NUM)
    half = F.lit(EWMA_ALPHA_DEN // 2)
    den = F.lit(EWMA_ALPHA_DEN)
    px = x["ewma"]
    first = acc["n"] == 0
    above = (px > acc["ewma"] + F.lit(BAND_K) * acc["dev"]).cast("long")
    below = (px < acc["ewma"] - F.lit(BAND_K) * acc["dev"]).cast("long")
    step = F.struct(
        (acc["n_above"] + above).alias("n_above"),
        (acc["n_below"] + below).alias("n_below"),
        F.call_function(
            "div", F.abs(px - acc["ewma"]) + a_rest * acc["dev"] + half, den
        ).alias("dev"),
        F.call_function(
            "div", a_num * px + a_rest * acc["ewma"] + half, den
        ).alias("ewma"),
        (acc["n"] + 1).alias("n"),
    )
    return F.when(first, x).otherwise(step)


def ewma_band_fold(sorted_px: Column, init: Column | None = None) -> Column:
    """Left-fold ``ewma_band_merge`` over a time-sorted array of e2
    prices; returns the final state struct (n_above, n_below, dev, ewma,
    n). The caller supplies the array already in event-time order —
    typically ``transform(array_sort(collect_list(struct(ord, px))),
    s -> s.px)``. ``init`` resumes the fold from a prior segment's final
    state (segmented exact replay); the default empty state (n=0) makes
    the first tick adopt itself via ``ewma_band_merge``'s first-case."""
    if init is None:
        init = F.struct(
            F.lit(0).cast("long").alias("n_above"),
            F.lit(0).cast("long").alias("n_below"),
            F.lit(0).cast("long").alias("dev"),
            F.lit(0).cast("long").alias("ewma"),
            F.lit(0).cast("long").alias("n"),
        )
    return F.aggregate(
        F.transform(sorted_px, ewma_band_state),
        init,
        ewma_band_merge,
    )
