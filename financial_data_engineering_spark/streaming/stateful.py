"""Stateful streaming twins: per-key state carried across micro-batches
(SURVEY.md §2.L — the reference has no streaming; this is the designed
extension for state that windowed aggregates can't express).

Each twin is the streaming version of a batch query or operator, and
its latest emission per key reproduces the batch rows (parity-tested in
tests/test_streaming.py). The twins come in three kinds:

- **Native aggregates** for the order-free folds: ``running_user_stats``
  (count, sum, max), ``running_ohlc`` and ``running_hll_registers``.
  Their merges are associative and commutative (count, sum, min, max,
  min_by/max_by over a total order), so Spark's own streaming
  aggregation keeps them: partial aggregation before the shuffle ships
  one row per key and micro-batch, the buffers live in the state store,
  no Python worker starts, and the result cannot depend on arrival
  order. Each reuses its batch twin's operator — ``running_ohlc`` IS
  ``queries.finance.events_ohlc``, the aggregate ``user_value_ohlc``
  runs.
- **Ordered replays** for the order-dependent folds: transitions, TWAP,
  EWMA band, drawdown, underwater runs, monthly bars, rolling band, CDC
  snapshot and SCD2 history. Each is a recurrence over a key's events
  in (ts, event_id) order, which no aggregate expresses, so it runs as
  an ``applyInPandasWithState`` fold built by ``_ordered_replay``: the
  twin supplies only its per-event ``step`` and its ``emit``. Ordering
  contract, shared by all nine: events must arrive in non-decreasing
  (ts, event_id) order per key ACROSS micro-batches (within a batch the
  slice is sorted); an event at or below the key's (last_us, last_id)
  high-water mark — the first two fields of every ordered state — is
  DROPPED, never replayed backwards, which also makes redelivery
  idempotent. This is the contract of a watermark with dropped lates,
  enforced per key.
- **Shard-keyed sketches** (heavy hitters, quantile sketch, KMV): items
  hash across ``n_shards`` state keys, and each shard folds its slice
  into the batch operator's own bounded Python summary.

Scale: state is partitioned by key across the cluster's state store
(RocksDB provider on a real deployment); each micro-batch shuffles only
its own rows to their key's partition. State is O(1) per key, or
O(k) per shard, except SCD2's version chain, which is short by the
dimension contract on ``SCD2_STATE``.
"""

from __future__ import annotations

from types import SimpleNamespace
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from financial_data_engineering_spark.operators.finance import (
    BAND_K,
    EWMA_ALPHA_DEN,
    EWMA_ALPHA_NUM,
    ROLL_MIN,
    ROLL_N,
)


def _stateful(
    frame: DataFrame,
    key: str,
    fold: Callable,
    output: str,
    state: str,
    mode: str = "update",
) -> DataFrame:
    """``frame`` grouped by ``key`` through ``fold`` under
    ``applyInPandasWithState``. State never expires (lifetime state —
    swap in ``GroupStateTimeout.EventTimeTimeout`` plus a watermark to
    bound state for keys that go quiet)."""
    return frame.groupBy(key).applyInPandasWithState(
        fold,
        outputStructType=output,
        stateStructType=state,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _ordered_replay(
    state_schema: str,
    init: tuple,
    step: Callable[[SimpleNamespace, int, Any], Any],
    emit: Callable[[Any, SimpleNamespace, list], pd.DataFrame],
) -> Callable:
    """The fold of an ordered twin. Restores the key's state (or
    ``init``) as a namespace named by ``state_schema``'s fields, whose
    first two are the (last_us, last_id) high-water mark; replays the
    batch slice in (ts, event_id) order, dropping every event at or
    below the mark; calls ``step(s, us, event)`` per surviving event and
    collects what it returns (if not None); advances the mark; persists
    the state; and yields ``emit(key, s, collected)``. An empty batch
    iterator (key timeouts deliver one) leaves the state untouched.
    Steps replace list fields rather than mutate them, so an ``init``
    list is never shared between keys."""
    names = [field.split()[0] for field in state_schema.split(",")]

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        s = SimpleNamespace(
            **dict(zip(names, state.get if state.exists else init))
        )
        out = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            for ev in batch.itertuples(index=False):
                us, ident = int(ev.ts.value // 1000), int(ev.event_id)
                if s.last_us is not None and (us, ident) <= (
                    s.last_us,
                    s.last_id,
                ):
                    continue  # late vs state: drop, never replay backwards
                row = step(s, us, ev)
                if row is not None:
                    out.append(row)
                s.last_us, s.last_id = us, ident
            state.update(tuple(getattr(s, n) for n in names))
        yield emit(key[0], s, out)

    return fold


def _px_events(events: DataFrame) -> DataFrame:
    """(user_id, ts, event_id, px): px is the e2-scaled value, the batch
    twins' integer price column."""
    return events.select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("px"),
    )


# -- native aggregates: the order-free twins ----------------------------------


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user lifetime stats (event count, value sum rounded to cents,
    max single value, last-seen timestamp), updated each micro-batch —
    the feature-store/CDC shape: downstream consumers always see the
    latest per-key aggregate without recomputing history. A native
    streaming aggregate, so arrival order cannot matter. Use with
    ``outputMode("update")``; the state is one aggregation buffer per
    user and never expires."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("value").alias("max_value"),
        F.max("ts").alias("last_ts"),
    )


def running_ohlc(events: DataFrame) -> DataFrame:
    """Per-user running OHLC of event values — the streaming twin of
    ``user_value_ohlc`` (queries/finance.py), and the same aggregate:
    ``events_ohlc`` (``operators.finance.ohlc_bars`` keyed by the
    (unix_micros(ts), event_id) struct, plus ``sum_e2``) applied to the
    stream. Each micro-batch merges its partial bars into the per-user
    buffer and re-emits the lifetime bar (update mode). The merge is
    associative and commutative, so equal inputs give EQUAL outputs
    under ANY arrival order — a strictly stronger parity guarantee than
    the ordered twins', parity-tested with an arbitrary
    (non-chronological) batch split. State per user is one OHLC
    aggregation buffer."""
    from financial_data_engineering_spark.queries.finance import events_ohlc

    return events_ohlc(events)


def running_hll_registers(items: DataFrame, item_col: str) -> DataFrame:
    """Streaming HyperLogLog — the stateful twin of
    ``operators.hll.hll_registers``. Keys hash and bucket with the SAME
    pinned expressions as the batch operator (``hll_bucket_rho``:
    bucket = top p bits, rho from the base-2 string length), then a
    native ``max(rho)`` per bucket: the state is one register per bucket
    — m integers total, the textbook O(m) streaming sketch — and
    registers only grow, so the latest snapshot per bucket is just
    ``max(reg)`` over the update stream. Feeding the final snapshot to
    ``hll_estimate_from_registers`` reproduces the batch estimate
    BIT-IDENTICALLY over the same key set (max is order-free). The keys
    are not de-duplicated first: a ``distinct`` would make the state
    hold every distinct key. For the same reason the exact-count audit
    column — the batch operator's ``cnt`` needs the distinct keys
    themselves — is not carried; the twin emits registers only."""
    from financial_data_engineering_spark.operators.hll import hll_bucket_rho
    from financial_data_engineering_spark.operators.sketch import kmv_hash

    hashed = items.filter(F.col(item_col).isNotNull()).select(
        kmv_hash(F.col(item_col)).alias("h")
    )
    return (
        hll_bucket_rho(hashed)
        .groupBy(F.col("bucket").cast("int").alias("bucket"))
        .agg(F.max("rho").alias("reg"))
    )


# -- shard-keyed sketches -----------------------------------------------------


MG_OUTPUT = "shard int, item string, cnt long, seen long"

#: per-shard Misra-Gries summary: parallel (item, count) arrays, the
#: accumulated error mass, and the total items folded so far (``seen`` —
#: monotone per shard, so the latest snapshot is the max-seen emission).
MG_STATE = "items array<string>, cnts array<long>, err long, seen long"


def _fold_heavy_hitters(k: int):
    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """State transition: fold this batch's slice into the shard's
        k-counter Misra-Gries summary — the SAME add/trim/subtract step
        as the batch operator's per-partition fold
        (operators/heavyhitters.py ``_partition_summaries``), with the
        summary persisted across micro-batches instead of across Arrow
        batches. Emits the shard's full current summary plus the NULL
        error-mass marker, ``merge_summaries``-ready."""
        items, cnts, err, seen = (
            state.get if state.exists else ([], [], 0, 0)
        )
        counters = pd.Series(
            list(cnts), index=list(items), dtype="int64"
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen += len(pdf)
            batch = pdf["item"].value_counts()
            counters = counters.add(batch, fill_value=0).astype("int64")
            if len(counters) > k:
                m = int(counters.nlargest(k + 1).iloc[-1])
                counters = counters - m
                counters = counters[counters > 0]
                err += m
        state.update(
            (
                [str(i) for i in counters.index],
                [int(v) for v in counters.values],
                int(err),
                int(seen),
            )
        )
        n = len(counters)
        yield pd.DataFrame(
            {
                "shard": [key[0]] * (n + 1),
                "item": list(counters.index.astype(str)) + [None],
                "cnt": list(counters.values) + [err],
                "seen": [seen] * (n + 1),
            }
        )

    return fold


def running_heavy_hitters(
    items: DataFrame,
    item_col: str,
    k: int,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — the stateful twin of
    ``operators.heavyhitters.misra_gries_topk``. Items hash-shard across
    ``n_shards`` state keys; each shard folds its micro-batch slice into
    a persisted k-counter summary and re-emits the summary (update mode).
    Because every item lives in exactly ONE shard, merging the latest
    per-shard snapshots with ``operators.heavyhitters.merge_summaries``
    yields global estimates with the batch guarantee intact:
    est <= true <= est + err_bound.

    Scale: state is k counters x n_shards — constant, independent of the
    stream's key domain (the whole point vs a streaming exact count
    whose state grows with |distinct|); each micro-batch shuffles only
    its own rows, once, to their shard. Size n_shards to the cluster's
    parallelism, not the data: more shards = more parallel folds and a
    proportionally larger (still tiny) merged summary."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    rows = (
        items.select(F.col(item_col).cast("string").alias("item"))
        .filter(F.col("item").isNotNull())
        .withColumn(
            "shard", F.pmod(F.xxhash64("item"), F.lit(n_shards)).cast("int")
        )
    )
    return _stateful(
        rows, "shard", _fold_heavy_hitters(k), MG_OUTPUT, MG_STATE
    )


QSK_OUTPUT = "shard int, value double, weight long, seen long"

#: per-shard MRL/KLL sketch state: the level buffers, their compaction
#: parities, the accumulated rank-error mass, and the total values folded
#: (``seen`` — monotone per shard, so the latest snapshot is max-seen).
QSK_STATE = (
    "levels array<array<double>>, parity array<int>, err long, seen long"
)


def _fold_quantile_sketch(k: int):
    from financial_data_engineering_spark.operators.quantilesketch import (
        _Sketch,
    )

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """State transition: rebuild the shard's sketch from state,
        fold this batch's slice (the SAME compaction step as the batch
        operator — operators/quantilesketch.py), persist, and emit the
        current (value, weight) sample plus the NULL error marker,
        ``sketch_quantiles``-ready."""
        sk = _Sketch(k)
        seen = 0
        if state.exists:
            levels, parity, err, seen = state.get
            sk.levels = [list(buf) for buf in levels]
            sk.parity = list(parity)
            sk.err = int(err)
        for pdf in pdfs:
            col = pdf["value"].dropna()
            if len(col):
                seen += len(col)
                sk.add_many(col.to_numpy())
        state.update(
            (
                [[float(v) for v in buf] for buf in sk.levels],
                [int(p) for p in sk.parity],
                int(sk.err),
                int(seen),
            )
        )
        vals, wts = sk.rows()
        n = len(vals)
        yield pd.DataFrame(
            {
                "shard": [key[0]] * (n + 1),
                "value": vals + [None],
                "weight": wts + [sk.err],
                "seen": [seen] * (n + 1),
            }
        )

    return fold


def running_quantile_sketch(
    values: DataFrame,
    value_col: str,
    k: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming quantile sketch — the stateful twin of
    ``operators.quantilesketch.quantile_sketch``. Values hash-shard
    across ``n_shards`` state keys (on the VALUE, so the shard split is
    deterministic under replay); each shard folds its micro-batch slice
    into a persisted MRL sketch and re-emits the summary (update mode).
    Sketches merge by concatenation with error addition, so feeding the
    latest per-shard snapshots to ``operators.quantilesketch
    .sketch_quantiles`` answers global rank queries with the batch
    guarantee intact: every estimate's true rank is within the summed
    err_bound of its target.

    State is k·levels values per shard — bounded and independent of the
    stream's length; each micro-batch shuffles only its own rows, once,
    to their shard."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    rows = (
        values.select(F.col(value_col).cast("double").alias("value"))
        .filter(F.col("value").isNotNull())
        .withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col("value")), F.lit(n_shards)).cast("int"),
        )
    )
    return _stateful(
        rows, "shard", _fold_quantile_sketch(k), QSK_OUTPUT, QSK_STATE
    )


KMV_OUTPUT = "shard int, h long, seen long"

#: per-shard KMV state: the bottom-k distinct hashes routed to this shard
#: and the total rows folded (``seen`` — monotone; latest snapshot =
#: max-seen emission).
KMV_STATE = "mins array<long>, seen long"


def _fold_kmv(k: int):
    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """State transition: union this batch's hash slice into the
        shard's bottom-k DISTINCT set and truncate — the KMV merge rule,
        associative and order-free, so the per-shard snapshots union to
        exactly the global bottom-k."""
        mins, seen = state.get if state.exists else ([], 0)
        s = set(int(m) for m in mins)
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen += len(pdf)
            s.update(int(h) for h in pdf["h"])
        mins = sorted(s)[:k]
        state.update((mins, int(seen)))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(mins),
                "h": mins,
                "seen": [seen] * len(mins),
            }
        )

    return fold


def running_kmv_distinct(
    items: DataFrame,
    item_col: str,
    k: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming KMV distinct-count sketch — the stateful twin of
    ``operators.sketch.kmv_distinct``. Keys hash (in Spark, the same
    md5-prefix family as the batch operator) and shard BY HASH VALUE, so
    each distinct key lives in exactly one shard's bottom-k state; the
    union of the latest per-shard snapshots therefore contains the global
    bottom-k, and feeding it to ``operators.sketch
    .kmv_distinct_from_hashes`` reproduces the batch estimate
    BIT-IDENTICALLY over the same key set (KMV is order-independent —
    unlike the MG/quantile twins, whose guarantees are bounds, this
    parity is exact equality, pinned by test).

    State is <= k hashes per shard; each micro-batch shuffles only its
    own rows, once. Note the estimate audits only the sketch: the exact
    distinct column of the batch operator has no bounded-state streaming
    equivalent — n_exact from the merged snapshots counts distincts the
    sketches RETAINED, a lower bound once any shard truncates."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from financial_data_engineering_spark.operators.sketch import kmv_hash

    rows = (
        items.filter(F.col(item_col).isNotNull())
        .select(kmv_hash(F.col(item_col)).alias("h"))
        .withColumn(
            "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int")
        )
    )
    return _stateful(rows, "shard", _fold_kmv(k), KMV_OUTPUT, KMV_STATE)



# -- ordered replays: the order-dependent twins -------------------------------


TRANSITION_OUTPUT = (
    "user_id long, prev_type string, next_type string, ts timestamp"
)

#: last event seen per user: the (ts, id) high-water mark + its type.
TRANSITION_STATE = "last_us long, last_id long, last_type string"


def _step_transition(s: SimpleNamespace, us: int, ev: Any):
    """Chain the event after the user's last one: one (prev, next, ts)
    row per adjacent pair."""
    prev, s.last_type = s.last_type, ev.event_type
    if prev is not None:
        return prev, ev.event_type, ev.ts
    return None


def _emit_transition_rows(user: Any, s: SimpleNamespace, out: list):
    return pd.DataFrame(
        [(user, *row) for row in out],
        columns=["user_id", "prev_type", "next_type", "ts"],
    )


_emit_transitions = _ordered_replay(
    TRANSITION_STATE,
    (None, None, None),
    _step_transition,
    _emit_transition_rows,
)


def event_transitions(events: DataFrame) -> DataFrame:
    """Per-user event-type transitions as they happen — the streaming twin
    of ``event_transition_counts`` (queries/analytics_ext.py): each emitted
    row is one (prev_type → next_type) step in a user's sequence; counting
    them grouped by the pair reproduces the batch query exactly when
    events arrive in per-user event-time order (the micro-batch slice is
    sorted, and state carries the last event across batches).

    Out-of-order arrival ACROSS batches is handled by the state's
    (ts, id) guard: an event at or before the per-user high-water mark is
    DROPPED, never emitted as a backwards transition — the same contract
    as a watermark with dropped lates, enforced per key. State per user
    is one (ts, id, type) triple — O(|users|), the minimum any sequence
    detector can hold."""
    return _stateful(
        events.select("user_id", "ts", "event_id", "event_type"),
        "user_id",
        _emit_transitions,
        TRANSITION_OUTPUT,
        TRANSITION_STATE,
        mode="append",
    )


TWAP_OUTPUT = (
    "user_id long, n_segments long, span_us long, twap_e2 long"
)

#: per-user TWAP state: the (ts, id) high-water mark, the last e2 value,
#: and the closed-segment accumulators (count, total duration, value-time
#: area in e2-microseconds).
TWAP_STATE = (
    "last_us long, last_id long, last_px long, "
    "n_segments long, span_us long, area_e2us long"
)


def _step_twap(s: SimpleNamespace, us: int, ev: Any) -> None:
    """Close the segment from the last observation to this one with
    exact integer microsecond x e2-value area. Zero-duration segments
    (same-timestamp events) close with zero weight, matching the batch
    query's dur > 0 filter."""
    if s.last_us is not None and us > s.last_us:
        dur = us - s.last_us
        s.n_segments += 1
        s.span_us += dur
        s.area_e2us += s.last_px * dur
    s.last_px = int(ev.px)


def _emit_twap(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    span = s.span_us
    twap = (2 * s.area_e2us + span) // (2 * span) if span else None
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_segments": [s.n_segments],
            "span_us": [span],
            "twap_e2": [twap],
        }
    )


_fold_twap = _ordered_replay(
    TWAP_STATE, (None, None, None, 0, 0, 0), _step_twap, _emit_twap
)


def running_twap(events: DataFrame) -> DataFrame:
    """Per-user running time-weighted average value — the streaming twin
    of ``user_value_twap`` (queries/analytics_ext.py): each micro-batch
    closes the segments it completes and re-emits the user's lifetime
    TWAP (update mode), with the last observation carried in state so
    segments spanning batch boundaries close exactly. Arithmetic is the
    batch query's: e2 values x exact microsecond durations, one half-up
    division — equal inputs in event-time order give EQUAL outputs
    (parity-tested). State per user is one observation + three
    accumulators; out-of-order arrivals across batches drop at the
    (ts, id) guard — a late event would otherwise fabricate a
    negative-duration segment."""
    return _stateful(
        _px_events(events), "user_id", _fold_twap, TWAP_OUTPUT, TWAP_STATE
    )


EWMA_OUTPUT = (
    "user_id long, n_events long, ewma_e2 long, dev_e2 long, "
    "n_above long, n_below long"
)

#: per-user EWMA band state: the (ts, id) high-water mark, plus the two
#: fixed-point accumulators and the breach counters. Two longs of real
#: state (ewma, dev) — the "unbounded per-key history" answer the batch
#: fold's docstring names.
EWMA_STATE = (
    "last_us long, last_id long, ewma_e2 long, dev_e2 long, "
    "n_events long, n_above long, n_below long"
)


def _tdiv(a: int, b: int) -> int:
    """SQL ``div``: truncation toward zero — what Spark's div and
    DuckDB's // both do, and what Python's floor // does NOT do for
    negative numerators. The twins must round identically."""
    q = abs(a) // b
    return -q if a < 0 else q


def _step_ewma_band(s: SimpleNamespace, us: int, ev: Any) -> None:
    """Advance the integer fixed-point recurrences exactly as the batch
    fold does: breach counters read the old (ewma, dev), then both
    advance with truncating division (operators/finance.py constants)."""
    x = int(ev.px)
    if s.n_events == 0:
        s.ewma_e2, s.dev_e2 = x, 0
    else:
        ewma, dev = s.ewma_e2, s.dev_e2
        rest = EWMA_ALPHA_DEN - EWMA_ALPHA_NUM
        half = EWMA_ALPHA_DEN // 2
        s.n_above += 1 if x > ewma + BAND_K * dev else 0
        s.n_below += 1 if x < ewma - BAND_K * dev else 0
        s.ewma_e2 = _tdiv(
            EWMA_ALPHA_NUM * x + rest * ewma + half, EWMA_ALPHA_DEN
        )
        s.dev_e2 = _tdiv(abs(x - ewma) + rest * dev + half, EWMA_ALPHA_DEN)
    s.n_events += 1


def _emit_ewma_band(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_events": [s.n_events],
            "ewma_e2": [s.ewma_e2],
            "dev_e2": [s.dev_e2],
            "n_above": [s.n_above],
            "n_below": [s.n_below],
        }
    )


_fold_ewma_band = _ordered_replay(
    EWMA_STATE,
    (None, None, None, None, 0, 0, 0),
    _step_ewma_band,
    _emit_ewma_band,
)


def running_ewma_band(events: DataFrame) -> DataFrame:
    """Per-user running EWMA value band — the streaming twin of
    ``user_value_ewma_band`` (queries/finance.py): each micro-batch
    replays its events in (ts, event_id) order through the identical
    integer fixed-point recurrence and re-emits the user's lifetime
    (ewma, dev, breach counters) in update mode. Equal inputs delivered
    in event-time order across any batch split give EQUAL outputs
    (parity-tested); the recurrence is order-DEPENDENT, so out-of-order
    arrivals across batches drop at the high-water-mark guard."""
    return _stateful(
        _px_events(events), "user_id", _fold_ewma_band, EWMA_OUTPUT, EWMA_STATE
    )


DRAWDOWN_OUTPUT = (
    "user_id long, n_events long, peak_e2 long, max_drawdown_e2 long"
)

#: per-user drawdown state: the (ts, id) high-water mark plus peak and
#: max-drawdown — the O(1)-state property that makes drawdown streamable
#: at all (the full cummax series never needs to exist).
DRAWDOWN_STATE = (
    "last_us long, last_id long, peak_e2 long, "
    "max_drawdown_e2 long, n_events long"
)


def _step_drawdown(s: SimpleNamespace, us: int, ev: Any) -> None:
    """Lift the running peak, then measure this observation's drawdown
    against it — the batch cummax window's arithmetic."""
    x = int(ev.px)
    s.peak_e2 = x if s.peak_e2 is None else max(s.peak_e2, x)
    s.max_drawdown_e2 = max(s.max_drawdown_e2, s.peak_e2 - x)
    s.n_events += 1


def _emit_drawdown(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_events": [s.n_events],
            "peak_e2": [s.peak_e2],
            "max_drawdown_e2": [s.max_drawdown_e2 if s.n_events else None],
        }
    )


_fold_drawdown = _ordered_replay(
    DRAWDOWN_STATE, (None, None, None, 0, 0), _step_drawdown, _emit_drawdown
)


def running_drawdown(events: DataFrame) -> DataFrame:
    """Per-user running maximum drawdown — the streaming twin of
    ``user_value_max_drawdown`` (queries/finance.py). Drawdown needs
    only (peak, max_dd) to advance, so the state is two longs plus the
    replay high-water mark; equal inputs in event-time order across any
    batch split give EQUAL outputs (parity-tested). Late arrivals drop
    at the (ts, id) guard — a late trough BELOW the then-peak would
    otherwise be measured against a peak it never traded under."""
    return _stateful(
        _px_events(events),
        "user_id",
        _fold_drawdown,
        DRAWDOWN_OUTPUT,
        DRAWDOWN_STATE,
    )


UNDERWATER_OUTPUT = (
    "user_id long, n_runs long, max_run_ticks long, max_run_dur_us long"
)

#: per-user underwater-run state: the (ts, id) high-water mark, the
#: running peak, the OPEN run (start micros + tick count; run_start < 0 =
#: no open run), and the run census maxima. O(1) regardless of history
#: length — run-length drawdown analytics never need the tick series.
UNDERWATER_STATE = (
    "last_us long, last_id long, peak_e2 long, "
    "run_start_us long, run_ticks long, "
    "n_runs long, max_run_ticks long, max_run_dur_us long"
)


def _step_underwater(s: SimpleNamespace, us: int, ev: Any) -> None:
    """A value strictly below the PRIOR peak is underwater (matching the
    batch query's cummax-including-current formulation: a fresh high is
    never underwater); an underwater tick opens or extends the current
    run, updating the tick/duration maxima in place, and a
    non-underwater tick closes it."""
    x = int(ev.px)
    if s.peak_e2 is not None and x < s.peak_e2:
        if s.run_start_us < 0:
            s.n_runs += 1
            s.run_start_us, s.run_ticks = us, 0
        s.run_ticks += 1
        s.max_run_ticks = max(s.max_run_ticks, s.run_ticks)
        s.max_run_dur_us = max(s.max_run_dur_us, us - s.run_start_us)
    else:
        s.run_start_us, s.run_ticks = -1, 0
    s.peak_e2 = x if s.peak_e2 is None else max(s.peak_e2, x)


def _emit_underwater(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_runs": [s.n_runs],
            "max_run_ticks": [s.max_run_ticks],
            "max_run_dur_us": [s.max_run_dur_us],
        }
    )


_fold_underwater = _ordered_replay(
    UNDERWATER_STATE,
    (None, None, None, -1, 0, 0, 0, 0),
    _step_underwater,
    _emit_underwater,
)


def running_underwater(events: DataFrame) -> DataFrame:
    """Per-user running underwater-run census — the streaming twin of
    ``user_value_underwater_runs`` (queries/finance.py). The batch
    query's gaps-and-islands construction needs the whole series; the
    stream carries only peak + the open run + maxima (O(1)), because a
    run's contribution to the maxima is monotone while it is open.
    Equal inputs in event-time order across any batch split give EQUAL
    outputs for every user with at least one run (parity-tested; the
    batch query omits never-underwater users, the stream reports them
    with n_runs=0). Late arrivals drop at the (ts, id) guard — run
    composition is order-dependent."""
    return _stateful(
        _px_events(events),
        "user_id",
        _fold_underwater,
        UNDERWATER_OUTPUT,
        UNDERWATER_STATE,
    )


MONTHLY_BARS_OUTPUT = (
    "user_id long, n_events long, n_bars long, n_diffs long, "
    "sum_d_e2 long, min_d_e2 long, max_d_e2 long, n_up long, n_down long"
)

#: per-user monthly-bar state: the (ts, id) high-water mark, the OPEN
#: bar (calendar month index + its close-so-far), the previous CLOSED
#: bar's close, and the committed diff accumulators. One bar of state
#: regardless of history — bar construction is the canonical streaming
#: finance workload precisely because it folds to this.
MONTHLY_BARS_STATE = (
    "last_us long, last_id long, n_events long, cur_month long, "
    "cur_close long, prev_close long, n_bars_closed long, n_diffs long, "
    "sum_d long, min_d long, max_d long, n_up long, n_down long"
)


def _commit_diff(s: SimpleNamespace, d: int) -> None:
    """Add one close-to-close diff to the accumulators."""
    s.n_diffs += 1
    s.sum_d += d
    s.min_d = d if s.min_d is None else min(s.min_d, d)
    s.max_d = d if s.max_d is None else max(s.max_d, d)
    s.n_up += 1 if d > 0 else 0
    s.n_down += 1 if d < 0 else 0


def _step_monthly_bar(s: SimpleNamespace, us: int, ev: Any) -> None:
    """Ordered replay makes the month sequence non-decreasing, so a
    month change CLOSES the open bar — committing its close-to-close
    diff against the previous close — and opens the next."""
    month = ev.ts.year * 12 + ev.ts.month
    if s.cur_month is not None and month != s.cur_month:
        if s.prev_close is not None:
            _commit_diff(s, s.cur_close - s.prev_close)
        s.prev_close = s.cur_close
        s.n_bars_closed += 1
    s.cur_month, s.cur_close = month, int(ev.px)
    s.n_events += 1


def _emit_monthly_bars(
    user: Any, s: SimpleNamespace, out: list
) -> pd.DataFrame:
    """Closed-bar stats plus the OPEN bar provisionally: its close so far
    is exactly what the batch query's last() would see if the stream
    ended now, so every snapshot equals the batch query on the same
    prefix."""
    snap = SimpleNamespace(**vars(s))
    if s.cur_month is not None and s.prev_close is not None:
        _commit_diff(snap, s.cur_close - s.prev_close)
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_events": [s.n_events],
            "n_bars": [s.n_bars_closed + (s.cur_month is not None)],
            "n_diffs": [snap.n_diffs],
            "sum_d_e2": [snap.sum_d if snap.n_diffs else None],
            "min_d_e2": [snap.min_d],
            "max_d_e2": [snap.max_d],
            "n_up": [snap.n_up],
            "n_down": [snap.n_down],
        }
    )


_fold_monthly_bars = _ordered_replay(
    MONTHLY_BARS_STATE,
    (None, None, 0, None, None, None, 0, 0, 0, None, None, 0, 0),
    _step_monthly_bar,
    _emit_monthly_bars,
)


def running_monthly_bars(events: DataFrame) -> DataFrame:
    """Per-user streaming monthly-bar construction with close-to-close
    diff statistics — the streaming twin of ``user_monthly_bar_diffs``
    (queries/finance.py). The state is ONE open bar (month index +
    close-so-far) plus the previous close and the committed
    accumulators; ordered replay makes months non-decreasing, so bar
    rollover is a pure state transition and no tick history is ever
    held. Every update-mode snapshot equals the batch query run on the
    prefix delivered so far (the open bar enters provisionally),
    parity-tested across a batch split that lands mid-month. Late
    arrivals drop at the (ts, id) guard — a late tick could otherwise
    reopen a closed bar."""
    return _stateful(
        _px_events(events),
        "user_id",
        _fold_monthly_bars,
        MONTHLY_BARS_OUTPUT,
        MONTHLY_BARS_STATE,
    )


ROLLBAND_OUTPUT = (
    "user_id long, n_events long, n_eval long, n_above long, n_below long"
)

#: per-user rolling-band state: the (ts, id) high-water mark, the last
#: ROLL_N px values (the ROWS window IS the state, so streaming this
#: metric needs exactly ROLL_N values per key) and the counters.
ROLLBAND_STATE = (
    "last_us long, last_id long, w_px array<long>, "
    "n_events long, n_eval long, n_above long, n_below long"
)


def _step_rolling_band(s: SimpleNamespace, us: int, ev: Any) -> None:
    """Evaluate the observation against the previous <= ROLL_N with the
    batch query's exact integer squared-inequality, then slide the
    window. Python ints make the arithmetic arbitrary-precision, which
    is fine: the batch side is proven in-int64 by its headroom bound, so
    both compute the same values."""
    x, w = int(ev.px), s.w_px
    n = len(w)
    if n >= ROLL_MIN:
        s.n_eval += 1
        sm = sum(w)
        ss = sum(v * v for v in w)
        diff = n * x - sm
        if diff * diff > BAND_K * BAND_K * (n * ss - sm * sm):
            s.n_above += 1 if diff > 0 else 0
            s.n_below += 1 if diff < 0 else 0
    s.w_px = [*w, x][-ROLL_N:]
    s.n_events += 1


def _emit_rolling_band(
    user: Any, s: SimpleNamespace, out: list
) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_events": [s.n_events],
            "n_eval": [s.n_eval],
            "n_above": [s.n_above],
            "n_below": [s.n_below],
        }
    )


_fold_rolling_band = _ordered_replay(
    ROLLBAND_STATE,
    (None, None, [], 0, 0, 0, 0),
    _step_rolling_band,
    _emit_rolling_band,
)


def running_rolling_band(events: DataFrame) -> DataFrame:
    """Per-user running rolling-band breach counters — the streaming
    twin of ``user_value_rolling_band`` (queries/finance.py). The ROWS
    window is the state: exactly the last ROLL_N px values per user
    cross each batch boundary, so boundary-spanning windows evaluate
    with identical integer arithmetic (parity-tested). The window is
    order-dependent, so out-of-order arrivals across batches drop at the
    (ts, id) high-water-mark guard."""
    return _stateful(
        _px_events(events),
        "user_id",
        _fold_rolling_band,
        ROLLBAND_OUTPUT,
        ROLLBAND_STATE,
    )


CDC_OUTPUT = "user_id long, n_changes long, present boolean, val_e2 long"

#: per-key CDC state: (ts, id) high-water mark, row presence after the
#: latest change, its value, and a change counter (the monotone column
#: final-snapshot consumers pick the last update by). O(1) per key — a
#: CDC snapshot never needs the change history.
CDC_STATE = (
    "last_us long, last_id long, present boolean, val_e2 long, "
    "n_changes long"
)


def _step_cdc(s: SimpleNamespace, us: int, ev: Any) -> None:
    """op 'D' marks the row absent, any other op upserts the payload —
    the batch operator's last-writer-wins rule (operators/cdc.py),
    advanced one change at a time."""
    if ev.op == "D":
        s.present, s.val_e2 = False, None
    else:
        s.present, s.val_e2 = True, int(ev.val_e2)
    s.n_changes += 1


def _emit_cdc(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [user],
            "n_changes": [s.n_changes],
            "present": [s.present],
            "val_e2": [s.val_e2],
        }
    )


_fold_cdc_snapshot = _ordered_replay(
    CDC_STATE, (None, None, False, None, 0), _step_cdc, _emit_cdc
)


def running_cdc_snapshot(changes: DataFrame) -> DataFrame:
    """Continuously-maintained CDC snapshot — the streaming twin of
    ``apply_changelog`` (operators/cdc.py): every micro-batch emits the
    updated row state for each touched key, so downstream consumers
    always hold the latest upsert/delete resolution without replaying
    the changelog. Input needs (user_id, ts, event_id, op, val_e2);
    deletes keep the key in state (present=false) so a later change
    resurrects it with the same arithmetic as the batch full-outer
    merge (parity-tested against apply_changelog over the same
    changelog in tests/test_streaming.py). Ordering contract: changes
    arrive in non-decreasing (ts, event_id) order per key across
    micro-batches; a late change drops at the (ts, id) guard, since
    last-writer-wins is order-bound."""
    return _stateful(
        changes, "user_id", _fold_cdc_snapshot, CDC_OUTPUT, CDC_STATE
    )


SCD2_OUTPUT = (
    "user_id long, version long, val_e2 long, valid_from timestamp, "
    "valid_to timestamp, is_current long, n_observations long, "
    "n_total long"
)

#: per-key SCD2 state: the (ts, id) high-water mark, the FULL version
#: history as parallel arrays (value, open-micros, observation count per
#: version) and a monotone total-observation counter. The history is
#: bounded by |distinct consecutive attribute values|, not |events| — a
#: dimension's version chain is short by construction (a key that
#: changes attributes per-event is a fact, not a dimension), so holding
#: it in the state store is the same O(|dim versions|) a batch build
#: materializes. valid_to/is_current are DERIVED at emission (next
#: version's open edge), never stored — so they can never drift from
#: the chain.
SCD2_STATE = (
    "last_us long, last_id long, vals array<long>, froms array<long>, "
    "nobs array<long>, n_total long"
)


def _step_scd2(s: SimpleNamespace, us: int, ev: Any) -> None:
    """An observation whose attribute equals the OPEN version's merges
    into it (n_observations += 1), anything else closes the open version
    and opens a new one — the NULL-safe consecutive-collapse rule of the
    batch operator (transform/scd.py scd2_from_observations)."""
    val = None if pd.isna(ev.val_e2) else int(ev.val_e2)
    if not s.vals or s.vals[-1] != val:  # NULL-safe: None != x, None == None
        s.vals, s.froms, s.nobs = [*s.vals, val], [*s.froms, us], [*s.nobs, 1]
    else:
        s.nobs = [*s.nobs[:-1], s.nobs[-1] + 1]
    s.n_total += 1


def _emit_scd2(user: Any, s: SimpleNamespace, out: list) -> pd.DataFrame:
    """The key's full updated history (short by the dimension contract
    above); final-snapshot consumers pick the rows of the max-``n_total``
    emission per key."""
    n = len(s.vals)
    return pd.DataFrame(
        {
            "user_id": [user] * n,
            "version": list(range(1, n + 1)),
            "val_e2": list(s.vals),
            "valid_from": [pd.Timestamp(us, unit="us") for us in s.froms],
            "valid_to": [
                pd.Timestamp(s.froms[i + 1], unit="us") if i + 1 < n else None
                for i in range(n)
            ],
            "is_current": [0] * (n - 1) + [1] if n else [],
            "n_observations": list(s.nobs),
            "n_total": [s.n_total] * n,
        }
    )


_fold_scd2_history = _ordered_replay(
    SCD2_STATE, (None, None, [], [], [], 0), _step_scd2, _emit_scd2
)


def running_scd2_history(observations: DataFrame) -> DataFrame:
    """Continuously-maintained type-2 dimension — the streaming twin of
    ``scd2_from_observations`` (transform/scd.py), closing the
    dimensional layer's last batch-only operator. Input needs
    (user_id, ts, event_id, val_e2); every micro-batch emits the full
    updated version history for each touched key, with valid_to /
    is_current re-derived from the chain so the half-open-interval
    invariant (probe ``valid_from <= t < valid_to`` matches exactly one
    version) holds after every batch, not just at the end.

    Ordering contract: observations must arrive in non-decreasing
    (ts, event_id) order per key ACROSS micro-batches (a time-ordered
    changelog replay — the CDC twin's contract); anything at or below
    the high-water mark is dropped, which also makes redelivery
    idempotent. Parity with the batch build over the same log is
    pinned in tests/test_streaming.py.

    Scale: state is hash-partitioned by key across the state store
    (RocksDB on a real deployment); per batch each touched key costs
    O(|batch slice| + |version chain|) — the chain is short by the
    dimension contract documented on SCD2_STATE."""
    return _stateful(
        observations,
        "user_id",
        _fold_scd2_history,
        SCD2_OUTPUT,
        SCD2_STATE,
    )
