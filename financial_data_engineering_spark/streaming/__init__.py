"""Structured Streaming extensions: windowed aggregations, sessionization,
and watermark-bounded dedup over the events stream (events.py), stream
screens over the document corpus (documents.py), and the stateful twins
of batch queries (stateful.py): order-free folds run as native streaming
aggregates, order-dependent folds as one shared (ts, event_id)-ordered
replay under applyInPandasWithState, and the shard-keyed sketches as
per-shard Python summaries."""

from financial_data_engineering_spark.streaming.documents import (
    contamination_screen,
    near_dup_screen,
    read_document_stream,
)
from financial_data_engineering_spark.streaming.stateful import (
    event_transitions,
    running_cdc_snapshot,
    running_heavy_hitters,
    running_hll_registers,
    running_kmv_distinct,
    running_drawdown,
    running_ewma_band,
    running_ohlc,
    running_rolling_band,
    running_scd2_history,
    running_quantile_sketch,
    running_twap,
    running_user_stats,
)
from financial_data_engineering_spark.streaming.events import (
    SESSION_GAP,
    WATERMARK,
    dedup_events,
    enrich_events,
    funnel_pairs,
    hourly_rollup,
    read_event_stream,
    run_to_memory_sink,
    run_to_parquet_sink,
    sliding_counts,
    user_sessions,
)

__all__ = [
    "SESSION_GAP",
    "contamination_screen",
    "near_dup_screen",
    "read_document_stream",
    "WATERMARK",
    "dedup_events",
    "enrich_events",
    "funnel_pairs",
    "hourly_rollup",
    "read_event_stream",
    "run_to_memory_sink",
    "run_to_parquet_sink",
    "event_transitions",
    "running_cdc_snapshot",
    "running_heavy_hitters",
    "running_hll_registers",
    "running_kmv_distinct",
    "running_drawdown",
    "running_ewma_band",
    "running_ohlc",
    "running_rolling_band",
    "running_scd2_history",
    "running_quantile_sketch",
    "running_twap",
    "running_user_stats",
    "sliding_counts",
    "user_sessions",
]
