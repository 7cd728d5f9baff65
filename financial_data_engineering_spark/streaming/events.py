"""Structured Streaming operators over the events stream (SURVEY.md §2.L,
§7.4 — no streaming exists in the reference; these are the designed
extensions, with semantics pinned by the batch twins in queries/events.py).

Spark's unified model means each transformation here is the SAME logical
plan as its batch twin — the functions take any events-shaped DataFrame,
batch or streaming. What streaming adds is bounded state: every aggregation
declares a watermark so state for closed windows is dropped instead of
growing forever. Policy (documented here because the reference has none to
copy): events arriving more than WATERMARK late are dropped from
aggregates; session gap and window widths match the batch queries.

At scale: stateful operators shuffle on their grouping keys exactly like
batch; state lives in the state store (RocksDB-backed on a real cluster —
set ``spark.sql.streaming.stateStore.providerClass``), sized by
keys × open-windows, which the watermark bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from financial_data_engineering_spark.schemas import SCHEMAS

#: Default lateness bound for all stateful ops.
WATERMARK = "10 minutes"

#: Session inactivity gap — matches queries/events.py user_sessions.
SESSION_GAP = "30 minutes"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events-shaped parquet from ``path``.

    The file source is the replayable-log stand-in here; on a real
    deployment the same pipeline reads Kafka (``format("kafka")`` + JSON
    projection) — every transformation below is source-agnostic.
    ``maxFilesPerTrigger`` is the ingestion throttle (the streaming analog
    of the REST layer's token bucket).
    """
    # The events parquet stores ts as timestamp[us] — Spark's native
    # TimestampType precision — so the declared batch schema reads the
    # stream directly and batch/stream rows are bit-identical.
    reader = spark.readStream.schema(SCHEMAS["events"])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def hourly_rollup(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming twin of queries.events.hourly_event_rollup: tumbling
    1-hour windows per event type. State per (window, type) closes once the
    watermark passes window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_value_e2"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value_e2",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Streaming twin of queries.events.sliding_event_counts: 2-hour
    windows sliding hourly (each event in exactly two windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "total_value_e2"
            ),
            F.max(F.round(F.col("value") * 100).cast("long")).alias(
                "max_value_e2"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value_e2",
            "max_value_e2",
        )
    )


def user_sessions(
    events: DataFrame, gap: str = SESSION_GAP, watermark: str = WATERMARK
) -> DataFrame:
    """Streaming twin of queries.events.user_sessions: per-user session
    windows with a 30-minute inactivity gap. Sessions merge while open and
    emit once the watermark passes session end + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Exactly-once-per-event stream: drop replays of the same event_id.
    ``dropDuplicatesWithinWatermark`` keeps each id's state only until the
    watermark passes it — bounded memory, unlike a global distinct."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def funnel_pairs(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    horizon: str = "1 hour",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: every ``first_type`` event paired with
    each ``then_type`` event by the SAME user within ``horizon`` after it —
    the funnel/attribution primitive (click → purchase, signup → first
    error, …).

    Unified-model twin pair: on a batch frame the watermarks are no-ops
    and this is a plain equi-join on user with a time-range predicate
    (oracle-checked as ``event_funnel_pairs``); on a streaming frame the
    SAME code is a watermarked stream-stream inner join. The time bound in
    the join condition is what makes streaming state finite: Spark derives
    from it that a buffered ``first`` row can be dropped once the ``then``
    side's watermark passes its ts + horizon, so per-side state is
    bounded by (events within horizon + lateness), not the full history.

    At scale both sides shuffle once on user_id and matching is local to
    the user partition; the horizon predicate prunes pairs inside the
    join, so no time-cross-product ever materializes. Skewed power users
    bound the worst case at (clicks/hour × purchases/horizon) per user —
    linear state, quadratic only within one user-horizon.

    Output: user_id, first_id, then_id, micros_to_conversion (exact
    integer microseconds between the two events — float-free)."""
    first = (
        events.filter(F.col("event_type") == first_type)
        .select(
            F.col("user_id").alias("first_user"),
            F.col("event_id").alias("first_id"),
            F.col("ts").alias("first_ts"),
        )
        .withWatermark("first_ts", watermark)
    )
    then = (
        events.filter(F.col("event_type") == then_type)
        .select(
            F.col("user_id").alias("then_user"),
            F.col("event_id").alias("then_id"),
            F.col("ts").alias("then_ts"),
        )
        .withWatermark("then_ts", watermark)
    )
    return first.join(
        then,
        F.expr(
            "first_user = then_user AND then_ts > first_ts "
            f"AND then_ts <= first_ts + INTERVAL {horizon}"
        ),
        "inner",
    ).select(
        F.col("first_user").alias("user_id"),
        "first_id",
        "then_id",
        (F.unix_micros("then_ts") - F.unix_micros("first_ts")).alias(
            "micros_to_conversion"
        ),
    )


def run_to_memory_sink(
    stream: DataFrame, table_name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """Drain a (bounded) stream into an in-memory sink table and block
    until every available input file is processed — the test/dev harness
    path. Production sinks swap this for :func:`run_to_parquet_sink`.
    Returns the finished query, whose ``lastProgress`` reports the last
    micro-batch's state-store size per stateful operator."""
    query = (
        stream.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_to_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    *,
    partition_by: list[str] | None = None,
) -> None:
    """Durable sink: append the stream to parquet under ``path`` with a
    write-ahead checkpoint — the exactly-once production path (restart
    resumes from the checkpoint; already-committed files are never
    rewritten). ``availableNow`` drains everything currently available
    and stops, so the same call serves both backfill ("process the
    existing lake once") and incremental runs. Append mode means
    aggregated streams emit only watermark-finalized windows — the
    correct durable semantics (a window is written exactly once, when it
    can no longer change)."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.start().awaitTermination()


def enrich_events(
    events: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment: attach a slowly-changing dimension's
    payload to every event via a broadcast left join. Stream-static joins
    are STATELESS — no watermark, no state store; each micro-batch joins
    against the dimension as of that batch, so a dimension refresh (e.g.
    the SCD2 current-version view) is picked up on the next trigger
    without restarting the query.

    At scale the static side must stay broadcast-sized (dimension, not
    fact); if it outgrows the broadcast threshold Spark falls back to a
    per-batch shuffle join, which still works but costs a stream-side
    repartition every trigger — keep dimensions narrow."""
    return events.join(F.broadcast(dim), on=on, how="left")
