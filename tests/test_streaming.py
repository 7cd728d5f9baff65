"""Streaming tests: the unified-model contract. Each streaming operator,
drained over the sf0.001 events file with availableNow, must produce the
same rows as its batch twin (queries/events.py), which the DuckDB oracle
already pins. Also covers watermark-bounded replay dedup.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from financial_data_engineering_spark import queries as q
from financial_data_engineering_spark import streaming as st
from financial_data_engineering_spark.operators.hll import HLL_M
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-source streams need a directory of just the streamed table."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMALL}/events.parquet", d / "events.parquet")
    return str(d)


def _drain(spark, stream, name, mode="complete"):
    st.run_to_memory_sink(stream, name, output_mode=mode)
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _state_rows(query):
    """Rows held in the state store of the query's one stateful operator
    after its last micro-batch."""
    (op,) = query.lastProgress["stateOperators"]
    return op["numRowsTotal"]


def _n_users(spark):
    from financial_data_engineering_spark.tables import load

    return load(spark, "events", SF_SMALL).select("user_id").distinct().count()


def test_stream_matches_batch_schema_and_rows(spark, events_dir):
    stream = st.read_event_stream(spark, events_dir)
    assert stream.isStreaming
    got = _drain(spark, stream, "raw_events", mode="append")
    batch = q.all_queries()["hourly_event_rollup"](spark, SF_SMALL)
    # row count parity with the batch loader
    from financial_data_engineering_spark.tables import load

    assert got.count() == load(spark, "events", SF_SMALL).count()


def test_hourly_rollup_unified_with_batch(spark, events_dir):
    stream = st.hourly_rollup(st.read_event_stream(spark, events_dir))
    got = _drain(spark, stream, "stream_hourly")
    want = q.all_queries()["hourly_event_rollup"](spark, SF_SMALL)
    cols = ["window_start", "event_type", "n_events", "total_value_e2"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_counts_unified_with_batch(spark, events_dir):
    stream = st.sliding_counts(st.read_event_stream(spark, events_dir))
    got = _drain(spark, stream, "stream_sliding")
    want = q.all_queries()["sliding_event_counts"](spark, SF_SMALL)
    cols = ["window_start", "n_events", "total_value_e2", "max_value_e2"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessions_unified_with_batch(spark, events_dir):
    stream = st.user_sessions(st.read_event_stream(spark, events_dir))
    got = _drain(spark, stream, "stream_sessions")
    want = q.all_queries()["user_sessions"](spark, SF_SMALL)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dedup_drops_replayed_events(spark, events_dir, tmp_path):
    # Replay the same file twice into the stream directory -> every
    # event_id arrives twice; the deduped stream must keep one of each.
    replay_dir = tmp_path / "replayed"
    replay_dir.mkdir()
    shutil.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    shutil.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")
    stream = st.dedup_events(st.read_event_stream(spark, str(replay_dir)))
    got = _drain(spark, stream, "stream_dedup", mode="append")
    from financial_data_engineering_spark.tables import load

    n_unique = load(spark, "events", SF_SMALL).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_funnel_pairs_stream_stream_join_matches_batch(spark, events_dir):
    """Stream-stream interval join parity: the watermarked click→purchase
    join over the stream must emit exactly the pairs the batch twin (and
    its DuckDB oracle) produces."""
    stream = st.funnel_pairs(st.read_event_stream(spark, events_dir))
    assert stream.isStreaming
    got = _drain(spark, stream, "stream_funnel", mode="append")
    want = q.all_queries()["event_funnel_pairs"](spark, SF_SMALL)
    cols = ["user_id", "first_id", "then_id", "micros_to_conversion"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stateful_running_user_stats_accumulates_across_batches(
    spark, events_dir, tmp_path
):
    """applyInPandasWithState: two files forced into two micro-batches
    (maxFilesPerTrigger=1); the final update per user must equal the batch
    aggregate over both files together."""
    from financial_data_engineering_spark.streaming.stateful import (
        running_user_stats,
    )

    replay_dir = tmp_path / "two_batches"
    replay_dir.mkdir()
    shutil.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    shutil.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")

    stream = running_user_stats(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "user_stats", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_events, total_value, max_value, last_ts FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM user_stats) WHERE rn = 1"""
    )

    from financial_data_engineering_spark.tables import load

    ev = load(spark, "events", SF_SMALL)
    doubled = ev.unionByName(ev)
    want = doubled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("value").alias("max_value"),
        F.max("ts").alias("last_ts"),
    )
    cols = ["user_id", "n_events", "total_value", "max_value", "last_ts"]
    assert _rows(got, cols) == _rows(want, cols)


def test_parquet_sink_checkpoint_resume(spark, events_dir, tmp_path):
    """Durable sink contract: draining a dedup stream into parquet with a
    checkpoint writes each event exactly once, and a SECOND run against
    the same checkpoint is a no-op (restart resumes, never rewrites)."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = st.dedup_events(st.read_event_stream(spark, events_dir))
    st.run_to_parquet_sink(stream, out, ckpt)

    from financial_data_engineering_spark.tables import load

    want = load(spark, "events", SF_SMALL).select("event_id").distinct().count()
    got = spark.read.parquet(out)
    assert got.count() == want
    assert got.select("event_id").distinct().count() == want

    # resume against the same checkpoint: nothing new to process
    st.run_to_parquet_sink(stream, out, ckpt)
    assert spark.read.parquet(out).count() == want


def test_enrich_events_stream_static_join_matches_batch(spark, events_dir):
    """Stream-static broadcast enrichment: every streamed event picks up
    its dimension payload exactly as the batch join does; events with no
    dimension row keep NULL (left join), and the op is stateless (no
    watermark required)."""
    dim = spark.range(0, 5).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("tier_"), (F.col("id") % 3).cast("string")).alias("tier"),
    )
    stream = st.enrich_events(st.read_event_stream(spark, events_dir), dim)
    assert stream.isStreaming
    got = _drain(spark, stream, "stream_enriched", mode="append")
    batch = spark.read.parquet(events_dir)
    want_rows = _rows(
        batch.join(F.broadcast(dim), "user_id", "left"),
        ["event_id", "tier"],
    )
    assert _rows(got, ["event_id", "tier"]) == want_rows
    assert got.filter(F.col("tier").isNull()).count() > 0  # left-join nulls kept


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs_stream")
    shutil.copy(f"{SF_SMALL}/documents.parquet", d / "documents.parquet")
    return str(d)


def test_contamination_screen_stream_matches_batch(spark, docs_dir):
    """Streaming decontamination parity: the update-mode screen over the
    streamed corpus must flag exactly the documents the batch plan flags,
    with identical shared-shingle counts. Also cross-checked against the
    batch contamination operator aggregated over the eval union."""
    from financial_data_engineering_spark.tables import load

    docs = load(spark, "documents", SF_SMALL)
    is_eval = F.expr("substr(md5(CAST(doc_id AS STRING)), 1, 1) IN ('0', '1')")
    eval_docs = docs.filter(is_eval)

    stream = st.contamination_screen(
        st.read_document_stream(spark, docs_dir).filter(~is_eval), eval_docs
    )
    assert stream.isStreaming
    st.run_to_memory_sink(stream, "stream_contam", output_mode="update")
    got = _rows(spark.sql("SELECT * FROM stream_contam"), ["doc_id", "n_shared"])

    batch = st.contamination_screen(docs.filter(~is_eval), eval_docs)
    assert not batch.isStreaming  # unified model: same fn, batch frame
    want = _rows(batch, ["doc_id", "n_shared"])
    assert got == want
    assert len(got) > 0  # the sf0.001 corpus contains planted overlap


def test_near_dup_screen_stream_superset_of_batch_verifier(spark, docs_dir):
    """Streaming LSH near-dup screen parity + the LSH contract: the
    update-mode screen over the streamed batch (odd ids) against a
    batch-built registry (even ids) must equal the batch run of the SAME
    function, and every pair the batch verifier flags at threshold must
    appear among the stream's candidates."""
    from financial_data_engineering_spark.llm import dedup as dd
    from financial_data_engineering_spark.tables import load

    docs = load(spark, "documents", SF_SMALL)
    registry_docs = docs.filter(F.col("doc_id") % 2 == 0)
    reg_bands = dd.lsh_band_keys(
        dd.minhash_signatures(
            dd.shingle_rows(registry_docs, "doc_id", "text", 3), "id", "g", 16
        ),
        4,
        4,
    )

    stream = st.near_dup_screen(
        st.read_document_stream(spark, docs_dir).filter(
            F.col("doc_id") % 2 == 1
        ),
        reg_bands,
    )
    assert stream.isStreaming
    st.run_to_memory_sink(stream, "stream_neardup", output_mode="update")
    got = _rows(
        spark.sql("SELECT * FROM stream_neardup"),
        ["doc_id", "registry_id", "n_bands"],
    )

    batch = st.near_dup_screen(docs.filter(F.col("doc_id") % 2 == 1), reg_bands)
    assert not batch.isStreaming
    want = _rows(batch, ["doc_id", "registry_id", "n_bands"])
    assert got == want
    assert len(got) > 0

    verified = dd.minhash_registry_matches(
        docs.filter(F.col("doc_id") % 2 == 1), registry_docs, threshold=0.5
    ).collect()
    cand_pairs = {(r[0], r[1]) for r in got}
    for r in verified:
        assert (r["doc_id"], r["best_match"]) in cand_pairs


def test_stateful_transitions_match_batch_counts(spark, events_dir, tmp_path):
    """applyInPandasWithState sequence detection: events split into two
    time-ordered micro-batches; counting the emitted (prev, next) rows
    must equal the batch event_transition_counts query (per-user last
    event carried across the batch boundary in state)."""
    import os

    import duckdb

    replay_dir = tmp_path / "ordered_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    # File source orders micro-batches by modification time: make the
    # early half strictly older so state sees events in time order.
    now = os.path.getmtime(f"{replay_dir}/b.parquet")
    os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    stream = st.event_transitions(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(
        stream, "stream_transitions", output_mode="append"
    )
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = (
        spark.sql("SELECT * FROM stream_transitions")
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    want = q.all_queries()["event_transition_counts"](spark, SF_SMALL)
    cols = ["prev_type", "next_type", "n_transitions"]
    assert _rows(got, cols) == _rows(want, cols)


class _StubState:
    """Minimal GroupState double for pure-function tests."""

    def __init__(self, value=None):
        self._value = value

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = tuple(value)


#: the nine ordered twins' folds, all built by ``_ordered_replay``
ORDERED_FOLDS = [
    "_emit_transitions",
    "_fold_twap",
    "_fold_ewma_band",
    "_fold_drawdown",
    "_fold_underwater",
    "_fold_monthly_bars",
    "_fold_rolling_band",
    "_fold_cdc_snapshot",
    "_fold_scd2_history",
]


def _ordered_events(days, ids, px):
    """Events frame carrying every column any ordered fold reads."""
    import pandas as pd

    t = pd.Timestamp("2024-01-20 10:00:00")
    return pd.DataFrame(
        {
            "ts": [t + pd.Timedelta(days=d) for d in days],
            "event_id": ids,
            "event_type": [("view", "click", "purchase")[i % 3] for i in ids],
            "px": px,
            "op": ["D" if i % 4 == 3 else "U" for i in ids],
            "val_e2": [v % 3 for v in px],
        }
    )


@pytest.mark.parametrize("fold_name", ORDERED_FOLDS)
def test_ordered_folds_drop_late_cross_batch_events(fold_name):
    """The replay guard every ordered twin shares: after a first batch,
    events at or below the (ts, id) high-water mark change neither the
    state nor the emission — a late-only batch acts as an empty one, and
    late events mixed with fresh ones act as the fresh ones alone."""
    import pandas as pd

    from financial_data_engineering_spark.streaming import stateful

    fold = getattr(stateful, fold_name)
    # eight events over ten weeks: month rollovers, a breach-capable
    # rolling window (ROLL_MIN = 5), deletes, repeated SCD2 values
    first = _ordered_events(
        range(0, 80, 10), range(1, 9), [100, 120, 90, 95, 130, 80, 85, 140]
    )
    state = _StubState()
    for _ in fold((1,), iter([first]), state):
        pass
    mark = state.get
    assert mark[:2] == (int(first["ts"].iloc[-1].value // 1000), 8)

    # at the mark itself, same ts with a lower id, and an earlier event
    late = _ordered_events([70, 70, 30], [8, 5, 9], [1, 500, 7])
    fresh = _ordered_events([75, 90], [10, 11], [60, 150])

    def replay(*batches):
        after = _StubState(mark)
        (out,) = fold((1,), iter(batches), after)
        return after.get, out

    assert replay(fresh)[0] != mark
    for got, want in (
        (replay(late), replay()),
        (replay(late, fresh), replay(fresh)),
    ):
        assert got[0] == want[0]
        pd.testing.assert_frame_equal(got[1], want[1])


def test_emit_transitions_tolerates_empty_iterator():
    from financial_data_engineering_spark.streaming.stateful import (
        _emit_transitions,
    )

    state = _StubState((0, 0, "view"))
    (out,) = _emit_transitions((1,), iter([]), state)
    assert len(out) == 0
    assert state.get == (0, 0, "view")  # state untouched on empty batch


def test_running_heavy_hitters_keeps_mg_guarantee(spark, events_dir, tmp_path):
    """Streaming Misra-Gries twin: two micro-batches of the events file;
    merging the final per-shard snapshots must satisfy the batch
    operator's guarantee against TRUE counts over both batches —
    est <= true <= est + err_bound, and every item whose true count
    exceeds err_bound must be present. (Exact equality with the batch
    operator is NOT the contract: MG output depends on fold order, the
    guarantee does not.)"""
    import shutil as _sh

    from financial_data_engineering_spark.operators.heavyhitters import (
        merge_summaries,
    )
    from financial_data_engineering_spark.streaming.stateful import (
        running_heavy_hitters,
    )

    replay_dir = tmp_path / "hh_batches"
    replay_dir.mkdir()
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")

    k = 4
    stream = running_heavy_hitters(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1),
        "event_type",
        k=k,
        n_shards=4,
    )
    query = st.run_to_memory_sink(stream, "hh_updates", output_mode="update")
    assert _state_rows(query) <= 4  # n_shards
    # update-mode memory sink appends every emission; the latest snapshot
    # per shard is the max-`seen` one (seen is monotone per shard).
    latest = spark.sql(
        """SELECT shard, item, cnt FROM (
               SELECT *, max(seen) OVER (PARTITION BY shard) AS mx
               FROM hh_updates) WHERE seen = mx"""
    )
    got = {
        r["item"]: (r["est_count"], r["err_bound"])
        for r in merge_summaries(latest.select("item", "cnt")).collect()
    }

    from financial_data_engineering_spark.tables import load

    ev = load(spark, "events", SF_SMALL)
    true = {
        r["event_type"]: r["n"] * 2  # both batches are the same file
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got, "merged summary unexpectedly empty"
    err_bound = next(iter(got.values()))[1]
    for item, (est, err) in got.items():
        assert est <= true[item] <= est + err, (item, est, err, true[item])
    for item, cnt in true.items():
        if cnt > err_bound:
            assert item in got, (item, cnt, err_bound)


def test_running_quantile_sketch_keeps_rank_bound(spark, events_dir, tmp_path):
    """Streaming quantile-sketch twin: two micro-batches of event values;
    merging the final per-shard snapshots through the batch
    sketch_quantiles must satisfy the rank guarantee against exact ranks
    over both batches."""
    import shutil as _sh

    from financial_data_engineering_spark.operators.quantilesketch import (
        sketch_quantiles,
    )
    from financial_data_engineering_spark.streaming.stateful import (
        running_quantile_sketch,
    )

    replay_dir = tmp_path / "qsk_batches"
    replay_dir.mkdir()
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")

    stream = running_quantile_sketch(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1),
        "value",
        k=32,
        n_shards=4,
    )
    query = st.run_to_memory_sink(stream, "qsk_updates", output_mode="update")
    assert _state_rows(query) <= 4  # n_shards
    latest = spark.sql(
        """SELECT value, weight FROM (
               SELECT *, max(seen) OVER (PARTITION BY shard) AS mx
               FROM qsk_updates) WHERE seen = mx"""
    )
    out = {
        r.q_e4: (r.est_value, r.err_bound, r.n)
        for r in sketch_quantiles(latest, [0.25, 0.5, 0.9]).collect()
    }

    from financial_data_engineering_spark.tables import load

    ev = load(spark, "events", SF_SMALL)
    vals = sorted(
        r.value for r in ev.select("value").collect() if r.value is not None
    ) * 2  # both batches are the same file
    vals.sort()
    n = len(vals)
    assert set(out) == {2500, 5000, 9000}
    for q_e4, (est, err, n_rep) in out.items():
        assert n_rep == n
        target = q_e4 * n / 10_000
        lo = sum(1 for v in vals if v < est)
        hi = sum(1 for v in vals if v <= est)
        assert lo - err <= target <= hi + err, (q_e4, est, err)
        assert err < n / 2


def test_running_kmv_distinct_matches_batch_estimate(spark, events_dir, tmp_path):
    """Streaming KMV twin: KMV is order-independent, so merging the final
    per-shard snapshots through the batch estimator must reproduce the
    batch sketch BIT-IDENTICALLY (not just within bounds) over the same
    key set — replayed duplicates across micro-batches included."""
    import shutil as _sh

    from financial_data_engineering_spark.operators.sketch import (
        kmv_distinct,
        kmv_distinct_from_hashes,
    )
    from financial_data_engineering_spark.streaming.stateful import (
        running_kmv_distinct,
    )

    replay_dir = tmp_path / "kmv_batches"
    replay_dir.mkdir()
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")

    k = 64
    stream = running_kmv_distinct(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1),
        "user_id",
        k=k,
        n_shards=4,
    )
    query = st.run_to_memory_sink(stream, "kmv_updates", output_mode="update")
    assert _state_rows(query) <= 4  # n_shards
    latest = spark.sql(
        """SELECT DISTINCT h FROM (
               SELECT *, max(seen) OVER (PARTITION BY shard) AS mx
               FROM kmv_updates) WHERE seen = mx"""
    )
    got = kmv_distinct_from_hashes(latest, k=k).collect()[0]

    from financial_data_engineering_spark.tables import load

    ev = load(spark, "events", SF_SMALL)
    want = kmv_distinct(ev, "user_id", k=k).collect()[0]
    assert got["kmv_estimate"] == want["kmv_estimate"]
    assert got["kmv_k"] == want["kmv_k"]


def test_running_twap_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming TWAP twin: events split into two time-ordered
    micro-batches; the final update per user must equal the batch
    user_value_twap query exactly (the last observation carries across
    the batch boundary in state, so boundary-spanning segments close
    with identical integer arithmetic)."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "twap_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_twap,
    )

    stream = running_twap(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "twap_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_segments, span_us, twap_e2 FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_segments DESC) AS rn
               FROM twap_updates) WHERE rn = 1 AND span_us > 0"""
    )
    want = q.all_queries()["user_value_twap"](spark, SF_SMALL)
    cols = ["user_id", "n_segments", "span_us", "twap_e2"]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_ohlc_matches_batch_any_order(spark, events_dir, tmp_path):
    """Streaming OHLC twin: events split into two micro-batches by
    event_id PARITY — deliberately NOT chronological, so each batch
    interleaves across the full time range — must still converge to the
    exact batch user_value_ohlc rows: every OHLC state update commutes,
    so arrival order cannot matter."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "ohlc_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE event_id % 2 = 0) "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE event_id % 2 = 1) "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_ohlc,
    )

    stream = running_ohlc(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "ohlc_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, open_e2, high_e2, low_e2, close_e2,
                  n_events, sum_e2 FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM ohlc_updates) WHERE rn = 1"""
    )
    want = q.all_queries()["user_value_ohlc"](spark, SF_SMALL)
    cols = [
        "user_id", "open_e2", "high_e2", "low_e2",
        "close_e2", "n_events", "sum_e2",
    ]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_ewma_band_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming EWMA band twin: events split into two time-ordered
    micro-batches must converge to the exact batch user_value_ewma_band
    rows — the fixed-point recurrence crosses the batch boundary in
    state (two longs) with identical truncating-division arithmetic."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "ewma_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_ewma_band,
    )

    stream = running_ewma_band(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "ewma_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_events, ewma_e2, dev_e2, n_above, n_below
           FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM ewma_updates) WHERE rn = 1"""
    )
    want = q.all_queries()["user_value_ewma_band"](spark, SF_SMALL)
    cols = ["user_id", "n_events", "ewma_e2", "dev_e2", "n_above", "n_below"]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_drawdown_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming drawdown twin: time-ordered two-batch replay must equal
    the batch cummax-window query exactly — the running (peak, max_dd)
    pair crosses the boundary in state."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "dd_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_drawdown,
    )

    stream = running_drawdown(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "dd_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_events, peak_e2, max_drawdown_e2 FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM dd_updates) WHERE rn = 1"""
    )
    want = q.all_queries()["user_value_max_drawdown"](spark, SF_SMALL)
    cols = ["user_id", "n_events", "peak_e2", "max_drawdown_e2"]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_underwater_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming underwater-run twin: time-ordered two-batch replay must
    equal the batch gaps-and-islands query exactly for every user with a
    run — the open run crosses the boundary in O(1) state (peak, run
    start, tick count), so runs spanning the split stay one run."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "uw_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_underwater,
    )

    stream = running_underwater(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "uw_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    # latest snapshot per user: maxima are monotone, so order by them
    got = spark.sql(
        """SELECT user_id, n_runs, max_run_ticks, max_run_dur_us FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY n_runs DESC, max_run_ticks DESC,
                            max_run_dur_us DESC) AS rn
               FROM uw_updates) WHERE rn = 1 AND n_runs > 0"""
    )
    want = q.all_queries()["user_value_underwater_runs"](spark, SF_SMALL)
    cols = ["user_id", "n_runs", "max_run_ticks", "max_run_dur_us"]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_monthly_bars_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming monthly-bar twin: time-ordered two-batch replay (the
    median cut lands mid-month, so open bars cross the boundary in
    state) must equal the batch close-to-close diff query exactly —
    the snapshot adds the open bar provisionally, so the final emission
    equals the batch query over the full prefix."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "mb_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_monthly_bars,
    )

    stream = running_monthly_bars(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "mb_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_bars, n_diffs, sum_d_e2, min_d_e2,
                  max_d_e2, n_up, n_down FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM mb_updates) WHERE rn = 1"""
    )
    want = q.all_queries()["user_monthly_bar_diffs"](spark, SF_SMALL)
    cols = [
        "user_id", "n_bars", "n_diffs", "sum_d_e2",
        "min_d_e2", "max_d_e2", "n_up", "n_down",
    ]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_rolling_band_matches_batch_query(spark, events_dir, tmp_path):
    """Streaming rolling-band twin: time-ordered two-batch replay must
    equal the batch windowed query exactly — the last ROLL_N
    observations cross the boundary in state, so windows spanning the
    split evaluate identically."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "rb_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_rolling_band,
    )

    stream = running_rolling_band(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
    )
    query = st.run_to_memory_sink(stream, "rb_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    got = spark.sql(
        """SELECT user_id, n_events, n_eval, n_above, n_below FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
               FROM rb_updates) WHERE rn = 1"""
    )
    want = q.all_queries()["user_value_rolling_band"](spark, SF_SMALL)
    cols = ["user_id", "n_events", "n_eval", "n_above", "n_below"]
    assert _rows(got, cols) == _rows(want, cols)


def test_running_cdc_snapshot_matches_batch_merge(spark, events_dir, tmp_path):
    """Streaming CDC twin: the events file becomes a changelog (error =
    delete, anything else = upsert of the value), split into two
    time-ordered micro-batches; the final update per key must equal
    apply_changelog over the same changelog in one batch — including
    keys whose final op is a delete (present=false in the stream,
    absent from the batch merge)."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "cdc_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.operators.cdc import apply_changelog
    from financial_data_engineering_spark.streaming.stateful import (
        running_cdc_snapshot,
    )

    def as_changelog(events):
        return events.select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.round(F.col("value") * 100).cast("long").alias("val_e2"),
        )

    stream = running_cdc_snapshot(
        as_changelog(
            st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
        )
    )
    query = st.run_to_memory_sink(stream, "cdc_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    final = spark.sql(
        """SELECT user_id, present, val_e2 FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_changes DESC) AS rn
               FROM cdc_updates) WHERE rn = 1"""
    )

    empty_snap = spark.createDataFrame([], "user_id long, val_e2 long")
    batch = apply_changelog(
        empty_snap,
        as_changelog(spark.read.parquet(src)),
        "user_id",
        ["ts", "event_id"],
        payload=["val_e2"],
    )
    # surviving keys: value-exact parity (all must be inserts — the
    # snapshot started empty)
    got_present = _rows(final.filter("present"), ["user_id", "val_e2"])
    want = _rows(batch, ["user_id", "val_e2"])
    assert _rows(batch.filter("status <> 'inserted'"), ["user_id"]) == []
    assert got_present == want
    # deleted keys: present=false in the stream, absent from the merge
    all_keys = {r["user_id"] for r in final.collect()}
    batch_keys = {r[0] for r in want}
    deleted = {
        r["user_id"] for r in final.filter("NOT present").collect()
    }
    assert deleted == all_keys - batch_keys
    assert deleted  # the fixture really exercises the delete path


def test_running_hll_registers_match_batch_sketch(spark, events_dir, tmp_path):
    """Streaming HLL twin: registers only grow (max-fold), so the final
    per-bucket snapshot must equal the batch register table exactly —
    replayed duplicates across micro-batches included — and therefore
    the estimate reproduces bit-identically."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from financial_data_engineering_spark.operators.hll import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from financial_data_engineering_spark.streaming.stateful import (
        running_hll_registers,
    )

    replay_dir = tmp_path / "hll_batches"
    replay_dir.mkdir()
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "a.parquet")
    _sh.copy(f"{events_dir}/events.parquet", replay_dir / "b.parquet")

    stream = running_hll_registers(
        st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1),
        "user_id",
    )
    query = st.run_to_memory_sink(stream, "hll_updates", output_mode="update")
    assert _state_rows(query) <= HLL_M  # one register per bucket
    # registers are monotone, so max(reg) per bucket IS the final state
    latest = spark.sql(
        "SELECT bucket, max(reg) AS reg FROM hll_updates GROUP BY bucket"
    )

    from financial_data_engineering_spark.tables import load

    ev = load(spark, "events", SF_SMALL)
    batch_regs = hll_registers(ev, "user_id")
    want_regs = {
        (r["bucket"], r["reg"]) for r in batch_regs.collect()
    }
    got_regs = {(r["bucket"], r["reg"]) for r in latest.collect()}
    assert got_regs == want_regs

    est_stream = hll_estimate_from_registers(
        latest.withColumn("cnt", F.lit(0)), []
    ).collect()[0]["hll_estimate"]
    est_batch = hll_estimate_from_registers(batch_regs, []).collect()[0][
        "hll_estimate"
    ]
    assert est_stream == est_batch


def test_running_scd2_history_matches_batch_build(spark, events_dir, tmp_path):
    """Streaming SCD2 twin: the events file becomes an observation log
    (attr = value cents mod 5, coarse so consecutive observations
    actually merge), split into two time-ordered micro-batches; the
    max-n_total emission per key must equal scd2_from_observations over
    the same log in one batch — version numbering, interval bounds,
    is_current, and per-version observation counts all included."""
    import os as _os

    import duckdb

    replay_dir = tmp_path / "scd2_batches"
    replay_dir.mkdir()
    con = duckdb.connect()
    src = f"{events_dir}/events.parquet"
    cut = con.sql(f"SELECT median(ts) FROM '{src}'").fetchone()[0]
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts < TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/a.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"COPY (SELECT * FROM '{src}' WHERE ts >= TIMESTAMP '{cut}') "
        f"TO '{replay_dir}/b.parquet' (FORMAT PARQUET)"
    )
    now = _os.path.getmtime(f"{replay_dir}/b.parquet")
    _os.utime(f"{replay_dir}/a.parquet", (now - 60, now - 60))

    from financial_data_engineering_spark.streaming.stateful import (
        running_scd2_history,
    )
    from financial_data_engineering_spark.transform import (
        scd2_from_observations,
    )

    def as_observations(events):
        return events.select(
            "user_id",
            "ts",
            "event_id",
            (F.round(F.col("value") * 100).cast("long") % 5).alias("val_e2"),
        )

    stream = running_scd2_history(
        as_observations(
            st.read_event_stream(spark, str(replay_dir), max_files_per_trigger=1)
        )
    )
    query = st.run_to_memory_sink(stream, "scd2_updates", output_mode="update")
    assert _state_rows(query) == _n_users(spark)  # one row per user
    final = spark.sql(
        """SELECT * FROM (
               SELECT *, max(n_total) OVER (PARTITION BY user_id) AS mx
               FROM scd2_updates) WHERE n_total = mx"""
    )

    batch = scd2_from_observations(
        as_observations(spark.read.parquet(src)),
        ["user_id"],
        ["val_e2"],
        "ts",
        "event_id",
    )

    cols = [
        "user_id", "version", "val_e2", "valid_from", "valid_to",
        "is_current", "n_observations",
    ]
    got, want = _rows(final, cols), _rows(batch, cols)
    assert got == want
    # the fixture must exercise BOTH sides of the collapse rule:
    # multi-version keys and multi-observation versions
    assert any(r[1] > 1 for r in want)  # a key with >1 version
    assert any(r[6] > 1 for r in want)  # a version holding >1 observation
    # mid-stream emissions must already satisfy the half-open invariant
    # (exactly one current version per key at every emission)
    bad = spark.sql(
        """SELECT user_id, n_total FROM scd2_updates
           GROUP BY user_id, n_total
           HAVING sum(is_current) <> 1"""
    )
    assert bad.count() == 0
