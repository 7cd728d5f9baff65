"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), writes the FULL per-query record (wall
times, counters and failure causes, below) to ``reports/bench/latest.json``
(and appends to ``reports/bench/history.jsonl``), then prints ONE short
JSON summary line as the absolute last stdout:
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
 "n_queries": N, "jobs_total": J, "master": ..., "defaultParallelism": P,
 "spark.sql.shuffle.partitions": S, "queries": {<10 slowest only>},
 "detail": "reports/..."}

The round-4 and round-5 official artifacts were truncated at the HEAD by the
driver's bounded tail capture once the full 95-query timing map outgrew the
buffer; the summary line is bounded (~700 bytes) by construction, and the
full map lives in the committed detail file instead.

Each query is executed as a full action (noop-format write of the
materialized result) after session/page-cache/codegen warm-up; per-query
wall time is reported. Per query, the detail record also carries the
counters read after its write from Spark's status stores
(``perfbench/sparkstate.py``'s ``StatusReader``, UI off): ``plan_s`` (time
in the query function before the write starts), jobs, stages, tasks,
``executor_cpu_s``, ``shuffle_write_mb``, ``spill_mb`` and ``python_s``;
the exception class and first message line of each failed query
(``errors``, and ``warmup_errors`` for the sf0.001 warm-up); and the
queries whose job count differed between passes (``jobs_unstable``).
``SPARK_GRAFT_BENCH_ONLY=q1,q2 python bench.py`` gives the same numbers
for a few queries (reports/bench/restricted_<sf>.json).

Variance note: single-query timings on a shared host can spike 2-8x
run-to-run from contention alone, and whole-suite totals at one HEAD swing
+-10% (history.jsonl round 8: 131.3/145.7/136.6 s within 80 minutes). The
suite therefore runs SPARK_GRAFT_BENCH_RUNS full passes (default 3) and
records the per-query MEDIAN of the wall time and of every counter; the
per-pass totals and their max/min spread are kept in the artifact so the
noise is visible instead of hidden, and noise_vs_prev compares medians to
medians. The artifact reflects the plan, not the noisy neighbor.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from financial_data_engineering_spark import queries as q
from financial_data_engineering_spark.llm.caching import release_intermediates
from financial_data_engineering_spark.queries.graph import release_shared_edges
from financial_data_engineering_spark.session import get_spark
from perfbench.sparkstate import StatusReader

HEADLINE = [
    "pricing_summary",
    "latest_order_per_customer",
    "top_customers_by_revenue",
    "nation_latest_order_revenue",
    "revenue_by_region_segment",
    "lineitem_global_stats",
    "event_type_counts",
]

_MB = 1024 * 1024


def _parse_only(spec: str) -> set[str]:
    """SPARK_GRAFT_BENCH_ONLY value -> query-name set: comma-separated
    names, each token optionally ``@path`` to a newline-delimited file."""
    keep: set[str] = set()
    for tok in spec.split(","):
        tok = tok.strip()
        if tok.startswith("@"):
            with open(tok[1:]) as f:
                keep.update(ln.strip() for ln in f if ln.strip())
        elif tok:
            keep.add(tok)
    return keep


def time_one(
    spark, reader: StatusReader, query, sf_dir: str
) -> tuple[float, dict[str, float], str | None]:
    """Run ``query(spark, sf_dir)`` as a noop-sink write. Returns its wall
    seconds (-1.0 if it raised), its counters (the jobs that finished
    since ``reader``'s previous call) and its failure line (None if it
    succeeded). Never raises for a failing query."""
    error = None
    start = time.perf_counter()
    planned = None
    try:
        df = query(spark, sf_dir)
        planned = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 — returned as the failure line
        error = _describe_failure(exc)
    finally:
        # Some operators persist intermediates (e.g. dedup inverted
        # indexes); release the tracked handles FIRST (also empties the
        # tracking list, so the suite doesn't accumulate driver
        # references/executor storage across queries), and the graph
        # family's session-shared edge frame, then clear whatever else
        # was cached.
        release_intermediates()
        release_shared_edges()
        spark.catalog.clearCache()
    end = time.perf_counter()
    jobs = reader.new_jobs(sql_metrics=True)
    counters = {
        "plan_s": round((end if planned is None else planned) - start, 3),
        "jobs": len(jobs),
        "stages": len({sid for j in jobs for sid in j.stage_ids}),
        "tasks": sum(j.tasks for j in jobs),
        "executor_cpu_s": round(sum(j.cpu_s for j in jobs), 3),
        "shuffle_write_mb": round(sum(j.shuffle_write for j in jobs) / _MB, 4),
        "spill_mb": round(sum(j.spill for j in jobs) / _MB, 4),
        "python_s": round(sum(j.python_s for j in jobs), 3),
    }
    wall = -1.0 if error else round(end - start, 3)
    return wall, counters, error


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_from_dir(sf_dir)
    # Host-load marker, sampled BEFORE the JVM spins up: the r10 closing
    # bench drifted a uniform 1.19x on a loaded host and the artifact
    # couldn't prove it — with start/end 1-min loadavg in every history
    # entry, uniform drift is machine-distinguishable from regression.
    # Round 12 makes the marker BINDING (the r11 artifact read 212 s at
    # loadavg 9.4 and needed after-the-fact normalization to 172 s):
    # above FDES_BENCH_LOADAVG_MAX (default 2.0 — same-code medians on
    # this box drift <1.05x below that, 1.22x at 9.4) the run first
    # waits for the host to drain (bounded, FDES_BENCH_LOADAVG_WAIT s,
    # default 300, poll 30 s); if it never does, the run proceeds but
    # the artifact and the summary line carry ``hot_host: true`` so the
    # committed number is machine-flagged as non-comparable instead of
    # silently polluting the round-over-round series.
    load_start, hot_host = _wait_for_idle_host()
    spark = get_spark("bench")
    reader = StatusReader(spark)

    registry = q.all_queries()
    names = [n for n in HEADLINE if n in registry]
    # include every other registered query too — coverage is part of the bench
    names += [n for n in registry if n not in names]

    # SPARK_GRAFT_BENCH_ONLY: comma-separated names and/or @file-of-names
    # — restricts the suite for controlled experiments (e.g. re-timing
    # today's code on an older round's exact query set to separate
    # suite-size pressure from per-query regression). Restricted runs
    # write reports/bench/restricted_<sf>.json and stay out of
    # history.jsonl — they must never masquerade as a round number.
    only_spec = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only_spec:
        keep = _parse_only(only_spec)
        names = [n for n in names if n in keep]

    # Warm up the JVM, codegen pipeline, and each table's parquet
    # footer/page caches with one tiny action per table — otherwise the
    # first query to touch a table silently absorbs reader-initialization
    # cost that belongs to the session, not the query.
    spark.range(1).count()
    from financial_data_engineering_spark.schemas import TPCH_TABLES

    for t in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).limit(1).count()
            # parquet count() reads only metadata; pull the actual bytes
            # through the OS page cache so the first query touching each
            # table isn't billed for cold disk reads
            with open(path, "rb") as f:
                while f.read(1 << 22):
                    pass
    # ... and the Arrow/Python-worker pool (first mapInPandas otherwise
    # books daemon startup to whichever kernel query runs first).
    spark.range(8).mapInPandas(lambda it: it, schema="id long").count()

    # Steady-state warmup: run every query once at the smallest SF first.
    # Whole-stage codegen compilation (Janino) and JIT are per-plan-shape,
    # not per-dataset — a cold dedup pipeline pays ~6-8 s of compile that
    # vanishes on the second run of the SAME generated code. Measured-run-
    # after-warmup is standard bench methodology (JMH, TPC power runs) and
    # is the number that matters at 100 TB, where compile time is noise.
    # sf0.001 keeps the warmup pass cheap and its data cannot pollute the
    # sf0.1 page cache (different files; sf0.1 is warmed separately above).
    warmup_errors: dict[str, str] = {}
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in names:
            _, _, error = time_one(spark, reader, registry[name], warm_dir)
            if error:
                warmup_errors[name] = error
    reader.skip()

    # Prior-round record, loaded BEFORE this run overwrites it: the basis
    # for the median-vs-median noise_vs_prev estimate below.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # Per-SF detail file: the committed latest.json is the sf0.1
    # (driver-default) baseline for noise_vs_prev; a
    # smoke run at another SF must not clobber it (it did once in r7 —
    # restored from git).
    base = os.path.basename(sf_dir.rstrip("/"))
    detail_name = "latest.json" if sf == 0.1 else f"latest_{base}.json"
    detail_rel = os.path.join("reports", "bench", detail_name)
    detail_path = os.path.join(repo_dir, detail_rel)
    prior: dict[str, float] = {}
    try:
        with open(detail_path) as f:
            rec = json.load(f)
        if rec.get("sf") == sf:
            prior = {
                k: v for k, v in rec.get("queries", {}).items() if v >= 0
            }
    except (OSError, ValueError):
        pass

    # Median-of-N passes (default 3, SPARK_GRAFT_BENCH_RUNS to override):
    # this host swings +-10% at one HEAD (history.jsonl: 131.3/145.7/
    # 136.6 within 80 minutes, round 8), which had come to dominate real
    # deltas. A per-query median over three interleaved full passes
    # absorbs both the single-query contention spikes the old retry
    # passes chased (2.8 s plans reading 15.7 s once, then re-timing
    # clean) and the pass-level drift a one-shot run cannot see; the
    # recorded pass totals expose the spread instead of hiding it.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    passes = [
        {name: time_one(spark, reader, registry[name], sf_dir) for name in names}
        for _ in range(runs)
    ]
    timings: dict[str, float] = {}
    counters: dict[str, dict[str, float]] = {}
    # why a query failed, by name (the last failing pass wins); a failed
    # query still times as -1.0, and this map says what the -1.0 means
    errors: dict[str, str] = {}
    # a query's job count is set by its plan and should repeat between
    # passes; one whose passes disagree is listed with the counts seen
    jobs_unstable: dict[str, list[int]] = {}
    for name in names:
        results = [p[name] for p in passes]
        errors.update((name, e) for _, _, e in results if e)
        ok = [r for r in results if r[0] >= 0]
        timings[name] = (
            round(statistics.median(r[0] for r in ok), 4) if ok else -1.0
        )
        counters[name] = {
            k: round(statistics.median(r[1][k] for r in ok or results), 4)
            for k in results[0][1]
        }
        seen = sorted({r[1]["jobs"] for r in results})
        if len(seen) > 1:
            jobs_unstable[name] = seen
    pass_totals = [
        round(sum(r[0] for r in p.values() if r[0] >= 0), 3) for p in passes
    ]
    spread = (
        round(max(pass_totals) / min(pass_totals), 3)
        if min(pass_totals) > 0
        else None
    )

    # Noise estimate vs the committed previous run: the median per-query
    # ratio of MEDIANS against latest.json. Identical code on this
    # shared host measured a 1.128x median / 1.58x tail same-code
    # run-pair delta in round 6 (reports/bench/NOTES.md "Host noise
    # floor") — a ratio inside that envelope is host noise, not a
    # regression.
    ratios = [
        t / prior[name]
        for name, t in timings.items()
        if t > 0 and prior.get(name, 0) > 0
    ]
    noise_vs_prev = (
        round(statistics.median(ratios), 3) if ratios else None
    )

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sc = spark.sparkContext
    applied = {
        "jobs_total": sum(c["jobs"] for c in counters.values()),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
    }
    full = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "counters": counters,
        "errors": errors,
        "warmup_errors": warmup_errors,
        "jobs_unstable": jobs_unstable,
        **applied,
        "runs": runs,
        "pass_totals": pass_totals,
        "spread": spread,
        "noise_vs_prev": noise_vs_prev,
        "sf": sf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        # 1-min loadavg at start (pre-JVM: ambient load from OTHER
        # processes) and end (includes this bench's own executors — read
        # the start number for neighbor noise, the pair for trend)
        "loadavg_start": load_start,
        "loadavg_end": _loadavg1(),
        # True = ambient load stayed above FDES_BENCH_LOADAVG_MAX after
        # the bounded wait; timings in this record are NOT comparable
        # round-over-round (see module docstring variance note).
        "hot_host": hot_host,
    }
    if only_spec:
        # a restricted (SPARK_GRAFT_BENCH_ONLY) run is an experiment:
        # its totals are not comparable to full-suite records, so it
        # must not overwrite the committed baseline detail file or
        # enter the round-over-round history series
        full["bench_only"] = only_spec[:500]
        detail_rel = os.path.join(
            "reports", "bench", f"restricted_{base}.json"
        )
        detail_path = os.path.join(repo_dir, detail_rel)
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    if not only_spec:
        with open(
            os.path.join(repo_dir, "reports", "bench", "history.jsonl"), "a"
        ) as f:
            f.write(
                json.dumps(full, separators=(",", ":"), sort_keys=True) + "\n"
            )

    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        **applied,
        "noise_vs_prev": noise_vs_prev,
        "queries": slowest,
        "detail": detail_rel,
    }
    if hot_host:
        payload["hot_host"] = True
    # The summary line is bounded (10 timings, not 95+) so it can never
    # outgrow the driver's tail-capture buffer again; compact separators
    # and a stopped session make it the absolute LAST stdout.
    line = json.dumps(payload, separators=(",", ":"))
    spark.stop()
    sys.stdout.flush()
    print(line, flush=True)


def _describe_failure(exc: BaseException) -> str:
    """``ExceptionClass: first line of the message`` (Spark error messages
    run to dozens of lines of JVM stack)."""
    first = next(iter(str(exc).strip().splitlines()), "")
    return f"{type(exc).__name__}: {first}"


def _loadavg1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # platform without loadavg
        return None


def _wait_for_idle_host() -> tuple[float | None, bool]:
    """Bounded wait for ambient 1-min loadavg to drop below
    FDES_BENCH_LOADAVG_MAX (default 2.0). Returns (loadavg at the start
    of the measured run, hot_host flag). Never blocks past
    FDES_BENCH_LOADAVG_WAIT seconds (default 300) — a driver-run bench
    must finish, so a persistently hot host is flagged, not fatal."""
    threshold = float(os.environ.get("FDES_BENCH_LOADAVG_MAX", "2.0"))
    budget = float(os.environ.get("FDES_BENCH_LOADAVG_WAIT", "300"))
    load = _loadavg1()
    if load is None or load <= threshold:
        return load, False
    deadline = time.monotonic() + budget
    while time.monotonic() < deadline:
        wait = min(30.0, max(0.0, deadline - time.monotonic()))
        if wait == 0:
            break
        print(
            f"bench: loadavg {load} > {threshold}, waiting {wait:.0f}s "
            "for the host to drain",
            file=sys.stderr,
        )
        time.sleep(wait)
        load = _loadavg1()
        if load is None or load <= threshold:
            return load, False
    print(
        f"bench: host still hot (loadavg {load}) after {budget:.0f}s — "
        "proceeding; artifact will carry hot_host: true",
        file=sys.stderr,
    )
    return load, True


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


if __name__ == "__main__":
    main()
