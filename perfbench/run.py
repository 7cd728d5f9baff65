"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_stream --seed 1 --seconds 8 --trace 0

A run starts a Spark session through the engine's own factory on
``local[<cores this process may use>]``, generates its inputs from the
seed, runs one warm-up pass, then timed passes until ``--seconds`` of
pass time have accumulated, and finally checks the warm-up pass's
outputs (``workloads.py``). Its last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics, the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``.

Everything the run writes stays under ``.perfbench/`` in the directory
it runs from. The run's record (set-up phases, per-pass and per-operation
counts, host load, Spark parallelism, failures with their exception
class and message, check results and times) is written to
``.perfbench/runs/<workload>-s<seed>-t<trace>.json``, and with
``--trace 1`` the spans to ``...-spans.json`` beside it.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_stream", "graph_ann")
_MB = 1024 * 1024


def _du(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


def _written(work: str, out: str) -> int:
    """Bytes a pass leaves on disk: its output directory, the catalog
    warehouse, and the directories the engine itself keeps in the temp
    directory (``fdes_*``: the persisted IVF index, scratch parquet)."""
    dirs = [out, os.path.join(work, "warehouse")]
    dirs += glob.glob(os.path.join(work, "tmp", "fdes_*"))
    return sum(_du(d) for d in dirs)


def _prepare(work: str) -> None:
    """Keep every file the run, Spark and its Python workers write
    inside ``work``."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path[:0] = [ROOT]  # the engine and tools/, imported from source


def _session(work: str):
    from financial_data_engineering_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # one pass submits a few hundred jobs; keep all of them readable
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


class _Progress:
    """Collects streaming progress events (traced runs only)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({
                    "run_id": str(p.runId),
                    "rows": p.numInputRows,
                    "duration_ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def take(self) -> list[dict]:
        out, self.events[:] = list(self.events), []
        return out


def _stop_spark() -> None:
    """Stop the session, end the JVM (and with it the Python workers)
    and wait until it has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def run(args: argparse.Namespace, work: str) -> dict:
    _prepare(work)
    from sparkstate import StatusReader, host_snapshot, peak_rss_mb, process_tree

    host_start = host_snapshot()
    import gen
    import spans
    import workloads as wl

    spark = _session(work)
    session_s = time.perf_counter() - T0

    data = os.path.join(work, "data")
    t = time.perf_counter()
    rows = gen.generate(args.seed, args.workload, data)
    gen_s = time.perf_counter() - t

    ops = wl.WORKLOADS[args.workload]
    ctx = wl.Ctx(spark, data)
    rec = spans.Recorder(spark)
    reader = StatusReader(spark)
    reader.skip()  # the session's first job
    failures: list[dict] = []
    failed_in: list[set[str]] = []

    def one_pass(tag: str) -> tuple[float, spans.Span]:
        out = os.path.join(work, "out", tag)
        bad: set[str] = set()
        with rec.span(tag, "bench") as root:
            t = time.perf_counter()
            for op in ops:
                with rec.span(op.name, "bench"):
                    try:
                        op.run(ctx, out)
                    except Exception as exc:  # noqa: BLE001 — recorded, run goes on
                        bad.add(op.name)
                        failures.append({
                            "pass": tag, "op": op.name,
                            "error": type(exc).__name__, "message": str(exc)[:2000],
                        })
                    finally:
                        wl.release(spark)
            elapsed = time.perf_counter() - t
        failed_in.append(bad)
        return elapsed, root

    def counts(tag: str, elapsed: float, root: spans.Span, sql_metrics: bool) -> dict:
        """The pass's jobs, shuffle bytes and disk output, in all and per
        operation, read after the pass."""
        jobs = reader.new_jobs(sql_metrics=sql_metrics)
        rec.charge(jobs)
        record = {
            "pass_s": elapsed,
            "jobs": len(jobs),
            "shuffle_mb": sum(j.shuffle_write for j in jobs) / _MB,
            "output_mb": _written(work, os.path.join(work, "out", tag)) / _MB,
            "ops": {},
        }
        for child in rec.spans:
            if child.parent == root.span_id:
                sub = [j for s in rec.subtree(child) for j in s.jobs]
                record["ops"][child.name] = {
                    "wall_s": child.end - child.start,
                    "jobs": len(sub),
                    "shuffle_bytes": sum(j.shuffle_write for j in sub),
                }
        return record

    warm_s, warm_root = one_pass("warm")
    setup_s = time.perf_counter() - T0
    warm = counts("warm", warm_s, warm_root, sql_metrics=False)

    progress = None
    if args.trace:
        wrapped = spans.instrument(rec)
        progress = _Progress(spark)

    passes = []
    while sum(p["pass_s"] for p in passes) < args.seconds or not passes:
        tag = f"p{len(passes)}"
        elapsed, root = one_pass(tag)
        record = counts(tag, elapsed, root, sql_metrics=bool(args.trace))
        if args.trace:
            record["layers"] = spans.layer_counters(rec, root, progress.take())
        passes.append(record)
        shutil.rmtree(os.path.join(work, "out", tag), ignore_errors=True)

    phases = {"passes_done": time.perf_counter() - T0}
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    workers = [p for p in process_tree(jvm_pid) if p != jvm_pid]
    rss = {"jvm_mb": peak_rss_mb([jvm_pid]), "workers_mb": peak_rss_mb(workers),
           "workers": len(workers)}

    warm_out = os.path.join(work, "out", "warm")
    checks = {}
    t_checks = time.perf_counter()
    for op in ops:
        if op.name in failed_in[0]:
            continue
        t = time.perf_counter()
        try:
            cause = op.check(ctx, warm_out)
        except Exception as exc:  # noqa: BLE001 — a check that raises is a mismatch
            cause = f"{type(exc).__name__}: {str(exc)[:2000]}"
        checks[op.name] = {"ok": cause is None, "cause": cause,
                           "check_s": time.perf_counter() - t}
    check_s = time.perf_counter() - t_checks
    phases["checks_done"] = time.perf_counter() - T0
    mismatched = {name for name, c in checks.items() if not c["ok"]}

    sc = spark.sparkContext
    env = {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": sc.getConf().get("spark.driver.memory"),
        "cpus": len(os.sched_getaffinity(0)),
        "host_start": host_start,
        "host_end": host_snapshot(),
    }
    if ctx._oracle is not None:
        ctx._oracle.con.close()

    def med(key: str) -> float:
        return statistics.median(p[key] for p in passes)

    if args.trace:
        metrics = {
            name: {"value": statistics.median(p["layers"][name] for p in passes),
                   "unit": unit}
            for name, unit in spans.metric_units().items()
        }
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": med("pass_s"), "unit": "s"},
            "worker_rss_mb": {"value": rss["workers_mb"], "unit": "MB"},
            "spark_jobs": {"value": med("jobs"), "unit": "count"},
            "shuffle_mb": {"value": med("shuffle_mb"), "unit": "MB"},
            "output_mb": {"value": med("output_mb"), "unit": "MB"},
        }
    # warm-up and timed passes run the same operations
    failed = sum(len(bad | mismatched) for bad in failed_in)
    result = {
        "correct": not mismatched,
        "attempted": len(ops) * len(failed_in),
        "failed": failed,
        "metrics": metrics,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "rows": rows, "env": env,
        "setup": {"session_s": session_s, "gen_s": gen_s, "warm_s": warm_s},
        "phases": phases,
        "pass_s_all": [p["pass_s"] for p in passes], "warm": warm,
        "peak_rss": rss, "check_s": check_s, "checks": checks,
        "failures": failures, "passes": passes, "result": result,
    }
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump({"wrapped_functions": wrapped, "spans": rec.to_json()}, f)
    for name, c in checks.items():
        if not c["ok"]:
            print(f"check failed: {name}: {c['cause']}", file=sys.stderr)
    for f in failures:
        print(f"failed: {f['pass']} {f['op']}: {f['error']}: {f['message'][:300]}",
              file=sys.stderr)
    print(f"{args.workload} seed {args.seed}: setup {setup_s:.2f} s "
          f"(session {session_s:.2f}, gen {gen_s:.2f}, "
          f"warm-up {warm_s:.2f}), passes {[round(p['pass_s'], 2) for p in passes]}, "
          f"checks {check_s:.2f} s", file=sys.stderr)
    return result


def main() -> None:
    ap = argparse.ArgumentParser(description="spark-graft benchmark, one run")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}")
    try:
        result = run(args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
