"""Steadiness command: run workloads repeatedly and report each metric's
median and quartile spread, and the per-operation counts that do not
repeat exactly.

    python3 perfbench/steady.py --runs 10 --first-seed 101

Each run is a separate untraced ``run.py`` process with its own seed, on
every workload of ``BENCHMARK.json``. For every
end-to-end metric the report gives the median of the runs and the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, beside
the metric's bound from ``BENCHMARK.json``; a spread above a third of the
bound is flagged. It then lists, per operation, the job and shuffle-byte
counts that differ between the passes of one run (warm-up and timed
passes, same inputs) and the job counts that differ between seeds. The
full table is written to ``.perfbench/steady-<first seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "runs", f"{workload}-s{seed}-t0.json")) as f:
        detail = json.load(f)
    return result, detail, wall


def unstable_counts(details: list[dict]) -> list[str]:
    """Per-operation counts that do not repeat exactly."""
    lines = []
    ops = details[0]["passes"][0]["ops"]
    for op in ops:
        for key in ("jobs", "shuffle_bytes"):
            for d in details:
                seen = sorted({p["ops"][op][key] for p in [d["warm"], *d["passes"]]})
                if len(seen) > 1:
                    lines.append(f"{op}.{key} differs between passes of seed {d['seed']}: {seen}")
        per_seed = sorted({d["passes"][0]["ops"][op]["jobs"] for d in details})
        if len(per_seed) > 1:
            lines.append(f"{op}.jobs differs between seeds: {per_seed}")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for workload in (w["name"] for w in bench["workloads"]):
        results, details, walls = [], [], []
        for i in range(args.runs):
            result, detail, wall = run_once(workload, args.first_seed + i, bench["run_seconds"])
            results.append(result)
            details.append(detail)
            walls.append(wall)
            print(f"{workload} seed {args.first_seed + i}: {wall:.1f} s wall,"
                  f" correct={result['correct']} failed={result['failed']}/{result['attempted']}",
                  flush=True)
        metrics = {}
        for name in results[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in results]
            metrics[name] = {
                "median": statistics.median(values),
                "spread": spread(values) if len(values) > 1 else 0.0,
                "values": values,
            }
        report[workload] = {
            "metrics": metrics,
            "wall_s": walls,
            "failed_share": sorted({r["failed"] / r["attempted"] for r in results}),
            "correct": all(r["correct"] for r in results),
            "unstable_counts": unstable_counts(details),
            "loadavg_start": [d["env"]["host_start"]["loadavg_1m"] for d in details],
        }
        print(f"\n{workload}: median run wall {statistics.median(walls):.1f} s,"
              f" failed share {report[workload]['failed_share']}")
        for name, m in metrics.items():
            bound = bounds.get(name)
            flag = ""
            if bound is not None and name != "setup_s" and m["spread"] > bound / 3:
                flag = f"  <-- above a third of the bound {bound}"
            print(f"  {name:28s} median {m['median']:12.4f}  spread {m['spread']:.4f}{flag}")
        for line in report[workload]["unstable_counts"]:
            print(f"  not repeating: {line}")
        print(flush=True)
    out = os.path.join(ROOT, ".perfbench", f"steady-{args.first_seed}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"written {out}")


if __name__ == "__main__":
    main()
