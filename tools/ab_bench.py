"""Same-day code-delta A/B bench: run a restricted query set on BASE
(a committed ref, default HEAD, in a detached git worktree) and TARGET
(this working tree) in interleaved legs, and write one machine-readable
artifact ``reports/bench/ab_<label>.json`` holding both sides' per-query
medians plus every raw leg.

Why this exists (r14 verdict item 6): the host's bench environment
drifts 1.1-1.36x between sessions, so round-over-round per-query numbers
cannot adjudicate a code change — only back-to-back same-day legs can,
and those existed only as prose. This tool makes the claim auditable:
legs alternate sides (B,T,T,B,B,T,...) so slow host drift cancels in
the median, every leg records its loadavg, and the artifact pins the
base commit sha and the target diff hash.

Usage:
    python tools/ab_bench.py --label r15_graph \\
        --queries part_copurchase_triangles,part_copurchase_communities \\
        [--legs 3] [--base-ref HEAD] [--sf /root/testdata/sf0.1]

Each leg is one ``bench.py`` invocation with SPARK_GRAFT_BENCH_ONLY set
and SPARK_GRAFT_BENCH_RUNS=1 (the leg-level interleave replaces the
in-process pass loop); per-query medians are taken across a side's legs.
Restricted runs write ``reports/bench/restricted_<sf>.json`` and never
touch latest.json/history.jsonl — that firewall is bench.py's, reused
here unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str, cwd: str = REPO) -> str:
    return subprocess.check_output(["git", *args], cwd=cwd, text=True).strip()


def _run_leg(repo_dir: str, queries: str, sf_dir: str, runs: int = 1) -> dict:
    """One bench.py invocation; returns the restricted-run record."""
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = queries
    env["SPARK_GRAFT_BENCH_RUNS"] = str(runs)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    base = os.path.basename(sf_dir.rstrip("/"))
    out_path = os.path.join(repo_dir, "reports", "bench", f"restricted_{base}.json")
    if os.path.exists(out_path):
        os.remove(out_path)
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=repo_dir,
        env=env,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0 or not os.path.exists(out_path):
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:] + "\n")
        raise RuntimeError(f"bench leg failed in {repo_dir} (rc={proc.returncode})")
    with open(out_path) as f:
        rec = json.load(f)
    rec["leg_wall_sec"] = round(time.time() - t0, 1)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--queries", required=True, help="comma list or @file")
    ap.add_argument("--legs", type=int, default=3, help="legs PER SIDE")
    ap.add_argument(
        "--runs",
        type=int,
        default=1,
        help="bench passes per leg (in-process median inside bench.py)",
    )
    ap.add_argument("--base-ref", default="HEAD")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    base_sha = _git("rev-parse", args.base_ref)
    target_desc = _git("describe", "--always", "--dirty")
    diff_stat = _git("diff", "--stat", args.base_ref) or "(no tracked diff)"

    wt_dir = tempfile.mkdtemp(prefix="fdes_ab_base_")
    _git("worktree", "add", "--detach", wt_dir, base_sha)
    legs: list[dict] = []
    try:
        # Interleave with alternating order so slow drift hits both sides
        # symmetrically: (B,T), (T,B), (B,T), ...
        for i in range(args.legs):
            order = ["base", "target"] if i % 2 == 0 else ["target", "base"]
            for side in order:
                repo_dir = wt_dir if side == "base" else REPO
                rec = _run_leg(repo_dir, args.queries, args.sf, args.runs)
                legs.append(
                    {
                        "side": side,
                        "seq": len(legs),
                        "loadavg_start": rec.get("loadavg_start"),
                        "total": rec.get("value"),
                        "queries": rec.get("queries", {}),
                        "leg_wall_sec": rec.get("leg_wall_sec"),
                    }
                )
                print(
                    f"leg {len(legs)}/{2*args.legs} {side}: total "
                    f"{rec.get('value')}s load {rec.get('loadavg_start')}",
                    flush=True,
                )
    finally:
        _git("worktree", "remove", "--force", wt_dir)
        shutil.rmtree(wt_dir, ignore_errors=True)

    names = sorted(
        {n for leg in legs for n in leg["queries"] if leg["queries"][n] >= 0}
    )
    medians: dict[str, dict[str, float]] = {"base": {}, "target": {}}
    for side in ("base", "target"):
        for n in names:
            vals = [
                leg["queries"][n]
                for leg in legs
                if leg["side"] == side and leg["queries"].get(n, -1) >= 0
            ]
            if vals:
                medians[side][n] = statistics.median(vals)
    speedup = {
        n: round(medians["base"][n] / medians["target"][n], 3)
        for n in names
        if medians["base"].get(n) and medians["target"].get(n)
    }
    geomean = (
        round(
            statistics.geometric_mean(list(speedup.values())), 3
        )
        if speedup
        else None
    )
    artifact = {
        "label": args.label,
        "base_ref": args.base_ref,
        "base_sha": base_sha,
        "target": target_desc,
        "diff_stat_vs_base": diff_stat[-2000:],
        "sf_dir": args.sf,
        "legs_per_side": args.legs,
        "runs_per_leg": args.runs,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "medians": medians,
        "speedup_base_over_target": speedup,
        "geomean_speedup": geomean,
        "legs": legs,
    }
    out = os.path.join(REPO, "reports", "bench", f"ab_{args.label}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"artifact": out, "geomean_speedup": geomean,
                      "speedup": speedup}, indent=1))


if __name__ == "__main__":
    main()
