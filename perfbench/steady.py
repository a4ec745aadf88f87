#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, compared against the
benchmark's own bounds.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b]

For every workload in BENCHMARK.json, each of two sets makes `--runs`
untraced runs with distinct seeds (set i uses seeds 1000 + 100*i + r).
The report goes to .bench_runs/steady.json. For every
end-to-end metric it reports each set's median and quartiles
(statistics.quantiles(values, n=4)), the spread (Q3 - Q1) / median, and:
  - spread_ok: every set's spread is within the bound (setup_s is
    exempt), and below_third: within a third of it, the tuning target;
  - agree: the second set's median is not worse than the first's by
    more than the bound.
Runs that fail or report correct=false are listed and fail the check.
Exits non-zero when any check fails.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = 2
SEED0 = 1000
REPORT = ROOT / ".bench_runs" / "steady.json"


def run_once(cmd, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if p.returncode != 0:
        return None, p.stderr[-2000:], wall
    return json.loads(p.stdout.strip().splitlines()[-1]), None, wall


def worse_by(first, second, better):
    """Relative worsening of `second` against `first` (positive = worse)."""
    if first == 0:
        return 0.0 if second == first else float("inf")
    d = (second - first) / abs(first)
    return d if better == "lower" else -d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    report, ok = {}, True
    for w in workloads:
        sets, problems, walls = [], [], []
        for i in range(SETS):
            vals = {}
            for r in range(args.runs):
                seed = SEED0 + 100 * i + r
                res, err, wall = run_once(bench["command"], w, seed, bench["run_seconds"])
                walls.append(wall)
                if res is None or not res["correct"]:
                    problems.append({"set": i, "seed": seed, "error": err or res})
                    continue
                for name, v in res["metrics"].items():
                    vals.setdefault(name, []).append(v["value"])
                print(f"[steady] {w} set {i} seed {seed} ({wall:.0f} s): " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    file=sys.stderr, flush=True)
            sets.append(vals)
        rows = {}
        for m in metrics:
            name = m["name"]
            per_set = [s.get(name, []) for s in sets]
            stats = []
            for vs in per_set:
                if len(vs) < 4:
                    stats.append({"n": len(vs), "values": vs})
                    continue
                q1, med, q3 = statistics.quantiles(vs, n=4)
                med = statistics.median(vs)
                stats.append({"n": len(vs), "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med if med else float("inf"),
                              "values": vs})
            have = [s for s in stats if "median" in s]
            complete = len(have) == len(stats)
            spread_ok = name == "setup_s" or (
                complete and all(s["spread"] <= m["bound"] for s in have))
            below_third = complete and all(s["spread"] <= m["bound"] / 3 for s in have)
            agree = len(have) == SETS and worse_by(
                have[0]["median"], have[1]["median"], m["better"]) <= m["bound"]
            rows[name] = {"bound": m["bound"], "better": m["better"], "sets": stats,
                          "spread_ok": spread_ok, "below_third": below_third,
                          "agree": agree}
            ok &= spread_ok and agree
            print(f"[steady] {w:9s} {name:14s} " + " | ".join(
                f"med {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                f"spread {s['spread']:.3f}" if "median" in s else f"n={s['n']}"
                for s in stats) + f" | bound {m['bound']} spread_ok {spread_ok} below_third {below_third}"
                f" agree {agree}")
        report[w] = {"metrics": rows, "problems": problems,
                     "run_wall_s": {"median": statistics.median(walls), "max": max(walls)}}
        print(f"[steady] {w}: run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        ok &= not problems
    REPORT.parent.mkdir(parents=True, exist_ok=True)
    REPORT.write_text(json.dumps(report, indent=1))
    print(json.dumps({"ok": ok, "report": str(REPORT)}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
