#!/usr/bin/env python3
"""Steadiness check for the repository benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 10] [--sets 2]
                                [--first-seed 1] [--traced] [--out result.json]

Runs every listed workload once per seed (seeds first-seed .. first-seed+n-1)
with tracing off, `--sets` times over on the same code. For each end-to-end
metric it prints, per set, the median and the spread (first-to-third
quartile distance as a share of the median, statistics.quantiles(n=4)), and
flags a spread above the metric's bound in BENCHMARK.json. With two or more
sets it also compares each later set's median with the first set's and flags a change for the worse
beyond the bound. With --traced it adds one traced run per workload and seed
and reports the tracing overhead: the untraced docs_per_s against the traced
rate (trace.docs_per_s, fences included) over the same seeds. Exits 1 if any
flag is raised.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, None, wall
    info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), info, wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf"), q2


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = range(a.first_seed, a.first_seed + a.seeds)
    flags, report = [], {}
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals, walls = {m: [] for m in bounds}, []
            for seed in seeds:
                res, info, wall = run(w, seed, seconds, 0)
                walls.append(wall)
                if res is None or not res["correct"]:
                    flags.append(f"{w} seed {seed}: run failed or incorrect")
                    continue
                for m in bounds:
                    vals[m].append(res["metrics"][m]["value"])
                print(f"{w} set {s + 1} seed {seed}: " + " ".join(
                    f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds) +
                    f" load={info.get('load_avg_start', 0):.2f} wall={wall:.1f}s", flush=True)
            sets.append((vals, walls))
        rep = {}
        for m, bound in bounds.items():
            row = []
            for i, (vals, _) in enumerate(sets):
                if len(vals[m]) < 2:
                    continue
                sp, med = spread(vals[m])
                row.append({"median": med, "spread": sp})
                if sp > bound:
                    flags.append(f"{w} {m} set {i + 1}: spread {sp:.3f} > bound {bound}")
                if i > 0 and row[0]["median"]:
                    better = next(x["better"] for x in bench["end_to_end"] if x["name"] == m)
                    change = (med - row[0]["median"]) / row[0]["median"]
                    worse = change if better == "lower" else -change
                    row[-1]["worse_than_first"] = worse
                    if worse > bound:
                        flags.append(f"{w} {m} set {i + 1}: median worse by {worse:.3f} > {bound}")
            rep[m] = row
            print(f"  {w} {m}: " + "; ".join(
                f"median {r['median']:.4g} spread {r['spread']:.3f}" +
                (f" worse {r['worse_than_first']:+.3f}" if "worse_than_first" in r else "")
                for r in row) + f" (bound {bound})", flush=True)
        rep["run_wall_s"] = [statistics.median(ws) for _, ws in sets]
        if a.traced:
            over = []
            for seed in seeds:
                res, _, _ = run(w, seed, seconds, 1)
                if res is None or not res["correct"]:
                    flags.append(f"{w} seed {seed}: traced run failed or incorrect")
                    continue
                over.append(res["metrics"]["trace.docs_per_s"]["value"])
                print(f"{w} traced seed {seed}: " + " ".join(
                    f"{m}={res['metrics'][m]['value']:.4g}" for m in
                    ("trace.docs_per_s", "reconcile.call_gap_share", "reconcile.stage_gap_share")),
                    flush=True)
            if over:
                base = statistics.median(sets[0][0]["docs_per_s"])
                rep["trace_overhead"] = base / statistics.median(over) - 1
                print(f"  {w} tracing overhead on pass time: {rep['trace_overhead']:+.3f}", flush=True)
        report[w] = rep
    report["flags"] = flags
    if a.out:
        json.dump(report, open(a.out, "w"), indent=2)
    for f in flags:
        print("FLAG", f)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
