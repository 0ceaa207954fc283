#!/usr/bin/env python3
"""Runs the repository benchmark on two checkouts in alternating pairs.

    python3 tools/bench_pairs.py --parent DIR --change DIR --workload W \
        --seeds A-B [--trace 0|1]

For every seed in A..B it runs `python3 perfbench/run.py` once in each
checkout, on the same seed and for BENCHMARK.json's `run_seconds`,
alternating which side runs first (the parent first on even seeds, the
change first on odd ones). Every run's result line is appended, together
with its side, seed and position in the pair, to
`.bench_build/bench_pairs.jsonl` at the root of this repository. At the end it prints, for each metric BENCHMARK.json lists
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1):

  - each side's median and quartiles;
  - the change's wins: pairs where it is better in the metric's `better`
    direction;
  - the median difference relative to the parent's median, next to the
    parent's interquartile range (relative) and the metric's bound;

and, per side, the failed/attempted operations and the runs that produced
no result. Standard library only; each checkout builds its own benchmark
on its first run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        sys.exit(f"bench_pairs: empty seed range {text}")
    return list(range(lo, hi + 1))


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns (result dict or None, wall seconds)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        print("\n".join(lines[-20:]), file=sys.stderr)
    return result, wall


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records, metrics):
    by_side = {"parent": {}, "change": {}}
    for r in records:
        by_side[r["side"]][r["seed"]] = r["result"]
    seeds = sorted(set(by_side["parent"]) & set(by_side["change"]))
    print(f"\n{len(seeds)} pairs, seeds {seeds[0]}-{seeds[-1]}" if seeds else "\nno pairs")
    header = (f"{'metric':34s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
              f"{'wins':>6s} {'d_med':>8s} {'p_iqr':>7s} {'bound':>6s}")
    print(header)
    for m in metrics:
        name, better = m["name"], m.get("better", "lower")
        vals = {}
        for side in ("parent", "change"):
            vals[side] = {s: res["metrics"][name]["value"] for s, res in by_side[side].items()
                          if res is not None and name in res.get("metrics", {})}
        pair_seeds = [s for s in seeds if s in vals["parent"] and s in vals["change"]]
        if not pair_seeds:
            continue
        p = [vals["parent"][s] for s in pair_seeds]
        c = [vals["change"][s] for s in pair_seeds]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum(1 for s in pair_seeds
                   if (vals["change"][s] < vals["parent"][s]) == (better == "lower")
                   and vals["change"][s] != vals["parent"][s])
        base = pq[1] if pq[1] != 0 else 1.0
        d_med = (cq[1] - pq[1]) / abs(base)
        p_iqr = (pq[2] - pq[0]) / abs(base)
        bound = m.get("bound")
        worse = d_med > 0 if better == "lower" else d_med < 0
        flag = " WORSE>bound" if bound is not None and worse and abs(d_med) > bound else ""
        fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
        print(f"{name:34s} {fmt(pq):>32s} {fmt(cq):>32s} {wins:>3d}/{len(pair_seeds):<2d} "
              f"{d_med:>+8.3f} {p_iqr:>7.3f} {'-' if bound is None else bound:>6}{flag}")
    for side in ("parent", "change"):
        results = [r for r in by_side[side].values() if r is not None]
        failed = sum(r.get("failed", 0) for r in results)
        attempted = sum(r.get("attempted", 0) for r in results)
        crashed = sum(1 for r in by_side[side].values() if r is None)
        print(f"{side}: failed/attempted {failed}/{attempted}, runs without a result {crashed}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    log_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           ".bench_build")
    os.makedirs(log_dir, exist_ok=True)
    log = os.path.join(log_dir, "bench_pairs.jsonl")

    records = []
    for seed in parse_seeds(a.seeds):
        order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            result, wall = run_once(sides[side], a.workload, seed, seconds, a.trace)
            rec = {"workload": a.workload, "seed": seed, "trace": a.trace, "side": side,
                   "first": pos == 0, "checkout": sides[side], "wall_s": round(wall, 1),
                   "result": result}
            records.append(rec)
            with open(log, "a") as f:
                f.write(json.dumps(rec) + "\n")
            brief = "no result" if result is None else " ".join(
                f"{m['name']}={result['metrics'][m['name']]['value']:.4g}"
                for m in metrics[:4] if m["name"] in result["metrics"])
            print(f"[seed {seed}] {side:6s} {wall:5.0f}s {brief}", flush=True)
    summarize(records, metrics)


if __name__ == "__main__":
    main()
