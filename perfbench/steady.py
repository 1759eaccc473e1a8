#!/usr/bin/env python3
"""Steadiness of one workload: run it k times, each with another seed, and
print each end-to-end metric's median, quartiles and spread (inter-quartile
distance over the median) against its bound from BENCHMARK.json, and the
tail of the op times pooled over all runs (one run holds too few ops for a
tail of its own). The wall-time metrics' spread is also printed without the
host-steal correction (`raw` in each run's result.json), for comparison.

    python3 perfbench/steady.py --workload scene-wind [--runs 10] [--first-seed 1]
    python3 perfbench/steady.py --selftest

Run from the root of a checkout; each run is `run.py --trace 0`.
"""
import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--selftest", action="store_true", help="test the statistics and exit")
    args = ap.parse_args()
    if args.selftest:
        stats.selftest()
        print("stats selftest ok")
        return
    if not args.workload:
        ap.error("--workload is required")
    if args.runs < 2:
        ap.error("--runs must be at least 2 for quartiles")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    failed_shares = []
    pooled = []
    raw = {name: [] for name in ("setup_s", "throughput", "op_p50_s")}
    for i in range(args.runs):
        seed = args.first_seed + i
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"run {i} (seed {seed}) failed:\n{p.stderr[-3000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        rec = max(glob.glob(os.path.join(HERE, "runs", f"{args.workload}-seed{seed}-trace0-*")),
                  key=os.path.getmtime)
        with open(os.path.join(rec, "result.json")) as f:
            record = json.load(f)
        pooled += record["op_wall_s"]
        for name in raw:
            raw[name].append(record["raw"][name])
        failed_shares.append(res["failed"] / res["attempted"])
        line = [f"seed={seed}", f"correct={res['correct']}", f"ops={res['attempted']}"]
        for name in values:
            values[name].append(res["metrics"][name]["value"])
            line.append(f"{name}={res['metrics'][name]['value']:.4g}")
        print(" ".join(line), flush=True)
    print(f"\n{args.workload}: {args.runs} runs, failed share {sorted(set(failed_shares))}")
    print(f"{'metric':<14} {'unit':<6} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'raw':>6} {'bound':>6}  ok(<bound/3)")
    for name, xs in values.items():
        q1, q2, q3 = stats.quartiles(xs)
        sp = stats.spread(xs)
        b = bounds[name]["bound"]
        gated = name != "setup_s"
        sp_raw = f"{stats.spread(raw[name]):.3f}" if name in raw else "-"
        print(f"{name:<14} {bounds[name]['unit']:<6} {q2:>10.4g} {q1:>10.4g} {q3:>10.4g} {sp:>8.3f} {sp_raw:>6} {b:>6.2f}  "
              f"{('yes' if sp < b / 3 else 'NO') if gated else '(not gated)'}")
    t = stats.tail(pooled)
    if t:
        print(f"op time, pooled: n={len(pooled)} p50={stats.median(pooled):.4g} s "
              f"p{t[0]}={t[1]:.4g} s (ten or more ops beyond it)")
    else:
        print(f"op time, pooled: n={len(pooled)} p50={stats.median(pooled):.4g} s (too few ops for a tail)")


if __name__ == "__main__":
    main()
