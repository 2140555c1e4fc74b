#!/usr/bin/env python3
"""Steadiness check: runs one workload N times, each with its own seed, and
prints the median and quartiles of every metric, and the spread
(Q3 - Q1) / median that a metric's bound in BENCHMARK.json must exceed.

    python3 perfbench/steady.py --workload batch_scan --runs 10 [--trace]

Seeds are first-seed .. first-seed + runs - 1. With --trace each seed also
gets a traced run, and the tracing overhead is printed per end-to-end
metric (median of the traced run's copy over the untraced median, minus 1).
The last line is one JSON object with every figure, for the README.
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


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        sys.exit(f"perfbench: run failed: {workload} seed {seed} trace {trace}")
    lines = [json.loads(ln) for ln in r.stdout.splitlines() if ln.strip()]
    host = next(x["host"] for x in lines if "host" in x)
    ctx = next(x["context"] for x in lines if "context" in x)
    return lines[-1], host, ctx, wall


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", action="store_true")
    a = p.parse_args()
    b = bench()
    seconds = b["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}

    vals, traced, walls, steal, load, shares = {}, {}, [], [], [], set()
    correct = True
    for i in range(a.runs):
        seed = a.first_seed + i
        res, host, ctx, wall = run_once(a.workload, seed, seconds, 0)
        correct &= res["correct"]
        shares.add(res["failed"] / res["attempted"])
        walls.append(wall)
        steal.append(host["steal_s"])
        load.append(host["load1_start"])
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        # the same figures in wall time, reported beside the bounded ones
        for k, v in ctx["wall"].items():
            vals.setdefault(k, []).append(v)
        line = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f} s steal {host['steal_s']} s "
              f"load {host['load1_start']} {line}", file=sys.stderr)
        if a.trace:
            tres, _, _, twall = run_once(a.workload, seed, seconds, 1)
            correct &= tres["correct"]
            for k, v in tres["metrics"].items():
                traced.setdefault(k, []).append(v["value"])
            print(f"seed {seed}: traced wall {twall:.1f} s", file=sys.stderr)

    out = {"workload": a.workload, "runs": a.runs, "seconds": seconds,
           "correct": correct, "failed_shares": sorted(map(str, shares)),
           "run_wall_s": summary(walls), "steal_s": summary(steal),
           "load1_start": summary(load), "metrics": {}}
    for k, v in vals.items():
        s = summary(v)
        out["metrics"][k] = s
        bound = bounds.get(k)
        flag = "" if bound is None or s["spread"] < bound / 3 else "  <-- spread >= bound/3"
        print(f"{k:20s} median {s['median']:.6g}  q1 {s['q1']:.6g}  q3 {s['q3']:.6g}  "
              f"spread {s['spread']:.4f}  bound {bound}{flag}")
    print(f"{'run wall s':20s} median {out['run_wall_s']['median']:.1f}  "
          f"steal s median {out['steal_s']['median']:.1f} (q1 {out['steal_s']['q1']:.1f}, "
          f"q3 {out['steal_s']['q3']:.1f})")
    if a.trace:
        out["layers"] = {k: summary(v) for k, v in traced.items()}
        out["tracing_overhead"] = {}
        for k in vals:
            t = traced.get("traced." + k)
            if t:
                ov = statistics.median(t) / statistics.median(vals[k]) - 1
                out["tracing_overhead"][k] = ov
                print(f"tracing overhead on {k}: {ov:+.3f}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
