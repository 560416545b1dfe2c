#!/usr/bin/env python3
"""Steadiness evidence: runs the benchmark in sets of runs on the same
code and prints, per workload and end-to-end metric, each set's median
and quartiles, the spread (quartile distance over median) and the
set-to-set difference of the medians, plus host.cal_ms per set.

    python3 perfbench/steady.py --sets 2 --runs 10
    python3 perfbench/steady.py --sets 1 --runs 5 --workloads trip_stream

Seeds differ between every run: set s, run r uses seed 1000*s + r + 1.
The raw results are written to perfbench/out/steady.json.
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


def one_run(workload, seed, seconds):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit("run failed: %s seed %d (exit %d)" % (workload, seed, p.returncode))
    info = next(json.loads(l.split(" ", 1)[1]) for l in lines if l.startswith("perfbench-info "))
    return {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]),
            "cal_ms": info["host.cal_ms"], "steal_pct": info["host.steal_pct"] or 0.0}


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = {w: [[] for _ in range(a.sets)] for w in workloads}
    for s in range(a.sets):
        for w in workloads:
            for r in range(a.runs):
                out = one_run(w, 1000 * s + r + 1, a.seconds)
                runs[w][s].append(out)
                print("set %d %-11s seed %4d  %5.1f s  ok=%s  cal=%.1f ms  steal=%.1f%%" % (
                    s + 1, w, out["seed"], out["wall_s"], out["result"]["correct"],
                    out["cal_ms"], out["steal_pct"]), flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as fh:
        json.dump(runs, fh, indent=1)

    print("\n%-11s %-14s %-6s" % ("workload", "metric", "bound") + "".join(
        "  set%d median [q1, q3] spread" % (s + 1) for s in range(a.sets)) + "  set-to-set")
    for w in workloads:
        for m in bounds:
            cells, medians = [], []
            for s in range(a.sets):
                vals = [r["result"]["metrics"][m]["value"] for r in runs[w][s]]
                q1, q2, q3 = quartiles(vals) if len(vals) > 1 else (vals[0],) * 3
                medians.append(q2)
                cells.append("  %10.4g [%.4g, %.4g] %5.1f%%" % (
                    q2, q1, q3, 100 * (q3 - q1) / q2 if q2 else 0.0))
            diff = "  %+5.1f%%" % (100 * (medians[-1] / medians[0] - 1)) \
                if a.sets > 1 and medians[0] else ""
            print("%-11s %-14s %-6s" % (w, m, bounds[m]) + "".join(cells) + diff)
        cal = ["%.1f" % statistics.median(r["cal_ms"] for r in runs[w][s]) for s in range(a.sets)]
        walls = ["%.0f" % statistics.mean(r["wall_s"] for r in runs[w][s]) for s in range(a.sets)]
        print("%-11s host.cal_ms median per set: %s; mean run wall s: %s" % (
            w, ", ".join(cal), ", ".join(walls)))


if __name__ == "__main__":
    main()
