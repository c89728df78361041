#!/usr/bin/env python3
"""Run one workload on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload exec_small --seeds 1-10 [--trace 0]

The spread is the distance between the first and third quartile of the
runs' values (statistics.quantiles, n=4) as a share of their median, the
figure BENCHMARK.json's bounds are set against. Also prints each run's
wall time and box-state stamps (steal, neighbour CPU). Writes the runs,
with those stamps, to perfbench/work/out/spread-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STAMPS = ("steal_frac", "external_cpu_frac", "loadavg_start", "setup_s_each", "pass_wall_cpu_steal_s")


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
        lines = p.stdout.splitlines()
        r = json.loads(lines[-1])
        report = json.loads(lines[-2])
        box = {k: report.get(k) for k in STAMPS}
        runs.append({"seed": s, "wall_s": wall, "box": box, **r})
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {s}: {wall:.1f} s correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}"
              f" steal={box['steal_frac']} ext_cpu={box['external_cpu_frac']:.3f}", flush=True)

    print(f"run wall: median {statistics.median(r['wall_s'] for r in runs):.1f} s, "
          f"max {max(r['wall_s'] for r in runs):.1f} s")
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if spread < b / 3 else ("  WITHIN BOUND" if spread < b else "  OVER BOUND"))
        print(f"{name:28s} median {med:12.5g}  spread {spread:7.4f}  bound {b}{flag}")
    out = os.path.join(BENCH, "work", "out", f"spread-{a.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(runs, f, indent=1)


if __name__ == "__main__":
    main()
