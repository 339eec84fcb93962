#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload gear --seeds 1-10 --seconds 30 [--trace 0]

For every metric it prints the median and the interquartile range as a share
of the median (quartiles as statistics.quantiles(values, n=4) gives them),
next to the bound BENCHMARK.json allows. Results are also appended, one JSON
line per run, to .bench_build/perfbench/spread-<workload>.jsonl.
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


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    secs = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "perfbench", f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(secs), "--trace", a.trace],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        host = [l for l in lines if "host.steal_jiffies" in l]
        print(f"seed {s}: exit {p.returncode} wall {wall:.1f} s correct "
              f"{res and res['correct']} {host[0][12:] if host else ''}", flush=True)
        if not res:
            continue
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": s, "wall_s": wall, "exit": p.returncode, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':40s} {'n':>3s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / abs(med)
        else:
            spread = float("nan")
        b = bounds.get(k)
        flag = " OVER" if b is not None and k != "setup_s" and spread > b / 3 else ""
        print(f"{k:40s} {len(vs):3d} {med:12.4f} {spread:8.3f} {b if b is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
