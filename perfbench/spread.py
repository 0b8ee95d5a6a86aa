#!/usr/bin/env python3
"""Runs a workload with several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload transfer --seeds 1-10 [--trace 0]

Run from the repository root. Each run goes through perfbench/run.py with
the run length from BENCHMARK.json. For every metric it prints the median
and the spread: the distance between the first and third quartile, as
statistics.quantiles(values, n=4) gives them, over the median. The raw
result lines are appended to .bench_build/perfbench/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    log = os.path.join(".bench_build", "perfbench",
                       f"spread-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(s),
               "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: run failed (exit {r.returncode})")
            sys.exit(1)
        res = json.loads(last)
        with open(log, "a") as f:
            f.write(json.dumps({"seed": s, **res}) + "\n")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    print(f"{'metric':32} {'median':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) >= 2 else [med] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread < b / 3 else
                                     ("  within bound" if spread <= b else "  WIDE"))
        print(f"{k:32} {med:12.4f} {spread:8.3f} {b if b is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
