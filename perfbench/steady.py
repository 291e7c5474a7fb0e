#!/usr/bin/env python3
"""Runs workloads over several seeds and reports each end-to-end metric's
median and quartile spread (the distance between the first and third
quartile as a share of the median) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload drain-static ...]
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


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in names:
        values, walls, failed = {m: [] for m in bounds}, [], 0
        for i in range(a.runs):
            t = time.monotonic()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(a.first_seed + i), "--seconds",
                                str(bench["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            walls.append(time.monotonic() - t)
            if p.returncode != 0:
                print(f"{w} seed {a.first_seed + i}: exit {p.returncode}: {p.stderr[-500:]}")
                ok = False
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            failed += r["failed"]
            for m, v in r["metrics"].items():
                values[m].append(v["value"])
        print(f"{w}: {a.runs} runs, {failed} failed operations, run wall "
              f"median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m, xs in values.items():
            if len(xs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if m == "setup_s" or spread < bounds[m] / 3 else "  <-- above bound/3"
            ok &= bool(m == "setup_s" or spread <= bounds[m])
            print(f"  {m:18s} median {med:12.4f}  spread {spread:6.3f}  bound {bounds[m]}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
