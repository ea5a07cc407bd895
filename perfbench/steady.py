#!/usr/bin/env python3
"""Run every workload over several seeds and report each end-to-end
metric's median and spread (interquartile range over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles), next to the
bound BENCHMARK.json fixes for it.

    python3 perfbench/steady.py [--seeds 10] [--workload NAME]... [--out FILE]

Run from the root of a checkout. `--out` writes the figures as JSON, with
the machine's processor count and load average.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"nproc": os.cpu_count(), "run_seconds": bench["run_seconds"], "workloads": {}}
    ok = True
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(1, a.seeds + 1):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode != 0 or not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: FAILED\n{proc.stdout}", file=sys.stderr)
                ok = False
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        row = {}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            row[m] = {"median": statistics.median(vs), "spread": (q3 - q1) / statistics.median(vs),
                      "bound": bounds[m], "values": vs}
            print(f"  {w} {m}: median {row[m]['median']:.4g} spread {row[m]['spread']:.3f} "
                  f"(bound {bounds[m]})")
        report["workloads"][w] = row
    report["loadavg"] = os.getloadavg()
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
