"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (quartile distance over the median).

    python3 kgjobbench/spread.py --workload dense_link --seeds 1-10

Runs one benchmark process at a time, each for BENCHMARK.json's
``run_seconds``. Prints one line per run and then
a JSON summary, with the failed share of operations, per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    summary = {}
    for w in args.workload:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w, "--seed", str(s), "--seconds",
                 seconds, "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines \
                else {"correct": False, "attempted": 0, "failed": 0,
                      "metrics": {}, "exit": p.returncode}
            res["run_s"] = time.time() - t0
            print(w, s, json.dumps(res), flush=True)
            runs.append(res)
        out = {"correct": all(r["correct"] for r in runs),
               "failed_share": sorted({r["failed"] / max(r["attempted"], 1)
                                       for r in runs}),
               "run_s_max": max(r["run_s"] for r in runs)}
        for m in runs[0]["metrics"]:
            med, spr = spread([r["metrics"][m]["value"] for r in runs])
            out[m] = {"median": med, "spread": round(spr, 4)}
        summary[w] = out
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
