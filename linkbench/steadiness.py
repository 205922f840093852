"""Steadiness study: run the benchmark command once per seed and report,
for every end-to-end metric, the median and the quartile spread
(Q3 - Q1, from ``statistics.quantiles(values, n=4)``) as a share of the
median.

    python3 linkbench/steadiness.py --workload pagerank --seeds 1-10 \
        [--seconds 15] [--out results.jsonl]

Run from the repository root. Each run is a fresh process, one after the
other; raw results are appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    first, last = (int(x) for x in args.seeds.split("-"))
    rows = []
    for seed in range(first, last + 1):
        t0 = time.monotonic()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=900,
        )
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["passes"] = next((json.loads(line.split(":", 1)[1])
                                 for line in proc.stderr.splitlines()
                                 if line.startswith("passes:")), None)
        rows.append(result)
        vals = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.1f}s wall, attempted {result['attempted']}, "
              f"failed {result['failed']}, correct {result['correct']}, {vals}, "
              f"passes {result['passes']}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall": wall,
                                    **result}) + "\n")
    if len(rows) >= 2:
        for name in rows[0]["metrics"]:
            med, iqr = spread([r["metrics"][name]["value"] for r in rows])
            print(f"{name}: median {med:.4f}, quartile spread {iqr:.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
