"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest_by_lang --seeds 1-10

Runs the benchmark once per seed (or reads saved outputs given with
--files), and prints per metric the median and the distance between the
first and third quartile as a share of the median, beside the metric's
bound from BENCHMARK.json.  A spread above a third of its bound means the
benchmark is not yet steady for that metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seeds", type=_seeds, default=[])
    p.add_argument("--files", nargs="*", default=[], help="saved run outputs")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    results = []
    for path in args.files:
        with open(path) as fh:
            results.append(json.loads(fh.read().strip().splitlines()[-1]))
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        results.append(json.loads(out.stdout.strip().splitlines()[-1]))
        print(f"seed {seed}: {json.dumps(results[-1])}", file=sys.stderr)
    if len(results) < 2:
        p.error("need at least two runs")
    print(f"{'metric':16} {'median':>14} {'spread':>8} {'bound':>6}  runs={len(results)}")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "" if spread < m["bound"] / 3 else "  <- above bound/3"
        print(f"{m['name']:16} {med:14.6g} {spread:8.3f} {m['bound']:6.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
