"""Smoke run of the benchmark at a tiny input size.

    python3 perfbench/smoke.py

Checks BENCHMARK.json against the benchmark's output contract, then runs
every workload (also those BENCHMARK.json leaves out) untraced and
traced at 1% of its input size and checks
that the last output line has the contract's keys, that every metric
BENCHMARK.json names is reported with its unit, that per-layer metrics
all map to an end-to-end target in layer_map.json, and that the trace
file parses into spans.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SPAN_KEYS = {"id", "name", "parent", "workload", "iteration", "start", "end"}


def check_spec(bench: dict, layer_map: dict, workloads: list[str]) -> None:
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60 and isinstance(bench["run_seconds"], int)
    assert 2 <= len(bench["workloads"]) <= 8
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200, w
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
        names.append(m["name"])
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
        names.append(m["name"])
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.fullmatch(m["unit"]) and m["better"] in ("lower", "higher"), m
    assert all(NAME.fullmatch(n) for n in names) and len(names) == len(set(names))
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    e2e = {m["name"] for m in bench["end_to_end"]}
    wls = set(workloads)
    assert {w["name"] for w in bench["workloads"]} <= wls
    assert set(layer_map) == {m["name"] for m in bench["per_layer"]}
    for layer, targets in layer_map.items():
        for t in targets:
            assert t["metric"] in e2e and t["workload"] in wls, (layer, t)


def check_run(bench: dict, workload: str, trace: int) -> None:
    cmd = [*bench["command"], "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--scale", "0.01"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}, sorted(result["metrics"])
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), (m, got)
    assert {"nproc", "mem_gb", "thermometer_ns_per_sample"} <= set(report["host"])
    if trace:
        with open(os.path.join(ROOT, report["trace_file"])) as fh:
            spans = [json.loads(line) for line in fh]
        assert spans and all(SPAN_KEYS <= set(s) for s in spans)
        assert all(s["end"] >= s["start"] for s in spans)
    print(f"ok {workload} trace={trace} ({result['attempted']} iterations)")


def main() -> int:
    sys.path.insert(0, ROOT)
    from workloads import SPECS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "layer_map.json")) as fh:
        layer_map = json.load(fh)
    check_spec(bench, layer_map, list(SPECS))
    print("ok BENCHMARK.json")
    for name in SPECS:
        for trace in (0, 1):
            check_run(bench, name, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
