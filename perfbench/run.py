"""Benchmark of tdigest_spark: one command, three seeded workloads.

    python3 perfbench/run.py --workload ingest_by_lang --seed 1 --seconds 8 --trace 0

Run from the repository root.  A run starts one local Spark session,
stages the page-stats input drawn from the seed three times (set-up),
runs warm-up iterations, then repeats the workload's iteration until
`--seconds` have passed, checking every output against exact answers.
With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
records spans around every library call, writes them to
`.perfbench_out/`, and reports the per-layer metrics (see README.md).
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A host block (cores, memory, versions, a NumPy-core thermometer) and the
sample counts are printed on the line before it.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per process, so two runs in one checkout cannot delete each other's input
WORK = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
OUT = os.path.join(ROOT, ".perfbench_out")
CORES = min(4, os.cpu_count() or 1)
FILES_PER_CORE = 2
SETUP_REPS = 3
WARMUP_ITERATIONS = 4


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiply every input size (the smoke run uses a tiny one)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import tdigest_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import tdigest_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SPECS)}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    session = Session()
    try:
        result, report = Bench(args, session).run()
    finally:
        session.close()
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(WORK))
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


class Session:
    """The benchmark's one local Spark session, closed with its JVM (and the
    Python workers that JVM forked) waited for."""

    def __init__(self):
        self.spark = None
        self.jvm_proc = None

    def start(self):
        from tdigest_spark import plans

        conf = {
            "spark.driver.memory": "3g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={WORK}/tmp -Dderby.system.home={WORK}/tmp"
            ),
        }
        self.spark = plans.get_spark(f"local[{CORES}]", app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self.jvm_proc = getattr(gw, "proc", None)
        return self.spark

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if self.jvm_proc is not None:
            if self.jvm_proc.stdin:
                self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


class Bench:
    def __init__(self, args: argparse.Namespace, session: Session):
        from workloads import SPECS

        self.args = args
        self.session = session
        spec = SPECS[args.workload]
        self.spec = dataclasses.replace(
            spec, n_rows=max(int(spec.n_rows * args.scale), 1000),
            n_hosts=max(int(spec.n_hosts * args.scale), 10),
        )

    # ----------------------------------------------------------------- set-up

    def setup(self, rep: int, ref, tracer):
        """The repeatable part of set-up: input synthesis and staging,
        page-cache warm-up and the workload's frozen digests.  Returns the
        bound workload."""
        import inputs
        from workloads import Workload

        spark = self.session.spark
        table = inputs.synthesize(self.args.seed, self.spec.n_rows, self.spec.n_hosts)
        path = os.path.join(WORK, f"input-{rep}")
        shutil.rmtree(os.path.join(WORK, f"input-{rep - 1}"), ignore_errors=True)
        self.input_bytes = inputs.write_parquet(table, path, CORES * FILES_PER_CORE)
        inputs.warm_page_cache(path)
        return Workload(spark, self.spec, path, ref, tracer)

    # ------------------------------------------------------------------- runs

    def run(self) -> tuple[dict, dict]:
        import inputs
        from probes import CORE_ROWS
        from spans import StatusStore, Tracer
        from workloads import VALUE

        host = host_block()
        # the exact answers, computed once from the seed's table
        table = inputs.synthesize(self.args.seed, self.spec.n_rows, self.spec.n_hosts)
        ref = inputs.reference(table, list(self.spec.by), VALUE)
        # what the single-thread probes of a traced run feed the core
        self.head = table.slice(0, CORE_ROWS).select([*self.spec.by, VALUE]).to_pandas()
        del table
        # the one-off part of set-up: JVM, session and Python workers
        t0 = time.perf_counter()
        spark = self.session.start()
        _warm_python_workers(spark)
        session_start = time.perf_counter() - t0
        setups = []
        tracer = Tracer(self.spec.name, StatusStore(spark)) if self.args.trace else None
        for rep in range(1 if self.args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl = self.setup(rep, ref, tracer)
            setups.append(time.perf_counter() - t0)
        report = {
            "host": host,
            "workload": self.spec.name,
            "seed": self.args.seed,
            "input_rows": self.spec.n_rows,
            "input_bytes": self.input_bytes,
            "groups": len(wl.ref.keys),
            "session_start_s": session_start,
            "setup_s_samples": setups,
        }
        # the first iterations after set-up warm the JIT and the caches;
        # they are checked and counted, but kept out of wall_s
        checks, report["warmup_s"] = [], []
        for _ in range(WARMUP_ITERATIONS):
            wall, chk, _ = self._iteration(wl)
            report["warmup_s"].append(wall)
            checks.append(chk)
        if self.args.trace:
            return self._run_traced(wl, tracer, report, checks)
        walls = []
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline or len(walls) < 3:
            wall, chk, _ = self._iteration(wl)
            walls.append(wall)
            checks.append(chk)
        good = [c for c in checks if c.ok] or [checks[0]]
        wall = statistics.median(walls)
        report.update(iterations=len(walls), wall_s_samples=walls,
                      max_rank_err=max(c.max_rank_err for c in good),
                      failures=[c.reason for c in checks if not c.ok])
        metrics = {
            "setup_s": (session_start + statistics.median(setups), "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (self.spec.n_rows / wall, "1/s"),
            "mean_rank_err": (max(c.mean_rank_err for c in good), "rank"),
            "digest_bytes": (good[0].digest_bytes, "B"),
        }
        return _result(checks, metrics), report

    def _iteration(self, wl, traced_it: int | None = None):
        """(wall seconds, check verdict, output) of one iteration."""
        from workloads import Verdict

        t0 = time.perf_counter()
        try:
            out = wl.run() if traced_it is None else wl.run_traced(traced_it)
        except Exception as e:  # a failed iteration is counted, not fatal
            return time.perf_counter() - t0, Verdict(False, reason=f"{type(e).__name__}: {e}"), None
        wall = time.perf_counter() - t0
        return wall, wl.check(out), out

    def _run_traced(self, wl, tracer, report, checks) -> tuple[dict, dict]:
        """Untraced and traced iterations in alternation (their difference
        is the tracing overhead), then the probes of probes.per_layer."""
        import probes

        base, traced, last = [], [], None
        deadline = time.perf_counter() + self.args.seconds * 2 / 3
        while time.perf_counter() < deadline or len(traced) < 2:
            wall, chk, _ = self._iteration(wl)
            base.append(wall)
            checks.append(chk)
            wall, chk, out = self._iteration(wl, traced_it=len(traced))
            traced.append(wall)
            checks.append(chk)
            last = out if chk.ok else last
        metrics = probes.per_layer(self, wl, tracer, last)
        metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(base), "s")
        path = os.path.join(OUT, f"trace-{self.spec.name}-{self.args.seed}.jsonl")
        tracer.write(path)
        report.update(iterations=len(checks), trace_file=os.path.relpath(path, ROOT),
                      failures=[c.reason for c in checks if not c.ok])
        return _result(checks, metrics), report


def _result(checks: list, metrics: dict) -> dict:
    failed = sum(not c.ok for c in checks)
    return {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _warm_python_workers(spark) -> None:
    """Start every core's Python worker once, so the first timed
    iteration does not pay for the forks."""
    def ident(batches):
        yield from batches

    df = spark.range(0, 40_000, numPartitions=CORES)
    df.mapInPandas(ident, df.schema).write.format("noop").mode("overwrite").save()


def host_block() -> dict:
    """What the host is, so runs on different hosts are never compared
    silently; `thermometer_ns_per_sample` is the NumPy core's ingest
    speed on 10M uniform values at delta=100."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyspark

    from tdigest_spark.core import MergingDigest

    vals = np.random.default_rng(0).random(10_000_000)
    d = MergingDigest(100.0)
    t0 = time.perf_counter()
    d.add(vals)
    d.compress()
    ns = (time.perf_counter() - t0) / vals.size * 1e9
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": np.__version__,
        "pandas": pd.__version__,
        "pyarrow": pa.__version__,
        "thermometer_ns_per_sample": round(ns, 2),
    }


if __name__ == "__main__":
    sys.exit(main())
