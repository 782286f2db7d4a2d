"""In-memory spans and Spark status-store deltas.

Spans are recorded around calls into the library from the benchmark's
own code: name, start, end, parent, workload and iteration.  They stay
in memory and are written out as JSON lines when the run ends.  A span
opened with `stats=True` also carries the status-store delta of every
Spark stage and SQL execution that ran inside it (the `plans.*` layer).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time

_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PYTHON_BYTES = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


class Tracer:
    def __init__(self, workload: str, status: "StatusStore"):
        self.workload = workload
        self.status = status
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, iteration: int | None = None, stats: bool = False):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "iteration": iteration,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.status.mark() if stats else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                rec["stats"] = self.status.since(mark, rec["end"] - rec["start"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self, name: str) -> list[float]:
        """Each `name` span's duration less the time its children cover
        (children of one span never overlap: the benchmark is serial)."""
        out = []
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
            out.append(s["end"] - s["start"] - kids)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class StatusStore:
    """Deltas of the Spark app-status store (the store `plans` reads)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._empty = jvm.java.util.Collections.emptyList()
        self._dbl0 = sc._gateway.new_array(jvm.double, 0)
        self._slots = sc.defaultParallelism

    def _stages(self) -> list:
        self._ssc.listenerBus().waitUntilEmpty()
        lst = self._store.stageList(self._empty, False, False, self._dbl0, self._empty)
        return [lst.apply(i) for i in range(lst.size())]

    def _executions(self) -> list:
        lst = self._sql.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> tuple[int, int]:
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._executions()]
        return max(stages, default=-1), max(execs, default=-1)

    def since(self, mark: tuple[int, int], wall_s: float) -> dict:
        out = dict.fromkeys(
            ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "spill_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
             "python_bytes_sent", "python_bytes_returned"), 0.0)
        busy = 0.0
        skew = 1.0
        for s in self._stages():
            if s.stageId() <= mark[0] or s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["input_bytes"] += s.inputBytes()
            tasks = self._store.taskList(s.stageId(), s.attemptId(), 100_000)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get() / 1e3)
            busy += sum(durs)
            if len(durs) >= self._slots and statistics.median(durs) > 0:
                skew = max(skew, max(durs) / statistics.median(durs))
        seen = set()
        for e in self._executions():
            if e.executionId() <= mark[1]:
                continue
            values = self._sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                key = _PYTHON_BYTES.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += _parse_size(v.get())
        out["task_skew"] = skew
        out["slot_idle_frac"] = max(0.0, 1.0 - busy / (wall_s * self._slots))
        return out


def _parse_size(text: str) -> float:
    """Spark renders size metrics as `total (min, med, max ...)\\n12.3 MiB
    (...)`, or a bare `12.3 MiB`: take the total."""
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0
