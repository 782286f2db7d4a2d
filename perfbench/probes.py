"""Per-layer numbers for a traced run.

The traced iterations give the operator spans (build, merge, quantile
UDF or enrich) and the status-store deltas.  The probes here add the
layers an iteration does not isolate: the JVM-only scan floor, the bare
Arrow transfer, any operator layer the workload does not pass through,
and single-thread calls into the NumPy core on the workload's own values.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tdigest_spark.core import MergingDigest
from workloads import DELTA, VALUE, release

CHUNK = 10_000  # the Arrow batch size the operators see
CORE_ROWS = 1_000_000
CORE_GROUPS = 20_000
PROBE_REPS = 3


def per_layer(bench, wl, tracer, last: dict | None) -> dict:
    span = tracer.span
    proj = wl.projection()

    def ident(batches):
        yield from batches

    for _ in range(PROBE_REPS):
        with span("sources.scan_floor"):
            proj.groupBy(*wl.by).agg(F.count("*"), F.sum(VALUE)).collect()
        with span("operators.digest.transfer"):
            proj.mapInPandas(ident, proj.schema).write.format("noop").mode("overwrite").save()

    if wl.frozen is None:
        partial_rows = last["partial_rows"] if last else 0
        digests_pdf = last["digests"] if last else None
        with span("operators.digest.enrich"):
            if digests_pdf is not None:
                frozen = wl.spark.createDataFrame(digests_pdf[[*wl.by, "digest"]])
                wl.enrich_query(frozen).collect()
                release()
    else:
        with span("operators.digest.build"):
            partials = wl.partials().persist()
            partial_rows = partials.count()
        with span("operators.digest.merge"):
            merged = wl.merged(partials).persist()
            merged.count()
        with span("functions.quantile_udf"):
            wl.quantiles(merged, (0.5,)).collect()
        partials.unpersist(blocking=True)
        merged.unpersist(blocking=True)
        digests_pdf = wl.frozen_pdf

    core = _core(bench, wl, tracer)
    iters = [x for x in tracer.spans if x["name"] == "iteration" and "stats" in x]

    def med(name):
        return statistics.median(tracer.durations(name))

    def plan(key):
        return statistics.median(x["stats"][key] for x in iters)

    m = {
        "sources.scan_floor_s": (med("sources.scan_floor"), "s"),
        "sources.input_bytes": (_column_bytes(wl.path, [*wl.by, VALUE]), "B"),
        "operators.digest.transfer_s": (med("operators.digest.transfer"), "s"),
        "operators.digest.build_s": (med("operators.digest.build"), "s"),
        "operators.digest.partial_rows": (partial_rows, "count"),
        "operators.digest.merge_s": (med("operators.digest.merge"), "s"),
        "functions.quantile_udf_s": (med("functions.quantile_udf"), "s"),
        "operators.digest.enrich_s": (med("operators.digest.enrich"), "s"),
        "operators.digest.unattributed_s": (statistics.median(tracer.self_times("iteration")), "s"),
    }
    m.update(core)
    blobs = [] if digests_pdf is None else digests_pdf["digest"]
    m["core.centroids"] = (sum(len(MergingDigest.from_bytes(bytes(b))) for b in blobs), "count")
    units = {"stages": "count", "tasks": "count", "task_run_s": "s", "task_cpu_s": "s",
             "gc_s": "s", "spill_bytes": "B", "shuffle_write_bytes": "B",
             "shuffle_read_bytes": "B", "task_skew": "ratio", "slot_idle_frac": "ratio",
             "python_bytes_sent": "B", "python_bytes_returned": "B"}
    for k, u in units.items():
        m[f"plans.{k}"] = (plan(k), u)
    return m


def _core(bench, wl, tracer) -> dict:
    """Single-thread calls on the first CORE_ROWS input rows, grouped as
    the workload groups them, fed in Arrow-batch chunks: the pandas group
    split the grouped operators run per batch, then the NumPy core."""
    span = tracer.span
    head = bench.head
    n = len(head)
    with span("pandas.group_split") as s:
        for lo in range(0, n, CHUNK):
            head.iloc[lo : lo + CHUNK].groupby(wl.by, sort=False, dropna=False).indices
    split_ns = _dur(s) / n * 1e9
    vals = head[VALUE].to_numpy(dtype=np.float64)
    gid = wl.ref.row_gid[:n]
    order = np.argsort(gid, kind="stable")
    bounds = np.flatnonzero(np.diff(gid[order])) + 1
    groups = np.split(vals[order], bounds)[:CORE_GROUPS]
    rows = sum(g.size for g in groups)

    with span("core.add") as s:
        ds = []
        for g in groups:
            d = MergingDigest(DELTA)
            for lo in range(0, g.size, CHUNK):
                d.add(g[lo : lo + CHUNK])
            ds.append(d)
    add_ns = _dur(s) / rows * 1e9
    compactions = sum(d.merge_count for d in ds) / rows * 1e6
    for d in ds:
        d.compress()
    with span("core.to_bytes") as s:
        blobs = [d.to_bytes() for d in ds]
    to_us = _dur(s) / len(ds) * 1e6
    with span("core.from_bytes") as s:
        copies = [MergingDigest.from_bytes(b) for b in blobs]
    from_us = _dur(s) / len(ds) * 1e6
    others = [MergingDigest.from_bytes(b) for b in blobs]
    with span("core.merge") as s:
        for a, b in zip(copies, others):
            a.merge(b)
    merge_us = _dur(s) / len(ds) * 1e6
    qs = wl.spec.qs or (0.5,)
    with span("core.quantile") as s:
        for d in ds:
            for q in qs:
                d.quantile(q)
    q_us = _dur(s) / (len(ds) * len(qs)) * 1e6
    with span("core.cdf_batch") as s:
        for d, g in zip(ds, groups):
            for lo in range(0, g.size, CHUNK):
                d.cdf_batch(g[lo : lo + CHUNK])
    cdf_ns = _dur(s) / rows * 1e9
    return {
        "pandas.group_split_ns_per_row": (split_ns, "ns"),
        "core.add_ns_per_sample": (add_ns, "ns"),
        "core.compactions_per_mrow": (compactions, "count"),
        "core.to_bytes_us": (to_us, "us"),
        "core.from_bytes_us": (from_us, "us"),
        "core.merge_us": (merge_us, "us"),
        "core.quantile_us": (q_us, "us"),
        "core.cdf_batch_ns_per_value": (cdf_ns, "ns"),
    }


def _column_bytes(path: str, cols: list[str]) -> int:
    """Compressed parquet bytes of the columns the scan floor reads (the
    status store undercounts reads done on parquet's own IO threads)."""
    total = 0
    for name in os.listdir(path):
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(rg).column(c)
                if col.path_in_schema in cols:
                    total += col.total_compressed_size
    return total


def _dur(s: dict) -> float:
    return s["end"] - s["start"]
