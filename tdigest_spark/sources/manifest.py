"""Observed writes: parquet output + a data-quality manifest in ONE pass.

Every curation stage that writes a table wants the same bookkeeping —
row count, per-column null counts, value ranges — and the naive way is
a second full scan (`df.count()`, `df.describe()`) that doubles the
stage's IO.  Spark's `DataFrame.observe` attaches aggregate metrics to
the frame itself: they are computed BY THE WRITE JOB as rows stream
through, so the manifest costs zero extra scans — at 100 TB that is the
difference between one pass and two.

The manifest lands as ``_manifest.json`` inside the output directory
(next to parquet's own ``_SUCCESS``), written AFTER the data commit so
its presence certifies a complete, counted write — a cheap resume /
quality gate for downstream stages (`read_manifest`).

Sidecar IO goes through the Hadoop FileSystem API, not builtin
open()/os.path: the output may be hdfs:// or s3a://, where a local-only
write would crash AFTER the data commit (a certified-incomplete output)
and a local-only read would declare every remote manifest missing.
"""

from __future__ import annotations

import contextlib
import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_NAME = "_manifest.json"


def write_observed(
    df: DataFrame,
    path: str,
    stat_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Write `df` as parquet at `path` and return (and persist) a
    manifest of metrics observed during that same write job:
    ``rows``, and per column in `stat_cols` (default: every atomic
    column) ``<col>_nulls`` plus, for numeric/timestamp columns,
    ``<col>_min`` / ``<col>_max``.  Exactly one scan happens.

    Array/map/struct/binary columns get null counts only (min/max is
    not defined for them).  Metrics are driver-side scalars — KBs —
    regardless of data size."""
    atomic = {"string", "boolean"}
    numericish = ("int", "bigint", "smallint", "tinyint", "double",
                  "float", "date", "timestamp", "decimal", "long")
    dtypes = dict(df.dtypes)
    if stat_cols is None:
        stat_cols = [c for c, t in df.dtypes
                     if t in atomic or t.startswith(numericish)]
    else:
        missing = [c for c in stat_cols if c not in dtypes]
        if missing:
            raise ValueError(f"stat_cols not in frame: {missing}")

    metrics = [F.count(F.lit(1)).alias("rows")]
    for c in stat_cols:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
        )
        if dtypes[c].startswith(numericish):
            metrics.append(F.min(c).alias(f"{c}_min"))
            metrics.append(F.max(c).alias(f"{c}_max"))

    obs = Observation("write_observed")
    observed = df.observe(obs, metrics[0], *metrics[1:])
    w = observed.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)

    got = {
        k: (v if not hasattr(v, "isoformat") else v.isoformat())
        for k, v in obs.get.items()
    }
    payload = json.dumps(got, indent=1, sort_keys=True, default=str)
    _fs_write_bytes(
        df.sparkSession, f"{path.rstrip('/')}/{MANIFEST_NAME}",
        payload.encode("utf-8"),
    )
    return got


def _fs_path(spark: SparkSession, path: str):
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    return fs, jp


def _fs_write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Atomic write: temp file + rename, so the file is either absent or
    complete.  The manifest's whole contract is "presence certifies a
    complete write" — an in-place create() that dies mid-stream would
    leave a partial JSON that read_manifest raises on instead of
    returning None (resume would hard-fail rather than redo the stage)."""
    import uuid

    fs, jp = _fs_path(spark, path)
    # uuid-suffixed temp name: with the old FIXED '.inprogress' name two
    # concurrent writers could cross-rename each other's PARTIAL file
    # into place; with per-writer temps each rename moves a COMPLETE
    # file.  The jobs as shipped are single-writer per path, and that is
    # still the real contract: on filesystems without atomic
    # delete+rename (HDFS/S3A) two truly concurrent writers can still
    # interleave the delete/rename pair (one sees its rename fail, or a
    # brief window with no manifest — acceptable under the
    # presence-certifies-completeness contract, never a partial file).
    tmp = spark._jvm.org.apache.hadoop.fs.Path(  # type: ignore[union-attr]
        f"{path}.inprogress.{uuid.uuid4().hex[:12]}"
    )
    stream = fs.create(tmp, True)
    try:
        try:
            stream.write(data)
        except BaseException:
            with contextlib.suppress(Exception):
                stream.close()  # the write error is the one to report
            raise
        stream.close()
    except BaseException:
        fs.delete(tmp, False)  # do not leak a uuid temp per failed write
        raise
    if fs.exists(jp):
        fs.delete(jp, False)
    if not fs.rename(tmp, jp):
        fs.delete(tmp, False)
        raise IOError(f"rename {tmp} -> {jp} failed")


def _fs_read_bytes(spark: SparkSession, path: str) -> bytes | None:
    fs, jp = _fs_path(spark, path)
    if not fs.exists(jp):
        return None
    stream = fs.open(jp)
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)  # type: ignore[union-attr]
        )
    finally:
        stream.close()


def read_manifest(path: str, spark: SparkSession | None = None) -> dict | None:
    """Load the manifest an observed write left at `path`, or None when
    the directory was written without one (or the write never
    completed — the manifest is written after the data commit, so its
    absence is itself the signal).

    Goes through the Hadoop FS of the active session so hdfs://s3a://
    outputs resolve; with no session (pure-local tooling) falls back to
    builtin open()."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        p = os.path.join(path, MANIFEST_NAME)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
    raw = _fs_read_bytes(spark, f"{path.rstrip('/')}/{MANIFEST_NAME}")
    return None if raw is None else json.loads(raw.decode("utf-8"))


def assert_manifest(
    spark: SparkSession, path: str, min_rows: int = 1
) -> dict:
    """Downstream-stage gate: the manifest must exist and certify at
    least `min_rows` rows.  Raises ValueError otherwise."""
    m = read_manifest(path, spark)
    if m is None:
        raise ValueError(f"no manifest at {path} — incomplete write?")
    if int(m.get("rows", 0)) < min_rows:
        raise ValueError(f"manifest rows={m.get('rows')} < {min_rows}")
    return m
