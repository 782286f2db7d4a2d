"""Resumable digest builds: per-split checkpoints with lineage + metrics.

North-star requirement: "checkpoint serialized digests per partition with
lineage and metrics so a killed job resumes without rescanning completed
splits".

Design
------
A *split* is one input file (the unit Spark can re-read independently and
the unit object stores list cheaply).  The checkpoint directory is a
parquet dataset of completed-split records:

    split_id   string   -- the input file path
    digest     binary   -- serialized MergingDigest for that file
    n_rows     long     -- samples ingested from the split
    digest_sha string   -- sha256 of the digest bytes (integrity/lineage)
    delta      double   -- build parameter (conformality check on resume)
    scale      string

Each incremental run:
1. lists input files,
2. anti-joins them against the manifest (driver-side set difference —
   file lists are tiny even at 100 TB: ~10^6 paths),
3. builds one digest per *pending* file only (`spark.read.parquet(paths)`
   restricted to pending paths — completed bytes are never re-read; this
   is verifiable by deleting a completed source file and resuming), in
   the JVM kernel of `operators.digest.build_partials_grouped` keyed by
   `input_file_name()`,
4. appends new records atomically-enough via parquet append with a
   per-batch job UUID in the filename (Spark's committer handles this),
5. the final digest is the canonical merge (ordered by split_id) of all
   manifest records.

Determinism: the merge order is sorted by split_id, so the final digest
bytes are identical regardless of how many runs/kills it took to finish
— asserted by tests/test_checkpoint.py.

This module is the one reader, writer and merge of the record:
`streaming.digest_sink` writes one per micro-batch with
`_write_records`, and `final_digest` merges its directory too.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .core import MergingDigest
from .operators.digest import build_partials_grouped
from .scale import get_scale

MANIFEST_SCHEMA = (
    "split_id string, digest binary, n_rows long, digest_sha string, "
    "delta double, scale string"
)


@dataclass
class BuildReport:
    total_splits: int
    completed_before: int
    built_now: int
    skipped: list[str]

    @property
    def resumed(self) -> bool:
        return self.completed_before > 0


def _canon_path(p: str) -> str:
    """Canonical split id: inputFiles() and input_file_name() URL-encode
    special characters differently across Spark versions — unquote both
    sides so manifest identity is stable for any path."""
    from urllib.parse import unquote

    return unquote(p)


def _list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    return sorted(_canon_path(f) for f in spark.read.parquet(input_path).inputFiles())


def read_manifest(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Empty frame iff the checkpoint doesn't exist yet; any OTHER read
    error (corrupt files, permission) propagates — masking it would
    silently trigger a full rebuild plus duplicate appends."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(checkpoint_dir)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        raise


def _split_build_frame(
    spark: SparkSession,
    pending: list[str],
    value_col: str,
    delta: float,
    scale: str,
) -> DataFrame:
    """One manifest row per pending split, built map-side by the JVM
    kernel: scan -> `build_partials_grouped` keyed by __split, one digest
    per split seen in the partition.  With whole-file partitions (caller
    raises maxPartitionBytes past the largest file) every split completes
    inside one partition, so the plan contains NO Exchange before the
    write — zero raw-row shuffle (plan-asserted in
    tests/test_checkpoint.py).  The split id is `input_file_name()`
    decoded as `_canon_path` decodes `inputFiles()`; '+' is escaped first
    because SQL url_decode, unlike unquote, reads it as a space."""
    df = spark.read.parquet(*pending).select(
        value_col, F.input_file_name().alias("__split")
    )
    return build_partials_grouped(df, value_col, ["__split"], delta, scale).select(
        F.url_decode(F.replace("__split", F.lit("+"), F.lit("%2B"))).alias("split_id"),
        "digest",
        "n_rows",
        F.sha2("digest", 256).alias("digest_sha"),
        F.lit(float(delta)).alias("delta"),
        F.lit(scale).alias("scale"),
    )


def _write_records(
    spark: SparkSession,
    path: str,
    mode: str,
    records: list[tuple[str, bytes, int]],
    delta: float,
    scale: str,
) -> None:
    """Write driver-side manifest rows, one per (split_id, digest bytes,
    n_rows), as one parquet file."""
    rows = [
        (split_id, blob, int(n), hashlib.sha256(blob).hexdigest(), float(delta), scale)
        for split_id, blob, n in records
    ]
    spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
        mode
    ).parquet(path)


def checkpointed_build(
    spark: SparkSession,
    input_path: str,
    value_col: str,
    checkpoint_dir: str,
    delta: float = 100.0,
    scale: str = "K_3",
) -> BuildReport:
    """Build (or resume building) per-split digests for `input_path`.

    Idempotent: re-running after completion is a no-op; re-running after a
    kill finishes only the pending splits.
    """
    files = _list_input_files(spark, input_path)
    manifest = read_manifest(spark, checkpoint_dir)
    done = {
        r["split_id"]
        for r in manifest.select("split_id").distinct().collect()
    }
    pending = [f for f in files if f not in done]
    if not pending:
        return BuildReport(len(files), len(done), 0, [])

    # Whole-file tasks: raise maxPartitionBytes past the largest pending
    # file so Spark's partition packing never splits a file — every
    # split's digest then completes inside the partition that scanned it
    # and NO raw row ever shuffles (the previous shape shuffled the whole
    # input by __split; at corpus scale that is a full-data shuffle).
    # Byte-determinism of resume is preserved: a split's digest is a
    # function of its own rows in file order, independent of which other
    # files share the partition or which run built it.  Trade-off: one
    # very large file = one long task (IO granularity, not memory — the
    # digest streams over Arrow batches in O(delta) space).
    def _file_size(p: str) -> int:
        from urllib.parse import urlparse

        u = urlparse(p)
        if u.scheme in ("", "file"):
            try:
                return os.path.getsize(u.path or p)
            except OSError:
                return -1
        # remote fs (hdfs://, s3a://, ...): one getFileStatus per
        # pending file — without a real size, a file larger than any
        # fixed fallback bound would SPLIT across partitions, emit two
        # partial manifest rows under one split_id, and final_digest's
        # rerun-race dedup would silently drop the second half
        try:
            jp = spark._jvm.org.apache.hadoop.fs.Path(p)  # type: ignore[union-attr]
            fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
            return int(fs.getFileStatus(jp).getLen())
        except Exception:
            return -1

    sizes = [_file_size(f) for f in pending]
    if sizes and all(s >= 0 for s in sizes):
        bound = max(max(sizes) + (4 << 20), 128 << 20)
    else:
        bound = 8 << 30  # size unknown: generous whole-file bound
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(bound))
    try:
        new_rows = _split_build_frame(spark, pending, value_col, delta, scale)
        new_rows.write.mode("append").parquet(checkpoint_dir)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)

    # a pending split with ZERO rows never reaches the grouped builder (no
    # group), so it would stay "pending" forever; record it explicitly with
    # an empty digest so built_now converges to 0
    written = {
        r["split_id"]
        for r in read_manifest(spark, checkpoint_dir)
        .select("split_id").distinct().collect()
    }
    missing = [f for f in pending if f not in written]
    if missing:
        empty = MergingDigest(delta, scale=get_scale(scale)).to_bytes()
        _write_records(
            spark, checkpoint_dir, "append", [(f, empty, 0) for f in missing],
            delta, scale,
        )
    return BuildReport(len(files), len(done), len(pending), [])


def final_digest(spark: SparkSession, checkpoint_dir: str) -> MergingDigest:
    """Canonical merge of every manifest record, ordered by split_id —
    byte-identical no matter how the build was interrupted/resumed."""
    rows = (
        read_manifest(spark, checkpoint_dir)
        .select("split_id", "digest", "digest_sha", "delta", "scale")
        .collect()
    )
    if not rows:
        raise ValueError(f"empty checkpoint manifest at {checkpoint_dir}")
    rows.sort(key=lambda r: r["split_id"])
    seen: set[str] = set()
    out: MergingDigest | None = None
    params: tuple[float, str] | None = None
    first_sha: dict[str, str] = {}
    for r in rows:
        if r["split_id"] in seen:
            # duplicate append from a rerun race carries IDENTICAL bytes
            # (the build is deterministic) — skip it.  A DIFFERENT sha
            # means the split was built in pieces (a file split across
            # partitions); skipping would silently drop rows.
            if r["digest_sha"] != first_sha[r["split_id"]]:
                raise ValueError(
                    f"conflicting checkpoint records for {r['split_id']}: "
                    "split was built across partitions (file larger than "
                    "the whole-file bound?) — rebuild this checkpoint"
                )
            continue
        seen.add(r["split_id"])
        first_sha[r["split_id"]] = r["digest_sha"]
        blob = bytes(r["digest"])
        if hashlib.sha256(blob).hexdigest() != r["digest_sha"]:
            raise ValueError(f"corrupt checkpoint record for {r['split_id']}")
        if params is None:
            params = (float(r["delta"]), str(r["scale"]))
        elif (float(r["delta"]), str(r["scale"])) != params:
            # conformality: a resume run with different build parameters
            # must not silently merge into a digest of the first run's shape
            raise ValueError(
                f"non-conformal checkpoint record {r['split_id']}: "
                f"(delta={r['delta']}, scale={r['scale']}) != {params}"
            )
        d = MergingDigest.from_bytes(blob)
        if out is None:
            out = MergingDigest(r["delta"], scale=get_scale(r["scale"]))
        out.merge(d)
    assert out is not None
    return out


def metrics(spark: SparkSession, checkpoint_dir: str) -> dict:
    # one record per split_id: a rerun race can append the same split
    # twice (final_digest dedups the same way), and summing raw records
    # would double-count those rows
    m = read_manifest(spark, checkpoint_dir).dropDuplicates(["split_id"])
    agg = m.agg(
        F.countDistinct("split_id").alias("splits"),
        F.sum("n_rows").alias("rows"),
    ).collect()[0]
    return {"splits": int(agg["splits"] or 0), "rows": int(agg["rows"] or 0)}
