"""spark-submit entry point: MONTHLY-INCREMENT ingestion — fold a new
crawl snapshot into a standing curated corpus + signature index without
ever re-reading the old corpus.

    zip -r tdigest_spark.zip tdigest_spark
    spark-submit --py-files tdigest_spark.zip jobs/incremental_crawl_job.py \
        --prev-snapshot /data/crawl_2025_12 --new-snapshot /data/crawl_2026_01 \
        --index-dir /data/sig_index --output /data/increment_2026_01

Stages (every one an existing library operator; the standing corpus
contributes ONLY its ~100 B/doc MinHash signatures):

  1. snapshot diff      — crawl_diff(prev, new) by url: each side
                          reduces scan-side to (url, md5(text)); only
                          'new' + 'changed' rows proceed ('same' is
                          already in the corpus, 'gone' is retirement
                          bookkeeping).  Skipped (all rows = new) when
                          --prev-snapshot is omitted — e.g. the first
                          increment.
  2. dedup vs index     — dedup_against_index: banded candidates
                          against the standing signature index
                          (template buckets excluded index-side, fanout
                          linear in the increment), lane-agreement
                          verify, anti-join.
  3. within-increment   — LSH candidates + estimated verify + keep-min
                          EXISTS rule inside the increment itself.
  4. write              — survivors via observed write (manifest
                          certifies the count); their signatures append
                          to --index-dir under a batch=<tag>__dir
                          subdirectory (same layout the streaming faces
                          use, so `compact_stream_index` maintains it).

One JSON report line: per-stage seconds + row counts (diff statuses,
dropped-vs-index, dropped-within, emitted).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev-snapshot", default=None,
                    help="previous crawl parquet (url, text, ...); omit on "
                    "the first increment")
    ap.add_argument("--new-snapshot", required=True)
    ap.add_argument("--index-dir", required=True,
                    help="standing signature index directory "
                    "(batch=*__dir layout); created if absent")
    ap.add_argument("--output", required=True)
    ap.add_argument("--batch-tag", default=None,
                    help="index subdirectory tag (default: a hash of "
                    "--new-snapshot, so resubmitting the same increment "
                    "replaces its own batch instead of self-deduping "
                    "to an empty output)")
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--n-hashes", type=int, default=8)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--max-bucket", type=int, default=1000)
    ap.add_argument("--minhash-lane", default="md5",
                    choices=("md5", "rolling"),
                    help="signature hash lane; must match the lane that "
                    "built --index-dir.  An index built with the removed "
                    "xxhash64 lane has the rolling lane's type and would "
                    "silently match nothing: rebuild it")
    return ap


def reusable_batch_id(candidates, read_sidecar, new_snapshot):
    """The previous batch id a rerun of ``new_snapshot`` may reuse, as
    ``(batch_id, verified)``; ``(None, False)`` when none may.

    Identity is only a 48-bit hash prefix; before reusing an id (and
    thereby excluding that batch's signatures from the dedup read +
    overwriting its dir) verify the FULL snapshot string against the
    batch's _snapshot sidecar (``read_sidecar(cand)``: bytes, or None
    when absent).  Scan ALL same-suffix candidates (newest first), not
    just the max: after a real suffix collision there are several
    batches with this suffix and only the one whose sidecar matches is
    OUR previous write — picking max() would make a rerun of the
    EARLIER snapshot mistake the collider's batch for foreign, allocate
    a fresh id, keep its own old signatures in the dedup read, and
    self-dedup to an empty output.  A pre-sidecar batch (no _snapshot
    file) is reused only when it is the sole unverified candidate: with
    two or more, nothing says which one is ours.
    """
    unverified = []
    for cand in sorted(candidates, reverse=True):
        side = read_sidecar(cand)
        if side is None:
            unverified.append(cand)
        elif side.decode("utf-8") == new_snapshot:
            return cand, True
    if len(unverified) == 1:
        return unverified[0], False
    return None, False


def run(spark, args) -> dict:
    """The whole job on a CALLER-provided session; returns the report
    dict main() prints.  Importable so a driver program (or a test) can
    fold increments programmatically without a spark-submit round-trip:
    ``run(spark, build_parser().parse_args([...]))``."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from tdigest_spark.operators.dedup import (
        crawl_diff,
        dedup_against_index,
        estimated_jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from tdigest_spark.sources.manifest import (
        _fs_read_bytes,
        _fs_write_bytes,
        write_observed,
    )

    report: dict = {}
    t0 = time.perf_counter()

    new = spark.read.parquet(args.new_snapshot)

    # 1. snapshot diff: only new/changed urls proceed
    t = time.perf_counter()
    if args.prev_snapshot:
        prev = spark.read.parquet(args.prev_snapshot)
        diff = crawl_diff(prev, new, key_col="url").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        report["diff_counts"] = {
            r["status"]: r["n"]
            for r in diff.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        keep_keys = diff.filter(
            F.col("status").isin("new", "changed")
        ).select("url")
        increment = new.join(keep_keys, "url", "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        diff.unpersist()
    else:
        increment = new.persist(StorageLevel.MEMORY_AND_DISK)
        report["diff_counts"] = {"new": increment.count()}
    n_increment = increment.count()
    report["n_increment"] = n_increment
    report["sec_diff"] = round(time.perf_counter() - t, 1)

    # 2. + 3. dedup vs the standing index, then within the increment
    t = time.perf_counter()
    sigs = minhash_signatures(
        increment, "text", "url", args.n_hashes, args.shingle_k,
        args.minhash_lane,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig_type = dict(sigs.dtypes)["minhash_sig"]

    # Index discovery goes through the Hadoop FS API (os.listdir would
    # raise on hdfs://s3a:// index dirs, and swallowing that would
    # silently skip dedup-vs-index AND reset the batch counter onto an
    # existing batch).  Non-numeric batch stems (e.g. a hand-seeded
    # batch=seed__dir per the streaming docstring) are valid index
    # batches — they are read for dedup but skip id assignment.
    def _index_dir_names() -> list[str]:
        jp = spark._jvm.org.apache.hadoop.fs.Path(args.index_dir)
        fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jp)]

    batch_names = [
        d for d in _index_dir_names()
        if d.startswith("batch=") and d.endswith("__dir")
    ]
    existing_ids = []
    for d in batch_names:
        stem = d.split("batch=")[1].split("c")[0].split("__")[0]
        if stem.isdigit():
            existing_ids.append(int(stem))

    # The batch id is the rerun-idempotence key AND must sort in
    # increment order: compact_stream_index's keep_last treats the
    # HIGHEST ids as most recent, so a pure content hash would make
    # compaction retain arbitrary batches.  Layout: monotone sequence
    # number in the high 16 bits above a 48-bit snapshot-identity hash.
    # Resubmitting the same increment (crash after the index append,
    # operator retry) finds its own hash suffix among the existing ids
    # and reuses the FULL id — its previously-written signatures are
    # excluded from the dedup read below (the streaming face's
    # batch_id != current rule) instead of matching the increment
    # against itself and overwriting the good output with an empty one;
    # a genuinely new increment takes max(existing high parts) + 1.
    _HASH_BITS = 48
    if args.batch_tag is not None:
        batch_id = int(args.batch_tag)
    else:
        import hashlib

        suffix = int(
            hashlib.md5(args.new_snapshot.encode()).hexdigest()[:12], 16
        )
        same_snapshot = [
            i for i in existing_ids if i % (1 << _HASH_BITS) == suffix
        ]

        def _fresh_id() -> int:
            nxt = 1 + max(
                (i >> _HASH_BITS for i in existing_ids), default=0
            )
            return (nxt << _HASH_BITS) | suffix

        batch_id, verified = reusable_batch_id(
            same_snapshot,
            lambda cand: _fs_read_bytes(
                spark, f"{args.index_dir}/batch={cand:020d}__dir/_snapshot"
            ),
            args.new_snapshot,
        )
        if batch_id is not None and not verified:
            print(
                json.dumps({
                    "info": "reusing batch id by 48-bit suffix "
                            "(no _snapshot sidecar to verify)",
                    "new_snapshot": args.new_snapshot,
                    "batch_id": batch_id,
                }),
                file=sys.stderr,
            )
        if batch_id is None:
            if same_snapshot:
                print(
                    json.dumps({
                        "warn": "snapshot id-suffix collision; allocating "
                                "a fresh batch id",
                        "new_snapshot": args.new_snapshot,
                        "batch_ids_not_reused": sorted(same_snapshot),
                    }),
                    file=sys.stderr,
                )
            batch_id = _fresh_id()

    # Path-level exclusion of the current batch's own directory: the
    # rerun path must not READ a directory it is about to OVERWRITE —
    # with only a row-level filter, a cache eviction or executor loss
    # after the overwrite starts would recompute from a dir mid-delete.
    # The row-level batch_id filter below still covers rows of this
    # batch that a compaction folded into a consolidated dir.
    cur_tag = f"batch={int(batch_id):020d}__dir"
    read_dirs = [
        f"{args.index_dir}/{d}" for d in batch_names if d != cur_tag
    ]
    if read_dirs:
        index = spark.read.parquet(*read_dirs)
        if "batch_id" in index.columns:
            # null-safe: seed batches written without a batch_id column
            # (or with nulls) must stay in the dedup read
            index = index.filter(
                ~F.col("batch_id").eqNullSafe(F.lit(batch_id))
            )
    else:
        index = spark.createDataFrame([], f"url string, minhash_sig {sig_type}")

    vs_index = dedup_against_index(
        increment, index.select("url", "minhash_sig"), "text", "url",
        threshold=args.jaccard, n_hashes=args.n_hashes,
        shingle_k=args.shingle_k, bands=args.bands,
        max_bucket=args.max_bucket, hash_fn=args.minhash_lane,
        new_sigs=sigs,
    )
    cands = lsh_candidate_pairs(
        increment, "text", "url", args.n_hashes, args.shingle_k,
        args.bands, args.max_bucket, sigs=sigs, hash_fn=args.minhash_lane,
    )
    removed_within = (
        estimated_jaccard_pairs(sigs, cands, "url")
        .filter(F.col("jaccard_est") >= args.jaccard)
        .select(F.col("id_b").alias("url"))
        .distinct()
    )
    kept = vs_index.join(removed_within, "url", "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_kept = kept.count()
    report["n_dropped_vs_index"] = n_increment - vs_index.count()
    report["n_emitted"] = n_kept
    report["n_dropped_within"] = (
        n_increment - report["n_dropped_vs_index"] - n_kept
    )
    report["sec_dedup"] = round(time.perf_counter() - t, 1)

    # 4. write survivors (observed) + append their signatures to the index
    t = time.perf_counter()
    manifest = write_observed(kept, args.output)
    report["manifest_rows"] = manifest["rows"]
    tag = cur_tag
    (
        sigs.join(kept.select("url"), "url", "left_semi")
        .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        .write.mode("overwrite")
        .parquet(f"{args.index_dir}/{tag}")
    )
    # full-snapshot identity sidecar, written AFTER the overwrite (the
    # overwrite deletes the dir) and via the Hadoop FS API (hdfs/s3a
    # outputs); underscore-prefixed so parquet readers ignore it
    _fs_write_bytes(
        spark, f"{args.index_dir}/{tag}/_snapshot",
        args.new_snapshot.encode("utf-8"),
    )
    report["index_batch"] = tag
    report["sec_write"] = round(time.perf_counter() - t, 1)
    report["sec_total"] = round(time.perf_counter() - t0, 1)
    report["output"] = args.output
    return report


def main() -> None:
    from tdigest_spark.plans import get_spark

    args = build_parser().parse_args()
    spark = get_spark(app_name="incremental-crawl")
    spark.sparkContext.setLogLevel("ERROR")
    report = run(spark, args)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
