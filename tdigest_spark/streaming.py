"""Structured-Streaming surface: t-digests over unbounded streams.

The pieces:

- streaming_digest_by: stateful per-group digests via
  `applyInPandasWithState` — the digest's (serialized bytes, total
  weight) IS the state; every trigger folds the new Arrow batches into
  the group's digest and emits an updated row.  This is the reference's
  fit!-loop lifted onto Spark's incremental execution: update = add a
  batch, state = the sketch, emit = quantiles of the current sketch.

- digest_sink: `foreachBatch` sink that writes one checkpoint manifest
  record per micro-batch (split_id = "batch=<id>") — idempotent under
  retries (a batch re-run overwrites its own directory), and the
  stream's running digest is `tdigest_spark.checkpoint.final_digest`
  of the manifest directory.

- windowed_digest_by: event-time tumbling/sliding windows with a
  watermark — late rows are dropped by Spark before they reach the
  operator, and GroupStateTimeout.EventTimeTimeout evicts a window's
  state (emitting a final closed=true row) once the watermark passes its
  end, so state stays bounded on unbounded streams.

- streaming_exact_dedup: the batch `dedup.exact_dedup` semantics on an
  unbounded stream — emit only the first occurrence of each content
  hash, with watermark-bounded state.

- windowed_hll_by: event-time windowed distinct counts — the streaming
  face of sketches.hll_by.  Hashing stays JVM-side in the pre-state
  projection; state = the 2^p-byte register blob; update = one
  vectorized np.maximum.at; eviction identical to windowed_digest_by.

- streaming_incremental_dedup: foreachBatch near-dedup of a crawl
  stream against a standing MinHash signature index (the streaming
  face of dedup.dedup_against_index) — each trigger drops docs with a
  verified near-dup in the index or a smaller-id near-dup in the
  batch, then appends survivors + their signatures; replay-idempotent
  per-batch subdirectory writes.

- streaming_semantic_dedup: the embedding-space sibling — each trigger
  coarse-quantizes the batch (scan-stage ivf_assign), drops vectors
  with an in-cell cosine near-dup in the standing index or a
  smaller-id in-cell near-dup within the batch (SemDeDup keep rule),
  then appends survivors + their cells to the index; same
  replay-idempotent batch-subdirectory contract.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import DoubleType, FloatType

from .core import MergingDigest
from .scale import get_scale

_STATE_SCHEMA = "digest binary, n_rows long"


def _state_keys(sdf: DataFrame, keys: Sequence[str]) -> list:
    """The `keys` columns of `sdf` for a pandas state lane, whose output
    rows pass through pandas: it masks a NaN key as NULL, which would
    merge the NaN group into the NULL group.  A NaN float key fails the
    query instead (NULL keys and other types pass unchanged)."""
    out = []
    for k, f in zip(keys, sdf.select(*keys).schema):
        c = F.col(k)
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.when(F.isnan(c), F.raise_error(F.lit(
                f"NaN group key in column {k!r}: the streaming state lanes "
                "would emit it as NULL; map NaN keys to a value first"
            ))).otherwise(c)
        out.append(c.alias(k))
    return out


def streaming_digest_by(
    sdf: DataFrame,
    value_col: str,
    by: Sequence[str],
    delta: float = 100.0,
    scale: str = "K_3",
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Stateful grouped digest over a streaming DataFrame.

    Emits, per trigger and updated group: (by..., digest binary,
    n_rows long, q50/q90/... double).  Output mode must be "update".
    State size is O(delta) bytes per group — thousands of groups cost MBs.
    A NaN float key fails the query (`_state_keys`).
    """
    keys = list(by)
    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if f.name in keys
    )
    q_fields = ", ".join(f"q{int(q * 1000):03d} double" for q in qs)
    out_schema = ", ".join(x for x in (key_fields, _STATE_SCHEMA, q_fields) if x)

    proj = sdf.select(*_state_keys(sdf, keys), F.col(value_col).cast("double").alias("__v"))

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (blob, n) = state.get
            d = MergingDigest.from_bytes(bytes(blob))
        else:
            d, n = MergingDigest(delta, scale=get_scale(scale)), 0
        for pdf in pdfs:
            vals = pdf["__v"].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                d.add(vals)
                n += int(vals.size)
        blob = d.to_bytes()
        state.update((blob, n))
        row = {k: [key[i]] for i, k in enumerate(keys)}
        row["digest"] = [blob]
        row["n_rows"] = [n]
        for q in qs:
            row[f"q{int(q * 1000):03d}"] = [d.quantile(q)]
        yield pd.DataFrame(row)

    return proj.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_digest_by(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    by: Sequence[str] = (),
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    delta: float = 100.0,
    scale: str = "K_3",
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Event-time windowed digests with watermark-driven late-data
    handling and state eviction — the "windowed agg for late data" shape
    of the north rule, as a custom stateful operator.

    Semantics:
    - every event lands in its tumbling window (or each overlapping
      sliding window when `slide` < `window`), computed as plain
      timestamp arithmetic so the state key stays (window_start, by...)
      — no struct keys;
    - `withWatermark(ts, watermark)` makes Spark drop rows arriving
      later than the watermark BEFORE they reach the operator, so a
      closed window's digest never silently changes;
    - state eviction uses GroupStateTimeout.EventTimeTimeout: once the
      watermark passes a window's end, the state times out and a FINAL
      row is emitted with closed=true, then the state is removed (bounded
      state under unbounded windows);
    - per trigger, updated (still-open) windows emit closed=false rows
      with the current digest + quantiles; output mode "update".

    The digest state is the serialized sketch itself, exactly like
    streaming_digest_by; window membership is the only addition.  A NaN
    float key fails the query (`_state_keys`).
    """
    keys = list(by)
    win_sec = _interval_seconds(window)
    slide_sec = _interval_seconds(slide) if slide else win_sec
    if win_sec % slide_sec != 0:
        raise ValueError("window must be a multiple of slide")

    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if f.name in keys
    )
    q_fields = ", ".join(f"q{int(q * 1000):03d} double" for q in qs)
    out_schema = ", ".join(
        x
        for x in (
            "window_start long, window_end long",
            key_fields,
            _STATE_SCHEMA,
            q_fields,
            "closed boolean",
        )
        if x
    )

    ts_long = F.unix_timestamp(F.col(ts_col))
    # every window with start in (ts - window, ts] on the slide grid;
    # window starts travel as epoch-second longs (plain group keys — no
    # struct keys, no timezone round-trips through the Arrow boundary)
    n_windows = win_sec // slide_sec
    starts = F.sequence(
        (F.floor(ts_long / slide_sec) - (n_windows - 1)) * slide_sec,
        F.floor(ts_long / slide_sec) * slide_sec,
        F.lit(slide_sec),
    )
    proj = (
        sdf.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            *_state_keys(sdf, keys),
            F.col(value_col).cast("double").alias("__v"),
            F.explode(starts).alias("window_start"),
        )
        # window starts are plain epoch-second longs; negative values
        # (events within `window` of 1970-01-01, or pre-epoch timestamps)
        # are valid group keys — no filter, every pane is kept
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        win_start = int(key[0])
        if state.hasTimedOut:
            (blob, n) = state.get
            d = MergingDigest.from_bytes(bytes(blob))
            state.remove()
            yield _window_row(win_start, win_sec, keys, key, d, n, qs, True)
            return
        if state.exists:
            (blob, n) = state.get
            d = MergingDigest.from_bytes(bytes(blob))
        else:
            d, n = MergingDigest(delta, scale=get_scale(scale)), 0
        for pdf in pdfs:
            vals = pdf["__v"].to_numpy(dtype=np.float64)
            vals = vals[~np.isnan(vals)]
            if vals.size:
                d.add(vals)
                n += int(vals.size)
        state.update((d.to_bytes(), n))
        # evict when the watermark passes the window end (ms); the timeout
        # timestamp must exceed the current watermark or Spark rejects it
        end_ms = (win_start + win_sec) * 1000
        state.setTimeoutTimestamp(max(end_ms, state.getCurrentWatermarkMs() + 1))
        yield _window_row(win_start, win_sec, keys, key, d, n, qs, False)

    return proj.groupBy("window_start", *keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _interval_seconds(interval: str) -> int:
    qty, unit = interval.split()
    mult = {
        "second": 1, "seconds": 1,
        "minute": 60, "minutes": 60,
        "hour": 3600, "hours": 3600,
        "day": 86400, "days": 86400,
    }[unit]
    return int(qty) * mult


def _window_row(win_start, win_sec, keys, key, d, n, qs, closed):
    row = {
        "window_start": [win_start],
        "window_end": [win_start + win_sec],
    }
    for i, k in enumerate(keys):
        row[k] = [key[i + 1]]
    row["digest"] = [d.to_bytes()]
    row["n_rows"] = [n]
    for q in qs:
        row[f"q{int(q * 1000):03d}"] = [d.quantile(q)]
    row["closed"] = [closed]
    return pd.DataFrame(row)


def digest_sink(
    sdf: DataFrame,
    value_col: str,
    manifest_dir: str,
    delta: float = 100.0,
    scale: str = "K_3",
):
    """foreachBatch sink: every micro-batch writes one checkpoint
    manifest record (split_id = "batch=<id>", `checkpoint.MANIFEST_SCHEMA`)
    into its own `manifest_dir/batch=<id>__dir` directory.  A replayed batch
    overwrites its directory, so the manifest stays exactly-once under
    restarts; `checkpoint.final_digest(spark, manifest_dir)` merges it in
    batch order with the sha, conformality and duplicate checks."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from .checkpoint import _write_records
        from .operators.digest import _SALT, build_partials_grouped

        # executor-side partial build (JVM kernel, no shuffle): the driver
        # only ever merges KB-sized digest rows, never the batch itself —
        # large triggers stay distributed
        partials = build_partials_grouped(
            batch_df, value_col, (), delta=delta, scale=scale
        ).collect()
        d = MergingDigest(delta, scale=get_scale(scale))
        for r in sorted(partials, key=lambda r: r[_SALT]):
            d.merge(MergingDigest.from_bytes(bytes(r["digest"])))
        split_id = f"batch={batch_id:020d}"
        n = sum(r["n_rows"] for r in partials)
        _write_records(
            batch_df.sparkSession, f"{manifest_dir}/{split_id}__dir", "overwrite",
            [(split_id, d.to_bytes(), n)], delta, scale,
        )

    return sdf.writeStream.foreachBatch(write_batch)


def streaming_exact_dedup(
    sdf: DataFrame,
    content_cols: Sequence[str] = ("text",),
    event_time_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each
    content hash (the batch `dedup.exact_dedup` keep-one semantics on an
    unbounded stream).

    With `event_time_col`, state is watermark-bounded:
    `dropDuplicatesWithinWatermark` keeps a hash in the state store only
    until the watermark passes its event time plus the delay, so
    unbounded streams run in bounded memory (duplicates farther apart
    than the watermark may re-emit — the streaming-at-scale trade; a
    periodic batch `exact_dedup` over the sink closes that gap exactly).
    Without an event-time column, `dropDuplicates` state grows with the
    number of distinct hashes — acceptable for bounded backfills only.

    The hash is the same md5-of-content as `dedup.exact_dedup`, so
    stream + batch passes agree on what counts as a duplicate.
    """
    h = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    out = sdf.withColumn("content_hash", h)
    if event_time_col is not None:
        out = out.withWatermark(event_time_col, watermark)
        return out.dropDuplicatesWithinWatermark(["content_hash"])
    return out.dropDuplicates(["content_hash"])


def session_stats(
    sdf: DataFrame,
    ts_col: str = "ts",
    by: Sequence[str] = ("user_id",),
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
    count_col: str = "n_events",
):
    """Per-key session statistics over event time using Spark's native
    `session_window` (dynamic-gap windows merge as events arrive — the
    windowing mode tumbling/sliding can't express).  Works on BOTH a
    streaming frame (pass a watermark; closed sessions emit in append
    mode once the watermark passes their end) and a batch frame
    (`watermark=None`), and the two produce identical sessions — the
    batch face doubles as the streaming oracle in tests.

    Boundary semantics: sessions merge when the next event starts AT OR
    BEFORE the previous session's end (last_event + gap) — an event
    arriving exactly `gap` later stays in the session, matching the
    lag-based rule (`gap_us > threshold` starts a new one) the batch
    `events_sessions` oracle query uses (verified in the stream-vs-batch
    test with a grid-aligned exact-gap event).

    Returns (by..., session_start, session_end, n_events).  State at
    scale is one open session per active key — bounded by the watermark
    horizon, evicted by Spark's session-window state store logic."""
    src = sdf
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    out = (
        src.groupBy(F.session_window(F.col(ts_col), gap), *by)
        .agg(F.count(F.lit(1)).alias(count_col))
        .select(
            *by,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col(count_col),
        )
    )
    return out


def _index_dirs_excluding(spark, index_dir: str, batch_id: int) -> list[str]:
    """List the index's ``batch=*__dir`` subdirectories EXCLUDING the
    given batch's own directory.  A replayed trigger must never READ the
    directory its own overwrite is about to delete (a cache eviction or
    task retry after the overwrite starts would recompute from a dir
    mid-delete); the row-level ``batch_id != current`` filter still
    covers rows an index compaction folded into a consolidated dir.
    Listing goes through the Hadoop FS of the session so hdfs:///s3a://
    index dirs resolve (a builtin glob would silently return [] there
    and skip dedup-vs-index entirely)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # type: ignore[union-attr]
    jp = jvm_path(index_dir)
    fs = jp.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    if not fs.exists(jp):
        return []
    own = f"batch={batch_id:020d}__dir"
    names = sorted(
        st.getPath().getName()
        for st in fs.listStatus(jp)
        if st.isDirectory()
    )
    return [
        f"{index_dir.rstrip('/')}/{d}"
        for d in names
        if d.startswith("batch=") and d.endswith("__dir") and d != own
    ]


def compact_stream_index(
    spark,
    index_dir: str,
    keep_last: int = 0,
) -> int:
    """Compact a streaming index directory (``batch=<id>__dir``
    subdirectories written by `streaming_incremental_dedup` /
    `streaming_semantic_dedup`) into one consolidated subdirectory.

    A long-running stream accumulates one directory (and >= one small
    file) per trigger; after thousands of triggers the per-trigger index
    READ is dominated by file listing and tiny-file opens, not data.
    This rewrites everything except the newest `keep_last` batch dirs
    into a single ``batch=<max_id>c__dir`` (same schema, batch_id
    preserved per row), then removes the originals.

    Crash-safe by write -> rename -> delete ordering: the consolidated
    data is first written under a temp name the ``*__dir`` index glob
    cannot see, then atomically renamed to a UNIQUE
    ``batch=<max_id>c<generation>__dir`` (generation increments past any
    prior compaction, so re-compacting never overwrites a directory it
    is reading), and only then are the originals removed.  A crash
    before the rename leaves the index untouched; a crash after it
    leaves duplicate rows — harmless, because every consumer has EXISTS
    semantics (a doc is dropped if ANY index near-dup exists), and the
    next compaction sweeps the leftovers.  Run it from outside the
    stream; batch dirs newer than the snapshot are untouched, so the
    only requirement is not compacting a directory mid-write, which
    `keep_last >= 1` guarantees under any trigger cadence.  Returns the
    number of batch dirs compacted."""
    import glob as _glob
    import os
    import re
    import shutil

    dirs = sorted(_glob.glob(f"{index_dir}/batch=*__dir"))
    pat = re.compile(r"batch=(\d+)(?:c(\d+))?__dir$")
    victims: list[tuple[int, int, str]] = []
    for d in dirs:
        m = pat.search(d)
        if m is not None:
            victims.append((int(m.group(1)), int(m.group(2) or 0), d))
    victims.sort()
    all_parsed = list(victims)
    if keep_last:
        victims = victims[:-keep_last] if keep_last < len(victims) else []
    if len(victims) < 2:
        return 0
    max_id = max(i for i, _, _ in victims)
    # the generation must clear EVERY existing dir, not just the
    # victims: after a crash-between-rename-and-delete, the previous
    # consolidated dir survives alongside its victims, and with
    # keep_last >= 1 it can fall OUTSIDE the victim set — computing gen
    # from victims alone would re-produce its exact name and wedge on
    # the rename (ENOTEMPTY) instead of incrementing past it
    gen = 1 + max(g for _, g, _ in all_parsed)
    paths = [d for _, _, d in victims]
    out = f"{index_dir}/batch={max_id:020d}c{gen}__dir"
    tmp = f"{index_dir}/__compacting_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    spark.read.parquet(*paths).coalesce(
        max(1, len(paths) // 8)
    ).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, out)
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)
    return len(paths)


def streaming_incremental_dedup(
    sdf: DataFrame,
    index_dir: str,
    output_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
):
    """Streaming near-dedup of an unbounded crawl against a standing
    MinHash signature index — the streaming face of
    `dedup.dedup_against_index` (the monthly-increment shape, run
    continuously: each micro-batch is an increment).

    Per micro-batch (foreachBatch):
      1. build the batch's MinHash signatures once;
      2. drop batch docs with a verified near-duplicate (estimated
         Jaccard >= threshold) in the index — which holds only the
         ~100 B/doc signatures of everything previously emitted, never
         text;
      3. drop within-batch near-duplicates (keep-min-id EXISTS
         semantics, the same deterministic rule as
         `similarity.semantic_dedup`; chains collapse per that
         docstring, not per connected components);
      4. append the survivors' rows to `output_dir` and their
         signatures (tagged with the batch id) to `index_dir`.

    Exactly-once under restarts: both writes overwrite their own
    ``batch=<id>__dir`` subdirectory, and the index read EXCLUDES the
    current batch — at the PATH level (its own dir is never listed, so
    the replay cannot read a directory its own overwrite is about to
    delete) and at the row level (`batch_id != current`, which also
    covers rows a compaction folded into a consolidated dir) — so a
    replayed batch never dedups against its own half-written
    signatures.  Earlier batches win ties — the arrival-order contract
    of an incremental pipeline.

    Seed a pre-existing corpus by writing its `minhash_signatures`
    frame (plus a `batch_id` long, e.g. -1) under
    ``{index_dir}/batch=seed__dir`` before starting the stream.

    100 TB shape: the batch side is trigger-sized; the index side
    contributes one scan of its signature lanes per trigger, shuffled
    on band keys (`lsh_incremental_pairs` — index-side template-bucket
    guard caps fanout linear in the batch).  At very large standing
    corpora, store the index bucketed/partitioned by band key so the
    per-trigger probe prunes to the batch's buckets instead of
    rescanning every signature.

    `hash_fn` (md5 | rolling) must be the index's lane; see
    `dedup.dedup_against_index`.

    Returns a DataStreamWriter — caller sets checkpointLocation and
    starts it.
    """
    from .operators.dedup import _check_hash_fn

    _check_hash_fn(hash_fn)  # here, not in the first micro-batch
    sig_type = "array<string>" if hash_fn == "md5" else "array<bigint>"
    id_type = sdf.schema[id_col].dataType.simpleString()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        from .operators.dedup import (
            dedup_against_index,
            estimated_jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
        )

        spark = batch_df.sparkSession
        sigs = minhash_signatures(
            batch_df, text_col, id_col, n_hashes, shingle_k, hash_fn
        ).persist(StorageLevel.MEMORY_AND_DISK)

        read_dirs = _index_dirs_excluding(spark, index_dir, batch_id)
        if read_dirs:
            index = spark.read.parquet(*read_dirs)
        else:  # first batch: no index yet
            index = spark.createDataFrame(
                [], f"`{id_col}` {id_type}, minhash_sig {sig_type}, batch_id long"
            )
        index = index.filter(F.col("batch_id") != F.lit(batch_id))

        vs_index = dedup_against_index(
            batch_df,
            index.select(id_col, "minhash_sig"),
            text_col,
            id_col,
            threshold=threshold,
            n_hashes=n_hashes,
            shingle_k=shingle_k,
            bands=bands,
            max_bucket=max_bucket,
            hash_fn=hash_fn,
            new_sigs=sigs,
        )
        cands = lsh_candidate_pairs(
            batch_df, text_col, id_col, n_hashes, shingle_k, bands,
            max_bucket, sigs=sigs, hash_fn=hash_fn,
        )
        removed = (
            estimated_jaccard_pairs(sigs, cands, id_col)
            .filter(F.col("jaccard_est") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        kept = vs_index.join(removed, id_col, "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )

        tag = f"batch={batch_id:020d}__dir"
        kept.write.mode("overwrite").parquet(f"{output_dir}/{tag}")
        (
            sigs.join(kept.select(id_col), id_col, "left_semi")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .parquet(f"{index_dir}/{tag}")
        )
        kept.unpersist()
        sigs.unpersist()

    return sdf.writeStream.foreachBatch(write_batch)


def streaming_semantic_dedup(
    sdf: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    output_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cell: int | None = None,
):
    """Streaming SemDeDup of an unbounded embedding stream against a
    standing cell-partitioned vector index — the semantic sibling of
    `streaming_incremental_dedup` (paraphrases and re-posts that share
    no tokens still dedup).

    Per micro-batch (foreachBatch):
      1. coarse-quantize the batch with the FIXED `centroids` quantizer
         (scan-stage literal argmin — `similarity.ivf_assign`; the
         quantizer must stay frozen for the life of the index, since
         cells are the join keys);
      2. drop batch vectors with an IN-CELL cosine near-dup
         (>= `threshold`) in the index — the probe is a cell equi-join,
         so each trigger touches only the index cells the batch lands
         in, not the whole history;
      3. drop within-batch smaller-id in-cell near-dups (the SemDeDup
         keep-min rule; EXISTS semantics — chains collapse per the
         `semantic_dedup` docstring);
      4. append survivors' rows to `output_dir` and their
         (id, cell, vector) to `index_dir`, tagged with the batch id.

    Exactly-once under restarts: identical contract to
    `streaming_incremental_dedup` — both writes overwrite their own
    ``batch=<id>__dir`` subdirectory and the index read excludes the
    current batch id, so a replayed trigger never self-dedups.  Earlier
    batches win ties (arrival order).

    `max_cell` guards degenerate piles exactly like `semantic_dedup`:
    batch cells larger than it are excluded from BOTH the index probe
    and within-batch pairing (their rows pass through) — counted before
    any pair materializes.

    100 TB shape: unlike the MinHash index (~100 B/doc), this index
    carries the vectors themselves (they are what the verify needs) —
    partition the index directory by ivf_cell at real scale so the
    per-trigger probe prunes to the batch's cells at the FILE level
    too.  Seed a pre-existing corpus by writing its assigned frame
    (id, ivf_cell, vector, batch_id=-1) under
    ``{index_dir}/batch=seed__dir``.

    Returns a DataStreamWriter — caller sets checkpointLocation and
    starts it."""
    cent_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    ]
    id_type = sdf.schema[id_col].dataType.simpleString()
    vec_type = sdf.schema[vec_col].dataType.simpleString()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        from .operators.dedup import (
            dot_col,
            embedding_near_dup,
            norm_col,
            safe_norm,
        )
        from .operators.similarity import ivf_assign

        spark = batch_df.sparkSession
        cents = spark.createDataFrame(
            cent_rows, "centroid_id int, centroid array<double>"
        )
        assigned = ivf_assign(
            batch_df.select(id_col, vec_col), cents, id_col, vec_col
        ).persist(StorageLevel.MEMORY_AND_DISK)

        pairable = assigned
        if max_cell is not None:
            ok_cells = (
                assigned.groupBy("ivf_cell")
                .agg(F.count("*").alias("__n"))
                .filter(F.col("__n") <= max_cell)
                .select("ivf_cell")
            )
            pairable = assigned.join(F.broadcast(ok_cells), "ivf_cell")

        read_dirs = _index_dirs_excluding(spark, index_dir, batch_id)
        if read_dirs:
            index = spark.read.parquet(*read_dirs)
        else:  # first batch: no index yet
            index = spark.createDataFrame(
                [],
                f"`{id_col}` {id_type}, ivf_cell int, "
                f"`{vec_col}` {vec_type}, batch_id long",
            )
        index = index.filter(F.col("batch_id") != F.lit(batch_id))

        idx = index.select(
            F.col("ivf_cell"), F.col(vec_col).alias("__iv")
        ).withColumn("__inr", norm_col(F.col("__iv"))).withColumn("__in", safe_norm(F.col("__inr"))).drop("__inr")
        probe = pairable.withColumn("__bnr", norm_col(F.col(vec_col))).withColumn("__bn", safe_norm(F.col("__bnr"))).drop("__bnr")
        vs_index = (
            probe.join(idx, "ivf_cell")
            .filter(
                dot_col(vec_col, "__iv") / (F.col("__bn") * F.col("__in"))
                >= threshold
            )
            .select(id_col)
            .distinct()
        )

        within = (
            embedding_near_dup(
                pairable, id_col, vec_col,
                block_col="ivf_cell", threshold=threshold,
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )

        kept = (
            assigned.join(vs_index, id_col, "left_anti")
            .join(within, id_col, "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        tag = f"batch={batch_id:020d}__dir"
        kept.write.mode("overwrite").parquet(f"{output_dir}/{tag}")
        (
            kept.select(id_col, "ivf_cell", vec_col)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .parquet(f"{index_dir}/{tag}")
        )
        kept.unpersist()
        assigned.unpersist()

    return sdf.writeStream.foreachBatch(write_batch)


def windowed_hll_by(
    sdf: DataFrame,
    ts_col: str,
    value_col: str,
    by: Sequence[str] = (),
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    p: int = 12,
) -> DataFrame:
    """Event-time windowed distinct counts (HLL) with watermark-driven
    state eviction — the streaming face of sketches.hll_by.

    Hashing stays JVM-side: the md5 bucket/rho algebra of the batch
    operator is projected per row BEFORE the stateful operator, so the
    Python update is one vectorized np.maximum.at into the 2^p-byte
    register blob (the state) — no per-row Python, no hashing in Python,
    and the state is identical to the batch sketch over the same rows
    (tested).  Late rows are dropped by the watermark;
    GroupStateTimeout.EventTimeTimeout emits a final closed=true row and
    removes state once the watermark passes a window's end.  Output mode
    "update": open windows re-emit with closed=false per trigger.  A NaN
    float key fails the query (`_state_keys`).
    """
    from .sketches import _h128, _hex_to_long, _rho_from_hex, hll_estimate_np

    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError("p must be 4, 8, 12, or 16 (whole hex prefix)")
    m = 1 << p
    keys = list(by)
    win_sec = _interval_seconds(window)
    slide_sec = _interval_seconds(slide) if slide else win_sec
    if win_sec % slide_sec != 0:
        raise ValueError("window must be a multiple of slide")

    key_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if f.name in keys
    )
    out_schema = ", ".join(
        x
        for x in (
            "window_start long, window_end long",
            key_fields,
            "registers binary, n_rows long, distinct_est double",
            "closed boolean",
        )
        if x
    )

    h = _h128("hll:", F.col(value_col))
    ts_long = F.unix_timestamp(F.col(ts_col))
    n_windows = win_sec // slide_sec
    starts = F.sequence(
        (F.floor(ts_long / slide_sec) - (n_windows - 1)) * slide_sec,
        F.floor(ts_long / slide_sec) * slide_sec,
        F.lit(slide_sec),
    )
    proj = (
        sdf.withWatermark(ts_col, watermark)
        # NULL values are ignored (COUNT(DISTINCT) semantics, mirroring
        # the batch sketches.hll_by): a NULL hashes to a NULL bucket,
        # which would otherwise NaN-poison the int64 cast in update()
        .filter(F.col(value_col).isNotNull())
        .select(
            F.col(ts_col),
            *_state_keys(sdf, keys),
            _hex_to_long(F.substring(h, 1, p // 4)).cast("int").alias("__bucket"),
            _rho_from_hex(F.substring(h, p // 4 + 1, 13)).alias("__rho"),
            F.explode(starts).alias("window_start"),
        )
        # negative (pre-epoch-adjacent) window starts are valid keys; see
        # windowed_digest_by
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        win_start = int(key[0])

        def row(regs: np.ndarray, n: int, closed: bool) -> pd.DataFrame:
            out = {
                "window_start": [win_start],
                "window_end": [win_start + win_sec],
            }
            for i, k in enumerate(keys):
                out[k] = [key[i + 1]]
            out["registers"] = [regs.tobytes()]
            out["n_rows"] = [n]
            out["distinct_est"] = [hll_estimate_np(regs)]
            out["closed"] = [closed]
            return pd.DataFrame(out)

        if state.hasTimedOut:
            (blob, n) = state.get
            regs = np.frombuffer(bytes(blob), dtype=np.uint8)
            state.remove()
            yield row(regs, n, True)
            return
        if state.exists:
            (blob, n) = state.get
            regs = np.frombuffer(bytes(blob), dtype=np.uint8).copy()
        else:
            regs, n = np.zeros(m, dtype=np.uint8), 0
        for pdf in pdfs:
            np.maximum.at(
                regs,
                pdf["__bucket"].to_numpy(dtype=np.int64),
                pdf["__rho"].to_numpy(dtype=np.uint8),
            )
            n += int(len(pdf))
        state.update((regs.tobytes(), n))
        end_ms = (win_start + win_sec) * 1000
        state.setTimeoutTimestamp(max(end_ms, state.getCurrentWatermarkMs() + 1))
        yield row(regs, n, False)

    return proj.groupBy("window_start", *keys).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="registers binary, n_rows long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
