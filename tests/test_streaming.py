"""Structured-Streaming digest surface (streaming.py): stateful grouped
digests across triggers, foreachBatch manifest sink, batch-parity."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark import MergingDigest
from tdigest_spark import checkpoint as C
from tdigest_spark import streaming as ST


def _write_chunk(spark, path, rows, chunk_id):
    df = spark.createDataFrame(rows, "grp string, x double")
    df.coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def stream_env(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    rng = np.random.default_rng(9)
    chunks = []
    for c in range(3):
        rows = [
            ("a", float(v)) for v in rng.uniform(0, 100, 400)
        ] + [("b", float(v)) for v in rng.uniform(100, 200, 200)]
        chunks.append(rows)
    _write_chunk(spark, src, chunks[0], 0)
    return src, chunks


def test_streaming_digest_by_matches_batch(spark, stream_env, tmp_path):
    src, chunks = stream_env
    for c in range(1, 3):
        _write_chunk(spark, src, chunks[c], c)

    sdf = spark.readStream.schema("grp string, x double").parquet(src)
    out = ST.streaming_digest_by(sdf, "x", ["grp"], delta=100.0, qs=(0.5, 0.9))
    q = (
        out.writeStream.format("memory")
        .queryName("digest_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql(
        "select * from digest_stream order by n_rows"
    ).collect()
    assert res
    # take the LAST update per group = the full-data digest
    last = {}
    for r in res:
        last[r["grp"]] = r
    all_rows = [x for c in chunks for x in c]
    for grp in ("a", "b"):
        vals = np.array([v for g, v in all_rows if g == grp])
        assert last[grp]["n_rows"] == len(vals)
        d = MergingDigest.from_bytes(bytes(last[grp]["digest"]))
        assert d.total_weight == len(vals)
        sv = np.sort(vals)
        for q_, col in ((0.5, "q500"), (0.9, "q900")):
            rank = np.searchsorted(sv, last[grp][col]) / len(sv)
            assert abs(rank - q_) < 0.05


def test_digest_sink_foreach_batch(spark, stream_env, tmp_path):
    src, chunks = stream_env
    for c in range(1, 3):
        _write_chunk(spark, src, chunks[c], c)
    sdf = spark.readStream.schema("grp string, x double").parquet(src)
    manifest = str(tmp_path / "manifest")
    q = (
        ST.digest_sink(sdf, "x", manifest, delta=100.0)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    d = C.final_digest(spark, manifest)
    all_vals = np.array([v for c in chunks for _, v in c])
    assert d.total_weight == len(all_vals)
    assert C.metrics(spark, manifest)["rows"] == len(all_vals)
    sv = np.sort(all_vals)
    for q_ in (0.1, 0.5, 0.9):
        rank = np.searchsorted(sv, d.quantile(q_)) / len(sv)
        assert abs(rank - q_) < 0.05

    # a batch record whose digest no longer matches its sha is rejected,
    # as in a batch checkpoint
    batch = sorted(os.listdir(manifest))[0]
    rec = C.read_manifest(spark, f"{manifest}/{batch}").collect()
    assert [r["split_id"] + "__dir" for r in rec] == [batch]
    spark.createDataFrame(
        [r.asDict() | {"digest_sha": "0" * 64} for r in rec], C.MANIFEST_SCHEMA
    ).write.mode("overwrite").parquet(f"{manifest}/{batch}")
    with pytest.raises(ValueError, match="corrupt"):
        C.final_digest(spark, manifest)


def test_streaming_exact_dedup(spark, tmp_path):
    """First occurrence of each content hash is emitted exactly once
    across triggers; in-watermark duplicates are suppressed."""
    import datetime as dt

    src = str(tmp_path / "dedup_src")

    def write_file(rows):
        spark.createDataFrame(
            [(dt.datetime.utcfromtimestamp(t), i, s) for t, i, s in rows],
            "ts timestamp, doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: three distinct docs, one in-batch duplicate of doc 0
    write_file([(100, 0, "alpha"), (101, 1, "beta"), (102, 2, "gamma"),
                (103, 3, "alpha")])

    sdf = spark.readStream.schema("ts timestamp, doc_id long, text string").parquet(src)
    out = ST.streaming_exact_dedup(sdf, ("text",), event_time_col="ts",
                                   watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: cross-trigger duplicate of "beta" (within watermark,
        # must be suppressed) + one new doc
        write_file([(200, 4, "beta"), (201, 5, "delta")])
        q.processAllAvailable()
        rows = spark.sql("select * from dedup_stream").collect()
    finally:
        q.stop()

    emitted = sorted((r["doc_id"], r["text"]) for r in rows)
    assert emitted == [(0, "alpha"), (1, "beta"), (2, "gamma"), (5, "delta")]
    # hash column matches the batch exact_dedup convention
    import hashlib

    for r in rows:
        assert r["content_hash"] == hashlib.md5(r["text"].encode()).hexdigest()


def test_streaming_exact_dedup_unbounded_state(spark, tmp_path):
    """Without an event-time column the operator is plain dropDuplicates
    (bounded backfills): duplicates are suppressed globally."""
    src = str(tmp_path / "dedup_src2")
    spark.createDataFrame(
        [(0, "x"), (1, "x"), (2, "y")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = ST.streaming_exact_dedup(sdf, ("text",))
    q = (
        out.writeStream.format("memory").queryName("dedup_stream2")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select text, count(*) as n from dedup_stream2 group by text").collect()
    assert sorted((r["text"], r["n"]) for r in rows) == [("x", 1), ("y", 1)]


def test_windowed_streaming_digest(spark, tmp_path):
    """Event-time windowed digests: group key = (window, grp) through the
    same stateful operator — the watermark+window rollup shape."""
    import datetime as dt

    src = str(tmp_path / "win_src")
    rows = []
    base = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(4)
    for m in range(4):  # four 10-minute windows
        for v in rng.uniform(m * 10, m * 10 + 10, 200):
            rows.append((base + dt.timedelta(minutes=10 * m, seconds=int(v) % 600),
                         "a", float(v)))
    spark.createDataFrame(rows, "ts timestamp, grp string, x double") \
        .coalesce(1).write.parquet(src)

    sdf = (
        spark.readStream.schema("ts timestamp, grp string, x double")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .selectExpr("window(ts, '10 minutes') as win", "grp", "x")
        .select(F.col("win.start").alias("win_start"), "grp", "x")
    )
    out = ST.streaming_digest_by(sdf, "x", ["win_start", "grp"], delta=100.0,
                                 qs=(0.5,))
    q = (
        out.writeStream.format("memory").queryName("win_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql("select * from win_stream").collect()
    assert len({r["win_start"] for r in res}) == 4
    for r in res:
        d = MergingDigest.from_bytes(bytes(r["digest"]))
        assert d.total_weight == r["n_rows"] > 0


def test_windowed_digest_watermark_and_eviction(spark, tmp_path):
    """Event-time tumbling windows: per-trigger updates, watermark-based
    late-row drop, EventTimeTimeout eviction emitting closed=true."""
    import datetime as dt

    src = str(tmp_path / "win_src")
    ckpt = str(tmp_path / "win_ckpt")

    def write_file(rows):
        df = spark.createDataFrame(
            [(dt.datetime.utcfromtimestamp(t), g, float(v)) for t, g, v in rows],
            "ts timestamp, grp string, x double",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # batch 1: two windows [60,120) and [120,180), group g1
    write_file(
        [(100, "g1", v) for v in (1.0, 2.0, 3.0, 4.0)]
        + [(130, "g1", v) for v in (10.0, 20.0)]
    )

    sdf = spark.readStream.schema("ts timestamp, grp string, x double").parquet(src)
    out = ST.windowed_digest_by(
        sdf, "ts", "x", ["grp"], window="60 seconds",
        watermark="30 seconds", delta=100.0, qs=(0.5,),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: event at t=400 advances the watermark to 370 -> both
        # earlier windows pass their ends and time out on the next batch
        write_file([(400, "g1", 100.0)])
        q.processAllAvailable()
        # batch 3: a LATE row for the closed [60,120) window (t=110 < wm)
        # must be dropped before the operator; also triggers the timeouts
        write_file([(110, "g1", 999.0)])
        q.processAllAvailable()
        write_file([(410, "g1", 101.0)])   # one more batch to flush timeouts
        q.processAllAvailable()
        rows = spark.sql("select * from win_stream").collect()
    finally:
        q.stop()

    closed = {r["window_start"]: r for r in rows if r["closed"]}
    assert 60 in closed and 120 in closed, sorted(
        (r["window_start"], r["closed"]) for r in rows
    )
    # closed [60,120): the 4 on-time values only — the late 999.0 excluded
    r60 = closed[60]
    assert r60["window_end"] == 120 and r60["n_rows"] == 4
    d = MergingDigest.from_bytes(bytes(r60["digest"]))
    assert d.total_weight == 4
    assert r60["q500"] == pytest.approx(2.5, abs=1.0)
    # closed [120,180): the two mid values
    assert closed[120]["n_rows"] == 2
    # no update row for window 60 ever contains the late value
    for r in rows:
        if r["window_start"] == 60:
            assert r["n_rows"] <= 4
    # the open [360,420) window has per-trigger update rows, never closed
    open_rows = [r for r in rows if r["window_start"] == 360]
    assert open_rows and all(not r["closed"] for r in open_rows)


def test_windowed_digest_sliding_membership(spark, tmp_path):
    """Sliding windows: an event lands in window/slide overlapping panes."""
    import datetime as dt

    src = str(tmp_path / "slide_src")
    df = spark.createDataFrame(
        [(dt.datetime.utcfromtimestamp(125), "g", 5.0)],
        "ts timestamp, grp string, x double",
    )
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema("ts timestamp, grp string, x double").parquet(src)
    out = ST.windowed_digest_by(
        sdf, "ts", "x", ["grp"], window="60 seconds", slide="30 seconds",
        watermark="10 seconds", qs=(0.5,),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from slide_stream").collect()
    # t=125 belongs to [90,150) and [120,180)
    assert sorted(r["window_start"] for r in rows) == [90, 120]
    for r in rows:
        assert r["n_rows"] == 1 and r["q500"] == 5.0


def test_windowed_hll_matches_batch(spark, tmp_path):
    """Streaming windowed HLL state is bit-identical to the batch
    sketches.hll_by registers over the same rows, and the estimate uses
    the same formula."""
    import datetime as dt

    from tdigest_spark import sketches as SK

    src = str(tmp_path / "hll_src")
    base = dt.datetime(2024, 1, 1)
    rows = []
    for w in range(2):  # two 10-minute windows
        for i in range(w * 100, w * 100 + 300):  # 300 distinct users each
            rows.append(
                (base + dt.timedelta(minutes=10 * w, seconds=i % 600), "g",
                 f"user-{i}")
            )
    df = spark.createDataFrame(rows, "ts timestamp, grp string, uid string")
    df.coalesce(1).write.parquet(src)

    sdf = spark.readStream.schema("ts timestamp, grp string, uid string").parquet(src)
    out = ST.windowed_hll_by(
        sdf, "ts", "uid", ["grp"], window="10 minutes",
        watermark="10 minutes", p=8,
    )
    q = (
        out.writeStream.format("memory").queryName("hll_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = {r["window_start"]: r for r in spark.sql(
        "select * from hll_stream").collect()}
    assert len(res) == 2

    for win_start, r in res.items():
        lo = dt.datetime.utcfromtimestamp(win_start)
        hi = dt.datetime.utcfromtimestamp(win_start + 600)
        batch_regs = SK.hll_by(
            df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)), "uid", by=(), p=8
        ).collect()[0]["registers"]
        stream_regs = list(bytes(r["registers"]))
        assert stream_regs == batch_regs
        expected_est = spark.createDataFrame(
            [(batch_regs,)], "registers array<int>"
        ).select(SK.hll_estimate_col("registers", 8).alias("e")).collect()[0]["e"]
        assert abs(r["distinct_est"] - expected_est) < 1e-9
        assert r["n_rows"] == 300


def test_windowed_hll_sliding_membership(spark, tmp_path):
    """Sliding windows: a user lands in every overlapping pane, and each
    pane's distinct estimate covers exactly its members."""
    import datetime as dt

    src = str(tmp_path / "hll_slide_src")
    df = spark.createDataFrame(
        [(dt.datetime.utcfromtimestamp(125), "g", "u1"),
         (dt.datetime.utcfromtimestamp(130), "g", "u2")],
        "ts timestamp, grp string, uid string",
    )
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema("ts timestamp, grp string, uid string").parquet(src)
    out = ST.windowed_hll_by(
        sdf, "ts", "uid", ["grp"], window="60 seconds", slide="30 seconds",
        watermark="10 seconds", p=8,
    )
    q = (
        out.writeStream.format("memory").queryName("hll_slide")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "hll_slide_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from hll_slide").collect()
    # t=125,130 belong to panes [90,150) and [120,180)
    assert sorted(r["window_start"] for r in rows) == [90, 120]
    for r in rows:
        assert r["n_rows"] == 2
        assert abs(r["distinct_est"] - 2.0) < 0.1  # linear-counting regime


def test_streaming_incremental_dedup(spark, tmp_path):
    """Micro-batches dedup against the standing signature index AND
    within themselves; the index accumulates only survivors'
    signatures."""
    src = str(tmp_path / "inc_src")
    index_dir = str(tmp_path / "inc_index")
    output_dir = str(tmp_path / "inc_out")

    t_a = "alpha bravo charlie delta echo foxtrot golf hotel"
    t_c = "india juliet kilo lima mike november oscar papa"
    t_e = "quebec romeo sierra tango uniform victor whiskey xray"

    def write_file(rows):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    # batch 1: A unique, B an exact near-dup of A (larger id -> removed
    # within batch), C unique
    write_file([(1, t_a), (2, t_a), (3, t_c)])

    sdf = spark.readStream.schema("doc_id long, text string").parquet(src)
    writer = ST.streaming_incremental_dedup(
        sdf, index_dir, output_dir, threshold=0.8
    )
    q = (
        writer.option("checkpointLocation", str(tmp_path / "inc_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: D duplicates A (cross-batch, must be dropped against
        # the index), E unique, F duplicates E within the batch
        write_file([(10, t_a), (11, t_e), (12, t_e)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(f"{output_dir}/*__dir")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 3, 11]

    idx = spark.read.parquet(f"{index_dir}/*__dir")
    idx_rows = idx.collect()
    assert sorted(r["doc_id"] for r in idx_rows) == [1, 3, 11]
    # index rows carry the batch id and md5-lane signatures
    by_id = {r["doc_id"]: r for r in idx_rows}
    assert by_id[1]["batch_id"] == 0 and by_id[11]["batch_id"] == 1
    assert len(by_id[1]["minhash_sig"]) == 8


def test_streaming_semantic_dedup(spark, tmp_path):
    """Embedding micro-batches dedup in-cell against the standing vector
    index AND within themselves (SemDeDup keep-min rule); the index
    accumulates only survivors' (id, cell, vector)."""
    import numpy as np

    src = str(tmp_path / "sem_src")
    index_dir = str(tmp_path / "sem_index")
    output_dir = str(tmp_path / "sem_out")

    dim = 8
    e = np.eye(dim)
    cents = spark.createDataFrame(
        [(0, e[0].tolist()), (1, e[1].tolist())],
        "centroid_id int, centroid array<double>",
    )

    def write_file(rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: A in cell 0; B a scaled copy of A (cosine 1, larger id ->
    # removed within batch); C orthogonal-ish in cell 1
    va = (e[0] + 0.05 * e[2]).tolist()
    vc = (e[1] + 0.05 * e[3]).tolist()
    write_file([(1, va), (2, (np.asarray(va) * 3).tolist()), (3, vc)])

    sdf = spark.readStream.schema("vec_id long, embedding array<double>").parquet(src)
    writer = ST.streaming_semantic_dedup(
        sdf, cents, index_dir, output_dir, threshold=0.95
    )
    q = writer.option("checkpointLocation", str(tmp_path / "sem_ckpt")).start()
    try:
        q.processAllAvailable()
        # batch 2: D duplicates A (cross-batch, dropped against the
        # index); E a new direction in cell 0 far from A (kept); F a
        # scaled copy of E (within-batch, dropped)
        ve = (e[0] + 0.9 * e[4]).tolist()
        write_file([
            (10, (np.asarray(va) * 0.5).tolist()),
            (11, ve),
            (12, (np.asarray(ve) * 2).tolist()),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(f"{output_dir}/*__dir")
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [1, 3, 11]

    idx = spark.read.parquet(f"{index_dir}/*__dir")
    rows = {r["vec_id"]: r for r in idx.collect()}
    assert sorted(rows) == [1, 3, 11]
    assert rows[1]["ivf_cell"] == 0 and rows[3]["ivf_cell"] == 1
    assert rows[1]["batch_id"] == 0 and rows[11]["batch_id"] == 1
    # sanity: E really is far from A in cosine (kept for the right reason)
    cos = float(
        np.dot(va, ve) / (np.linalg.norm(va) * np.linalg.norm(ve))
    )
    assert cos < 0.95


def test_compact_stream_index(spark, tmp_path):
    """Compaction consolidates batch dirs into one generation-suffixed
    dir, preserves every row + batch_id, respects keep_last, and a
    second pass (including the compacted dir) still works."""
    idx = str(tmp_path / "cidx")
    for b in range(4):
        spark.createDataFrame(
            [(b * 10 + i, b) for i in range(3)], "doc_id long, batch_id long"
        ).write.mode("overwrite").parquet(f"{idx}/batch={b:020d}__dir")

    before = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(f"{idx}/*__dir").collect()
    )
    n = ST.compact_stream_index(spark, idx, keep_last=1)
    assert n == 3  # batches 0..2 compacted, batch 3 kept aside
    import glob
    dirs = sorted(glob.glob(f"{idx}/batch=*__dir"))
    assert len(dirs) == 2
    assert any(d.endswith("c1__dir") for d in dirs)
    after = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(f"{idx}/*__dir").collect()
    )
    assert after == before

    # second pass compacts the compacted dir + the straggler, bumps gen
    n2 = ST.compact_stream_index(spark, idx)
    assert n2 == 2
    dirs2 = sorted(glob.glob(f"{idx}/batch=*__dir"))
    assert len(dirs2) == 1 and dirs2[0].endswith("c2__dir")
    final = sorted(
        (r["doc_id"], r["batch_id"])
        for r in spark.read.parquet(f"{idx}/*__dir").collect()
    )
    assert final == before
    # nothing left to compact
    assert ST.compact_stream_index(spark, idx) == 0


def test_session_stats_stream_equals_batch(spark, tmp_path):
    """Native session windows: the streaming run (append mode, watermark
    advanced past every session) emits exactly the batch run's sessions;
    gap merging and the half-open boundary behave as documented."""
    import datetime as dt

    src = str(tmp_path / "sess_src")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: events at 0, 10, 25 (one session: gaps < 30m), then 90
        (1, t(0)), (1, t(10)), (1, t(25)), (1, t(90)),
        # user 2: events at 0 and exactly 30m later -> SAME session
        # (merge rule: next.start <= prev end, matching the lag-based
        # gap > threshold oracle), then 61m -> new session
        (2, t(0)), (2, t(30)), (2, t(61)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    # sentinel far in the future so the watermark closes every session
    spark.createDataFrame(
        [(99, t(10000))], "user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    batch = sorted(
        map(tuple, ST.session_stats(df, watermark=None).collect())
    )
    assert [(u, s.minute + s.hour * 60, n) for u, s, _, n in batch] == [
        (1, 0, 3), (1, 90, 1), (2, 0, 2), (2, 61, 1),
    ]

    sdf = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out_dir = str(tmp_path / "sess_out")
    q = (
        ST.session_stats(sdf, watermark="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = sorted(
        map(tuple, spark.read.parquet(out_dir)
            .filter(F.col("user_id") != 99).collect())
    )
    assert stream == batch


def test_percentile_enrich_streams_against_frozen_digests(spark, tmp_path):
    """percentile_enrich with a frozen `digests=` snapshot is a stateless
    JVM UDF over a broadcast digest table — it runs UNCHANGED on a
    streaming DataFrame (the
    monitoring face: score arriving rows against last crawl's
    distribution).  Chunked triggers must equal the batch operator row
    for row."""
    from tdigest_spark.operators.digest import digest_by, percentile_enrich

    snap_src = spark.createDataFrame(
        [("en", float(v)) for v in range(1, 101)]
        + [("de", float(v)) for v in range(1, 51)],
        "lang string, v double",
    )
    frozen = digest_by(snap_src, "v", by=["lang"], delta=1000.0)

    src = str(tmp_path / "pe_src")
    rows = [(i, ["en", "de"][i % 2], float((i * 37) % 120)) for i in range(60)]
    for chunk in (rows[:20], rows[20:45], rows[45:]):
        spark.createDataFrame(
            chunk, "doc_id long, lang string, v double"
        ).coalesce(1).write.mode("append").parquet(src)

    sdf = (
        spark.readStream.schema("doc_id long, lang string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "pe_out")
    q = (
        percentile_enrich(sdf, "v", by=["lang"], digests=frozen)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "pe_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        r["doc_id"]: r["percentile"] for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        r["doc_id"]: r["percentile"]
        for r in percentile_enrich(
            spark.createDataFrame(rows, "doc_id long, lang string, v double"),
            "v",
            by=["lang"],
            digests=frozen,
        ).collect()
    }
    assert len(streamed) == 60
    assert streamed == batch  # exact float equality, chunking-invariant


@pytest.mark.parametrize("lane", ["digest", "windowed_digest", "windowed_hll"])
def test_state_lanes_nan_null_and_bigint_keys(spark, tmp_path, lane):
    """The three pandas state lanes emit their keys through pandas, which
    masks a NaN key as NULL: the NaN group would come back as a second
    NULL row.  A NaN key fails the query loudly instead, while NULL keys
    and bigint keys above 2^53 next to a NULL come through exact."""
    import datetime as dt

    big = (1 << 53) + 1  # not representable in float64
    t = dt.datetime(2024, 1, 1)
    schema = "ts timestamp, k double, b bigint, v double"

    def run(rows, name):
        src = str(tmp_path / f"{name}_src")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        sdf = spark.readStream.schema(schema).parquet(src)
        out = {
            "digest": lambda: ST.streaming_digest_by(sdf, "v", ["k", "b"], qs=(0.5,)),
            "windowed_digest": lambda: ST.windowed_digest_by(
                sdf, "ts", "v", ["k", "b"], qs=(0.5,)),
            "windowed_hll": lambda: ST.windowed_hll_by(sdf, "ts", "v", ["k", "b"], p=8),
        }[lane]()
        q = (
            out.writeStream.format("memory").queryName(f"{lane}_{name}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        return spark.sql(f"select k, b, n_rows from {lane}_{name}").collect()

    rows = [(t, None, None, 1.0), (t, None, big, 2.0), (t, None, big, 3.0),
            (t, 1.0, big, 4.0), (t, 1.0, None, 5.0)]
    got = sorted(map(tuple, run(rows, "keys")), key=repr)
    assert got == sorted(
        [(None, None, 1), (None, big, 2), (1.0, big, 1), (1.0, None, 1)], key=repr
    )
    nan = rows + [(t, float("nan"), None, 6.0), (t, float("nan"), big, 7.0)]
    with pytest.raises(Exception, match="NaN group key in column 'k'"):
        run(nan, "nan_keys")


def test_streaming_semantic_dedup_zero_vector_in_index(spark, tmp_path):
    """A zero-norm vector in the standing index must not NaN-poison its
    cell: later batch vectors score cosine exactly 0.0 against it (the
    safe_norm contract) and survive instead of being dropped forever."""
    import numpy as np

    src = str(tmp_path / "z_src")
    index_dir = str(tmp_path / "z_index")
    output_dir = str(tmp_path / "z_out")

    dim = 4
    e = np.eye(dim)
    cents = spark.createDataFrame(
        [(0, e[0].tolist())], "centroid_id int, centroid array<double>"
    )

    def write_file(rows):
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1: the zero vector lands in cell 0 and enters the index
    write_file([(1, [0.0] * dim)])
    sdf = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(src)
    writer = ST.streaming_semantic_dedup(
        sdf, cents, index_dir, output_dir, threshold=0.9
    )
    q = writer.option("checkpointLocation", str(tmp_path / "z_ckpt")).start()
    try:
        q.processAllAvailable()
        # batch 2: a real vector in the same cell — must be KEPT (cosine
        # vs the zero index vector is 0.0, not NaN >= threshold), plus a
        # second zero vector — also kept (0.0 < threshold)
        write_file([(2, e[0].tolist()), (3, [0.0] * dim)])
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(f"{output_dir}/*__dir")
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [1, 2, 3]


def test_compact_stream_index_recompaction_after_partial_crash(spark, tmp_path):
    """Crash-between-rename-and-delete leaves the consolidated dir
    BESIDE its victims; the next compaction with keep_last >= 1 must
    pick a generation past the survivor (not collide on os.rename) and
    keep every row visible throughout."""
    import glob

    idx = str(tmp_path / "crash_idx")
    # victims 3, 4, 5 ...
    for b in (3, 4, 5):
        spark.createDataFrame(
            [(b * 10 + i, b) for i in range(2)], "doc_id long, batch_id long"
        ).write.mode("overwrite").parquet(f"{idx}/batch={b:020d}__dir")
    # ... plus the consolidated dir a crashed compaction already renamed
    spark.read.parquet(f"{idx}/batch=*__dir").write.mode("overwrite").parquet(
        f"{idx}/batch={5:020d}c1__dir"
    )

    rows_before = sorted(
        set(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(f"{idx}/*__dir").collect()
        )
    )
    # keep_last=1 keeps the c1 survivor OUT of the victim set — the old
    # victims-only generation computation would regenerate batch=5c1
    # and wedge on ENOTEMPTY
    n = ST.compact_stream_index(spark, idx, keep_last=1)
    assert n == 3
    dirs = sorted(glob.glob(f"{idx}/batch=*__dir"))
    assert any(d.endswith("c2__dir") for d in dirs)
    rows_after = sorted(
        set(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(f"{idx}/*__dir").collect()
        )
    )
    assert rows_after == rows_before  # EXISTS semantics: no row lost
