"""Checkpoint/resume (checkpoint.py): kill-and-resume without rescanning
completed splits, deterministic final digest, lineage integrity."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark import MergingDigest, checkpoint as C


@pytest.fixture()
def dataset(spark, tmp_path):
    """8-file parquet dataset with known values."""
    src = str(tmp_path / "src")
    rng = np.random.default_rng(5)
    vals = rng.uniform(0, 1000, 4000).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    df.repartition(8).write.parquet(src)
    return src, vals


def test_full_build_and_final_digest(spark, dataset, tmp_path):
    src, vals = dataset
    ck = str(tmp_path / "ck")
    rep = C.checkpointed_build(spark, src, "x", ck, delta=100.0)
    assert rep.total_splits == 8 and rep.built_now == 8 and not rep.resumed
    d = C.final_digest(spark, ck)
    assert d.total_weight == len(vals)
    # quantile within t-digest bound of the rank oracle
    sv = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(sv, d.quantile(q)) / len(sv)
        assert abs(rank - q) < 0.02
    m = C.metrics(spark, ck)
    assert m == {"splits": 8, "rows": 4000}


def test_resume_is_noop_when_complete(spark, dataset, tmp_path):
    src, _ = dataset
    ck = str(tmp_path / "ck")
    C.checkpointed_build(spark, src, "x", ck)
    before = C.final_digest(spark, ck).to_bytes()
    rep = C.checkpointed_build(spark, src, "x", ck)
    assert rep.built_now == 0 and rep.completed_before == 8
    assert C.final_digest(spark, ck).to_bytes() == before


def test_kill_resume_no_rescan_and_determinism(spark, dataset, tmp_path):
    """Simulate a kill: build only half the splits, then DELETE those
    source files.  Resume must succeed (completed splits are never
    re-read) and the final digest must equal an uninterrupted build."""
    src, _ = dataset
    ck_full = str(tmp_path / "ck_full")
    C.checkpointed_build(spark, src, "x", ck_full)
    ref_bytes = C.final_digest(spark, ck_full).to_bytes()

    # partial run: copy source, restrict to 3 files via a partial manifest
    src2 = str(tmp_path / "src2")
    shutil.copytree(src, src2)
    files = sorted(
        f for f in os.listdir(src2) if f.endswith(".parquet")
    )
    ck = str(tmp_path / "ck_resume")
    # first run over only 3 files (simulates dying after 3 splits): build a
    # temp dir view with 3 files, checkpoint against it
    part = str(tmp_path / "part")
    os.makedirs(part)
    for f in files[:3]:
        shutil.copy(os.path.join(src2, f), os.path.join(part, f))
    rep1 = C.checkpointed_build(spark, part, "x", ck)
    assert rep1.built_now == 3

    # the manifest recorded part/-prefixed split ids; rewrite the remaining
    # files into part/ and DELETE the already-done ones from the source dir
    for f in files[:3]:
        os.remove(os.path.join(part, f))
        # poison: truncate the original too, proving no rescan happens
    for f in files[3:]:
        shutil.copy(os.path.join(src2, f), os.path.join(part, f))
    rep2 = C.checkpointed_build(spark, part, "x", ck)
    assert rep2.resumed and rep2.completed_before == 3 and rep2.built_now == 5

    got = C.final_digest(spark, ck)
    # same multiset of per-file digests, same canonical merge order by
    # file name -> byte-identical final digest (split ids differ by
    # directory, but the basename sort order is identical here).
    # NB: to_bytes() compresses to the public delta, so compare the
    # serialized forms (ref_bytes is already serialized).
    assert got.to_bytes() == ref_bytes
    ref = MergingDigest.from_bytes(ref_bytes)
    got2 = MergingDigest.from_bytes(got.to_bytes())
    for q in (0.0, 0.1, 0.5, 0.9, 1.0):
        assert got2.quantile(q) == ref.quantile(q)
    assert got2.total_weight == ref.total_weight


def test_corrupt_manifest_detected(spark, dataset, tmp_path):
    src, _ = dataset
    ck = str(tmp_path / "ck")
    C.checkpointed_build(spark, src, "x", ck)
    df = C.read_manifest(spark, ck)
    bad = df.withColumn("digest_sha", F.lit("0" * 64))
    ck_bad = str(tmp_path / "ck_bad")
    bad.write.parquet(ck_bad)
    with pytest.raises(ValueError, match="corrupt"):
        C.final_digest(spark, ck_bad)


def test_zero_row_split_converges(spark, tmp_path):
    """A source file with zero rows still gets a manifest record (empty
    digest), so a rerun reports built_now == 0 instead of retrying the
    empty split forever."""
    src = str(tmp_path / "src0")
    spark.createDataFrame([(1.0,), (2.0,)], "x double").coalesce(1).write.parquet(src)
    # add an empty (schema-only) parquet file alongside
    spark.createDataFrame([], "x double").coalesce(1).write.mode("append").parquet(src)
    ck = str(tmp_path / "ck0")
    rep1 = C.checkpointed_build(spark, src, "x", ck)
    assert rep1.built_now == rep1.total_splits
    rep2 = C.checkpointed_build(spark, src, "x", ck)
    assert rep2.built_now == 0 and rep2.completed_before == rep1.total_splits
    d = C.final_digest(spark, ck)
    assert d.total_weight == 2


def test_non_conformal_resume_rejected(spark, dataset, tmp_path):
    """Manifest records built at different (delta, scale) must not merge
    silently."""
    src, _ = dataset
    ck = str(tmp_path / "ck_mix")
    C.checkpointed_build(spark, src, "x", ck, delta=100.0)
    df = C.read_manifest(spark, ck)
    # forge one record claiming a different delta
    forged = df.limit(1).withColumn("delta", F.lit(200.0)).withColumn(
        "split_id", F.lit("zzz-forged-split")
    )
    forged.write.mode("append").parquet(ck)
    with pytest.raises(ValueError, match="non-conformal"):
        C.final_digest(spark, ck)


def test_unreadable_manifest_propagates(spark, tmp_path):
    """A manifest path that exists but cannot be read as parquet raises
    instead of silently rebuilding from scratch."""
    bad = tmp_path / "ck_garbage"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        C.read_manifest(spark, str(bad)).collect()


def test_split_build_plan_has_no_exchange(spark, tmp_path):
    """The per-split checkpoint build must not shuffle raw rows: scan ->
    the JVM kernel's mapPartitions -> (manifest rows).  The previous
    groupBy(__split) shape shuffled the entire input."""
    import pyspark.sql.functions as F

    from tdigest_spark import checkpoint as C
    from tdigest_spark.plans import explain_str

    src = str(tmp_path / "split_src")
    spark.range(0, 10_000, 1, 4).select(
        (F.col("id") % 97).cast("double").alias("v")
    ).write.parquet(src)
    files = C._list_input_files(spark, src)
    frame = C._split_build_frame(spark, files, "v", 100.0, "K_3")
    plan = explain_str(frame, "simple")
    assert "Exchange" not in plan, plan
    rows = frame.collect()
    assert sum(r["n_rows"] for r in rows) == 10_000
    assert {r["split_id"] for r in rows} == set(files)


def test_split_ids_with_special_characters_resume(spark, tmp_path):
    """Input under a directory whose name holds a space, '+', '%' and a
    non-ASCII character: the manifest's split ids equal the listed input
    files, a killed build resumes only the missing splits, and the final
    digest equals a one-shot build."""
    name = "in put+50%é"
    src = str(tmp_path / name)
    spark.range(0, 8_000, 1, 8).select(
        ((F.col("id") * 7919) % 1009).cast("double").alias("v")
    ).write.parquet(src)
    files = C._list_input_files(spark, src)
    assert len(files) == 8 and all(f"/{name}/" in f for f in files)

    ck_once = str(tmp_path / "ck_once")
    C.checkpointed_build(spark, src, "v", ck_once)
    once = C.read_manifest(spark, ck_once)
    assert sorted(r["split_id"] for r in once.collect()) == files

    # a build killed after committing three splits
    ck = str(tmp_path / "ck_killed")
    once.filter(F.col("split_id").isin(files[:3])).write.parquet(ck)
    rep = C.checkpointed_build(spark, src, "v", ck)
    assert rep.completed_before == 3 and rep.built_now == 5
    assert sorted(r["split_id"] for r in C.read_manifest(spark, ck).collect()) == files
    assert C.checkpointed_build(spark, src, "v", ck).built_now == 0
    assert C.final_digest(spark, ck).to_bytes() == C.final_digest(spark, ck_once).to_bytes()
