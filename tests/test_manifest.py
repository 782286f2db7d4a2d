"""Observed writes (sources/manifest.py): parquet + quality manifest in
one scan — metrics certified against independent recomputation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tdigest_spark.sources.manifest import (
    MANIFEST_NAME,
    assert_manifest,
    read_manifest,
    write_observed,
)

SF = "/root/testdata/sf0.001"


def test_write_observed_metrics_match_recompute(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "obs")
    m = write_observed(docs, out)
    # independent recompute (a second scan the observed write avoided)
    truth = docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("text").isNull().cast("long")).alias("text_nulls"),
        F.min("n_chars").alias("n_chars_min"),
        F.max("n_chars").alias("n_chars_max"),
    ).first()
    assert m["rows"] == truth["rows"]
    assert m["text_nulls"] == truth["text_nulls"]
    assert m["n_chars_min"] == truth["n_chars_min"]
    assert m["n_chars_max"] == truth["n_chars_max"]
    # manifest persisted next to the data; data round-trips
    assert read_manifest(out) == m
    assert spark.read.parquet(out).count() == m["rows"]
    assert os.path.exists(os.path.join(out, MANIFEST_NAME))


def test_write_observed_stat_cols_and_gate(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "obs2")
    m = write_observed(docs, out, stat_cols=["lang"])
    assert set(m) == {"rows", "lang_nulls"}  # string col: nulls only
    assert assert_manifest(spark, out, min_rows=10)["rows"] == m["rows"]
    with pytest.raises(ValueError, match="rows"):
        assert_manifest(spark, out, min_rows=10**9)
    with pytest.raises(ValueError, match="no manifest"):
        assert_manifest(spark, str(tmp_path / "never_written"))
    with pytest.raises(ValueError, match="not in frame"):
        write_observed(docs, out, stat_cols=["bogus"])


def test_write_observed_partitioned(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = str(tmp_path / "obs3")
    m = write_observed(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out)
    assert back.count() == m["rows"]
    assert read_manifest(out)["rows"] == m["rows"]


def test_fs_write_bytes_failed_close_still_deletes_temp(monkeypatch):
    """A write that fails and whose close() fails too: the temp file is
    deleted and the WRITE error is the one raised, not the close error."""
    from types import SimpleNamespace

    from tdigest_spark.sources import manifest

    class Stream:
        def write(self, data):
            raise IOError("write failed")

        def close(self):
            raise IOError("close failed")

    class FS:
        def __init__(self):
            self.created, self.deleted = [], []

        def create(self, path, overwrite):
            self.created.append(path)
            return Stream()

        def delete(self, path, recursive):
            self.deleted.append(path)
            return True

    fs = FS()
    monkeypatch.setattr(manifest, "_fs_path", lambda spark, path: (fs, path))
    hadoop_fs = SimpleNamespace(Path=lambda p: p)
    spark = SimpleNamespace(_jvm=SimpleNamespace(
        org=SimpleNamespace(apache=SimpleNamespace(
            hadoop=SimpleNamespace(fs=hadoop_fs)))))
    with pytest.raises(IOError, match="write failed"):
        manifest._fs_write_bytes(spark, "/out/_manifest.json", b"{}")
    assert len(fs.created) == 1
    assert fs.created[0].startswith("/out/_manifest.json.inprogress.")
    assert fs.deleted == fs.created
