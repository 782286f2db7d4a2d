"""KLL sketch (kll.py): exactness below capacity, rank-error bounds,
mergeability, serde, and the Spark grouped aggregation."""

from __future__ import annotations

import numpy as np
import pytest

from tdigest_spark.functions import kll_quantile_udf
from tdigest_spark.kll import KLL, kll_by


def test_exact_below_capacity():
    vals = np.arange(100, dtype=np.float64)
    rng = np.random.default_rng(2)
    rng.shuffle(vals)
    sk = KLL(k=200)
    sk.add(vals)
    assert len(sk) == 100  # no compaction yet
    for q in (0.0, 0.1, 0.25, 0.5, 0.77, 0.9, 1.0):
        expect = float(np.sort(vals)[min(int(np.floor(q * 100)), 99)])
        if q == 1.0:
            expect = 99.0
        assert sk.quantile(q) == expect
    assert sk.rank(50.0) == 50.0
    assert sk.cdf(50.0) == 50.5 / 100


def test_rank_error_bound_large():
    rng = np.random.default_rng(7)
    vals = rng.standard_normal(200_000)
    sk = KLL(k=200)
    sk.add(vals)
    assert len(sk) < 3 * 200  # bounded space
    sv = np.sort(vals)
    n = sv.size
    errs = []
    for q in np.linspace(0.01, 0.99, 25):
        est = sk.quantile(float(q))
        r = np.searchsorted(sv, est) / n
        errs.append(abs(r - q))
    assert max(errs) < 0.025  # ~O(1/k) uniform rank error with slack


def test_merge_accuracy_and_weight():
    rng = np.random.default_rng(9)
    parts = [rng.uniform(0, 1, 30_000) for _ in range(6)]
    merged = KLL(k=200)
    for p in parts:
        sk = KLL(k=200)
        sk.add(p)
        merged.merge(sk)
    allv = np.concatenate(parts)
    assert merged.n == allv.size
    sv = np.sort(allv)
    for q in (0.1, 0.5, 0.9):
        r = np.searchsorted(sv, merged.quantile(q)) / sv.size
        assert abs(r - q) < 0.03


def test_serde_roundtrip():
    rng = np.random.default_rng(3)
    sk = KLL(k=64)
    sk.add(rng.uniform(0, 10, 5000))
    b = sk.to_bytes()
    sk2 = KLL.from_bytes(b)
    assert sk2.to_bytes() == b
    for q in (0.0, 0.3, 0.9, 1.0):
        assert sk2.quantile(q) == sk.quantile(q)
    with pytest.raises(ValueError):
        KLL.from_bytes(b"XXXXXXXXXXXXXXXXXXXXX")


def test_nan_rejected():
    sk = KLL()
    with pytest.raises(ValueError):
        sk.add([1.0, float("nan")])


def test_kll_by_spark(spark):
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    rows = [("a", float(v)) for v in rng.uniform(0, 100, 3000)] + [
        ("b", float(v)) for v in rng.uniform(100, 200, 1500)
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    sk = kll_by(df, "x", by=["g"], k=200)
    got = {
        r["g"]: r
        for r in sk.select(
            "g", "n_rows", kll_quantile_udf(F.col("kll"), F.lit(0.5)).alias("p50")
        ).collect()
    }
    assert got["a"]["n_rows"] == 3000 and got["b"]["n_rows"] == 1500
    assert abs(got["a"]["p50"] - 50) < 5
    assert abs(got["b"]["p50"] - 150) < 5


def test_kll_by_bigint_keys_with_null_in_batch(spark):
    """Map-lane grouped KLL with float64-colliding bigint keys plus a
    NULL key in the same Arrow batch: groups must stay distinct
    (the Arrow grouping kernel keeps keys typed)."""
    from tdigest_spark.kll import kll_by

    big = (1 << 53) + 1
    rows = [(big, 1.0), (big + 1, 2.0), (big + 1, 3.0), (None, 4.0)]
    df = spark.createDataFrame(rows, "g long, v double").coalesce(1)
    out = {r["g"]: r["n_rows"] for r in kll_by(df, "v", by=("g",)).collect()}
    assert out == {big: 1, big + 1: 2, None: 1}
