"""Frequent-Directions sketch: Liberty/Ghashami error bound, low-rank
exactness, merge bound preservation, distributed build, and the exact
Gram companions."""

from __future__ import annotations

import numpy as np
import pytest

from tdigest_spark.fd import (
    FrequentDirections,
    fd_sketch,
    fd_sketch_by,
    gram_matrix,
    gram_pairs_quantized,
)


def _data(n=2000, d=40, rank=8, seed=7):
    rng = np.random.default_rng(seed)
    U = rng.normal(size=(n, rank))
    V = rng.normal(size=(rank, d))
    return U @ V * 3.0 + rng.normal(scale=0.05, size=(n, d))


def _spec_err(A, sk):
    diff = A.T @ A - sk.cov_estimate()
    return float(np.linalg.norm(diff, 2)), diff


def test_fd_error_bound_and_psd():
    A = _data()
    sk = FrequentDirections(A.shape[1], ell=16).add(A)
    err, diff = _spec_err(A, sk)
    assert err <= sk.error_bound() + 1e-6
    # AᵀA − BᵀB ⪰ 0 (shrinkage only ever removes mass)
    w = np.linalg.eigvalsh(diff)
    assert w.min() > -1e-6 * max(1.0, abs(w.max()))


def test_fd_exact_below_capacity_rank():
    A = _data(n=500, d=30, rank=5)
    A = A - 0.0  # noise-free low rank: rebuild without the noise term
    rng = np.random.default_rng(3)
    U = rng.normal(size=(500, 5))
    V = rng.normal(size=(5, 30))
    A = U @ V
    sk = FrequentDirections(30, ell=12).add(A)
    err, _ = _spec_err(A, sk)
    # rank < ell: every shrink step sees sigma_ell = 0, sketch is exact
    assert err <= 1e-6 * np.linalg.norm(A.T @ A, 2)


def test_fd_merge_preserves_bound_and_counters():
    A = _data(n=4000, d=32, rank=10, seed=11)
    chunks = np.array_split(A, 5)
    parts = [FrequentDirections(32, ell=16).add(c) for c in chunks]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.merge(p)
    assert acc.n_rows == 4000
    assert acc.frob2 == pytest.approx(float((A * A).sum()))
    err, _ = _spec_err(A, acc)
    assert err <= acc.error_bound() + 1e-6


def test_fd_top_direction_alignment():
    rng = np.random.default_rng(5)
    v = rng.normal(size=24)
    v /= np.linalg.norm(v)
    A = np.outer(rng.normal(scale=4.0, size=3000), v)
    A += rng.normal(scale=0.05, size=A.shape)
    sk = FrequentDirections(24, ell=8).add(A)
    s, dirs = sk.top_directions(1)
    assert abs(float(dirs[0] @ v)) > 0.99


def test_fd_serde_roundtrip():
    A = _data(n=700, d=20, rank=6)
    sk = FrequentDirections(20, ell=10).add(A)
    back = FrequentDirections.deserialize(sk.serialize())
    assert back.n_rows == sk.n_rows
    assert back.frob2 == sk.frob2
    np.testing.assert_array_equal(back.sketch_matrix(), sk.sketch_matrix())


def test_fd_sketch_distributed_and_grouped(spark):
    A = _data(n=3000, d=16, rank=6, seed=13)
    labels = [int(i % 3) for i in range(3000)]
    rows = [(i, labels[i], [float(x) for x in A[i]]) for i in range(3000)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    # global: bound holds vs the exact Gram of the float32-rounded data
    A32 = A.astype(np.float32).astype(np.float64)
    sk = fd_sketch(df.repartition(8), "embedding", ell=12)
    assert sk.n_rows == 3000
    err = np.linalg.norm(A32.T @ A32 - sk.cov_estimate(), 2)
    assert err <= sk.error_bound() + 1e-6
    # grouped
    out = {r["label"]: r for r in fd_sketch_by(df, "embedding", by=["label"], ell=12).collect()}
    assert set(out) == {0, 1, 2}
    for lab, r in out.items():
        sub = A32[np.array(labels) == lab]
        g = FrequentDirections.deserialize(bytes(r["fd"]))
        assert g.n_rows == len(sub)
        err = np.linalg.norm(sub.T @ sub - g.cov_estimate(), 2)
        assert err <= g.error_bound() + 1e-6


def test_gram_matrix_exact(spark):
    A = _data(n=800, d=12, rank=4, seed=17)
    rows = [(i, [float(x) for x in A[i]]) for i in range(800)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    A32 = A.astype(np.float32).astype(np.float64)
    got = gram_matrix(df.repartition(6), "embedding")
    want = A32.T @ A32
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-9)


def test_gram_pairs_quantized_differential(spark):
    A = _data(n=300, d=8, rank=3, seed=19)
    rows = [(i, [float(x) for x in A[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["i"], r["j"]): r["g"]
        for r in gram_pairs_quantized(df, "embedding", dims=8).collect()
    }
    Q = np.floor(A.astype(np.float32).astype(np.float64) * (1 << 20)).astype(np.int64)
    for i in range(8):
        for j in range(i, 8):
            want = int((Q[:, i] * Q[:, j]).sum())
            assert got[(i + 1, j + 1)] == want, (i, j)
    assert len(got) == 36


def test_fd_drift_same_vs_rotated():
    from tdigest_spark.fd import fd_drift

    rng = np.random.default_rng(23)
    # same distribution, different draw: split one 5500-row sample (the
    # two halves share the generating V, i.e. the same low-rank factor)
    full = _data(n=5500, d=20, rank=5, seed=29)
    A, B = full[:3000], full[3000:]
    ska = FrequentDirections(20, ell=10).add(A)
    skb = FrequentDirections(20, ell=10).add(B)
    same = fd_drift(ska, skb, k=5)
    assert same["spectral_drift"] < 0.15
    assert same["principal_cosines"].min() > 0.95
    # rotated distribution: large drift, subspaces diverge
    Q, _ = np.linalg.qr(rng.normal(size=(20, 20)))
    skc = FrequentDirections(20, ell=10).add(A @ Q)
    rot = fd_drift(ska, skc, k=5)
    assert rot["spectral_drift"] > 0.5
    assert rot["principal_cosines"].min() < 0.6


def test_fd_sketch_by_bigint_keys_with_null_in_batch(spark):
    """Grouped FD build with float64-colliding bigint keys plus a NULL
    key in the same batch: per-group sketches must not merge (the Arrow
    grouping kernel keeps keys typed)."""
    from tdigest_spark.fd import fd_sketch_by

    big = 1 << 53
    rows = [
        (big, [1.0, 0.0]),
        (big + 1, [0.0, 1.0]),
        (big + 1, [0.0, 2.0]),
        (None, [3.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "g long, v array<double>").coalesce(1)
    out = {r["g"]: r["n_rows"] for r in fd_sketch_by(df, "v", by=["g"], ell=4).collect()}
    assert out == {big: 1, big + 1: 2, None: 1}


def test_fd_sketch_by_rejects_ragged_vectors(spark):
    """Vectors of unequal length in one batch raise, even when their total
    length divides evenly into rows (2+4+3+3 = 4 rows x 3) and a reshape
    alone would silently build a sketch of the wrong matrix."""
    from tdigest_spark.fd import fd_sketch_by

    rows = [([1.0, 2.0],), ([1.0, 2.0, 3.0, 4.0],), ([1.0, 2.0, 3.0],), ([1.0, 2.0, 3.0],)]
    df = spark.createDataFrame(rows, "v array<double>").coalesce(1)
    with pytest.raises(Exception, match="differ in length"):
        fd_sketch_by(df, "v", ell=4).collect()


def test_fd_sketch_all_null_column_raises_value_error(spark):
    """A vector column with no non-NULL row has no width to sketch:
    fd_sketch says so instead of failing on an empty collect."""
    df = spark.createDataFrame([(None,)], "v array<double>")
    assert fd_sketch_by(df, "v", ell=4).collect() == []
    with pytest.raises(ValueError, match="no non-NULL rows"):
        fd_sketch(df, "v", ell=4)
