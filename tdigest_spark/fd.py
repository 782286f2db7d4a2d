"""Frequent-Directions matrix sketch + exact distributed Gram matrices.

The embedding-side sibling of the t-digest: where the digest sketches a
scalar DISTRIBUTION, Frequent Directions (Liberty, KDD 2013; Ghashami,
Liberty, Phillips & Woodruff, SIAM J. Comput. 2016) sketches the
second-moment MATRIX of a vector column — an ℓ×d matrix B with the
deterministic guarantee

    0 ⪯ AᵀA − BᵀB   and   ‖AᵀA − BᵀB‖₂ ≤ ‖A − A_k‖_F² / (ℓ − k)

for every k < ℓ (so top singular directions / PCA energy of a
10^12-row embedding corpus come out of a 32 KB object).  Like every
sketch in this package it is MERGEABLE: feeding one sketch's rows into
another preserves the bound (Ghashami et al. §3), so per-partition
sketches combine associatively and the distributed build is the same
map-side-combine shape as `operators/digest.py` — only ℓ×d float
buffers ever cross the Arrow boundary, never raw vectors.

Uses: corpus-level PCA for SemDeDup-style centering, embedding-drift
detection between crawl snapshots, low-rank denoising before ANN
indexing — all from one scan.

`gram_matrix` is the EXACT companion (G = ΣvvᵀA = AᵀA via per-partition
NumPy X.T@X partials, one (d×d) reduce): at d≤~1k the exact Gram is
itself tiny, and it is what the FD error tests measure against.  The
driver gate runs `gram_pairs_quantized` — the same pair algebra on
integer-quantized components, so sums are order-insensitive and
hash-exact against any SQL engine (float Gram sums are not, decimal
casts round differently across engines; integers sidestep both).
"""

from __future__ import annotations

import struct
from collections.abc import Sequence

from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:  # pyspark deferred so `import tdigest_spark` stays NumPy-only
    from pyspark.sql import DataFrame

__all__ = [
    "FrequentDirections",
    "fd_drift",
    "fd_sketch",
    "fd_sketch_by",
    "gram_matrix",
    "gram_pairs_quantized",
]

_MAGIC = b"FD01"


class FrequentDirections:
    """ℓ-row Frequent-Directions sketch of a stream of d-vectors.

    Buffer holds 2ℓ rows; on overflow: SVD, subtract σ_ℓ² from the
    squared spectrum (Liberty's shrink), keep the ℓ strongest shrunk
    directions.  All NumPy; `add` is batched.
    """

    def __init__(self, d: int, ell: int = 64):
        if d < 1 or ell < 1:
            raise ValueError("d and ell must be >= 1")
        self.d = int(d)
        self.ell = int(ell)
        self._buf = np.zeros((2 * self.ell, self.d), dtype=np.float64)
        self._n_buf = 0  # occupied rows
        self.n_rows = 0  # total vectors consumed
        self.frob2 = 0.0  # exact running ‖A‖_F²

    # -- core ---------------------------------------------------------

    def _shrink(self) -> None:
        if self._n_buf <= self.ell:
            return
        # economy SVD of the occupied prefix
        _, s, vt = np.linalg.svd(self._buf[: self._n_buf], full_matrices=False)
        k = min(self.ell, s.size)
        delta = s[k - 1] ** 2 if s.size >= k else 0.0
        s2 = np.maximum(s[:k] ** 2 - delta, 0.0)
        keep = np.sqrt(s2)
        self._buf[:k] = keep[:, None] * vt[:k]
        self._buf[k:] = 0.0
        # rows with zero weight are free slots
        self._n_buf = int(np.count_nonzero(keep))

    def add(self, X: np.ndarray) -> "FrequentDirections":
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 1:
            X = X[None, :]
        if X.shape[1] != self.d:
            raise ValueError(f"expected d={self.d}, got {X.shape[1]}")
        X = X[~np.isnan(X).any(axis=1)]
        self.n_rows += X.shape[0]
        self.frob2 += float((X * X).sum())
        i = 0
        while i < X.shape[0]:
            free = self._buf.shape[0] - self._n_buf
            take = min(free, X.shape[0] - i)
            self._buf[self._n_buf : self._n_buf + take] = X[i : i + take]
            self._n_buf += take
            i += take
            if self._n_buf == self._buf.shape[0]:
                self._shrink()
        return self

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        """Feed the other sketch's rows in as ordinary rows (the FD merge
        — bound-preserving per Ghashami et al. §3)."""
        if other.d != self.d:
            raise ValueError("dimension mismatch")
        rows = other._buf[: other._n_buf]
        i = 0
        while i < rows.shape[0]:
            free = self._buf.shape[0] - self._n_buf
            take = min(free, rows.shape[0] - i)
            self._buf[self._n_buf : self._n_buf + take] = rows[i : i + take]
            self._n_buf += take
            i += take
            if self._n_buf == self._buf.shape[0]:
                self._shrink()
        self.n_rows += other.n_rows
        self.frob2 += other.frob2
        return self

    # -- queries ------------------------------------------------------

    def sketch_matrix(self) -> np.ndarray:
        """The current B (≤2ℓ × d), compacted to ℓ rows."""
        self._shrink()
        return self._buf[: max(self._n_buf, 1)].copy()

    def cov_estimate(self) -> np.ndarray:
        """BᵀB ≈ AᵀA (d×d)."""
        b = self.sketch_matrix()
        return b.T @ b

    def top_directions(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(singular_values, directions) of the sketch — directions are
        rows, strongest first."""
        self._shrink()
        _, s, vt = np.linalg.svd(self._buf[: max(self._n_buf, 1)], full_matrices=False)
        k = min(k, s.size)
        return s[:k], vt[:k]

    def error_bound(self) -> float:
        """Worst-case ‖AᵀA − BᵀB‖₂ (the k=0 form ‖A‖_F²/ℓ)."""
        return self.frob2 / self.ell

    # -- serde --------------------------------------------------------

    def serialize(self) -> bytes:
        self._shrink()
        rows = self._buf[: self._n_buf]
        head = struct.pack(
            "<4siiiqd", _MAGIC, self.d, self.ell, rows.shape[0], self.n_rows, self.frob2
        )
        return head + rows.astype("<f8").tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "FrequentDirections":
        magic, d, ell, nb, n_rows, frob2 = struct.unpack_from("<4siiiqd", blob, 0)
        if magic != _MAGIC:
            raise ValueError("not an FD sketch")
        off = struct.calcsize("<4siiiqd")
        out = cls(d, ell)
        rows = np.frombuffer(blob, dtype="<f8", offset=off).reshape(nb, d)
        out._buf[:nb] = rows
        out._n_buf = nb
        out.n_rows = n_rows
        out.frob2 = frob2
        return out


def fd_drift(
    a: FrequentDirections, b: FrequentDirections, k: int = 8
) -> dict:
    """Embedding-distribution drift between two corpus snapshots, from
    their KB-sized FD sketches alone (no re-scan) — the vector sibling
    of the sketch-only CDF drift monitor in `sketches`.

    Returns:
    - spectral_drift: ‖Â₁ − Â₂‖₂ / max(‖Â₁‖₂, ‖Â₂‖₂) where
      Âᵢ = BᵢᵀBᵢ/nᵢ is the per-row second-moment estimate (so corpus
      SIZE cancels and only the distribution's shape moves the number).
      Each Âᵢ is within error_bound()/nᵢ of the true moment, so the
      reported drift is exact up to that additive slack.
    - principal_cosines: cosines of the principal angles between the two
      sketches' top-k singular subspaces (1.0 = aligned); their min is
      the strongest "a new direction appeared" alarm.
    """
    if a.d != b.d:
        raise ValueError("dimension mismatch")
    ca = a.cov_estimate() / max(a.n_rows, 1)
    cb = b.cov_estimate() / max(b.n_rows, 1)
    denom = max(np.linalg.norm(ca, 2), np.linalg.norm(cb, 2), 1e-300)
    drift = float(np.linalg.norm(ca - cb, 2) / denom)
    _, da = a.top_directions(k)
    _, db = b.top_directions(k)
    k_eff = min(da.shape[0], db.shape[0])
    sv = np.linalg.svd(da[:k_eff] @ db[:k_eff].T, compute_uv=False)
    return {
        "spectral_drift": drift,
        "principal_cosines": np.clip(sv, 0.0, 1.0),
    }


# -- distributed build -------------------------------------------------

_FD_FIELDS = "fd binary, n_rows long"


def fd_sketch_by(
    df: DataFrame,
    vec_col: str,
    by: Sequence[str] | None = None,
    ell: int = 64,
) -> DataFrame:
    """Distributed FD build, digest_by's map-side-combine shape:
    stage 1 = one mapInArrow keeps one sketch per group per partition
    (zero raw-vector shuffle — the shuffle carries ≤(groups×partitions)
    serialized ℓ×d buffers); stage 2 = `reduce_groups` merges each
    group's partials in partition order, as kll_by does, with the keys
    kept typed (NaN and NULL stay two groups).
    Returns (by…, fd binary, n_rows long)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from .operators._arrow_groups import map_groups, merged, reduce_groups

    by = list(by or [])
    sdf = df.select(*by, vec_col).filter(F.col(vec_col).isNotNull())

    def matrix(batch) -> np.ndarray:
        col = batch.column(vec_col)
        width = pc.list_value_length(col).to_numpy()
        if width.min() != width.max():
            raise ValueError(f"fd_sketch_by: {vec_col} vectors differ in length")
        flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
        return np.asarray(flat, dtype=np.float64).reshape(len(col), -1)

    def feed(sk, X: np.ndarray, rows: np.ndarray):
        sk = FrequentDirections(X.shape[1], ell) if sk is None else sk
        sk.add(X[rows])
        return sk

    partials = map_groups(
        sdf, by, f"__s int, {_FD_FIELDS}", matrix, feed,
        emit=lambda sk, pid: [(pid, sk.serialize(), sk.n_rows)],
    )

    def merge(t) -> tuple:
        sk = merged(t, "fd", "__s", FrequentDirections.deserialize)
        return sk.serialize(), sk.n_rows

    return reduce_groups(partials, by, _FD_FIELDS, merge)


def fd_sketch(df: DataFrame, vec_col: str, ell: int = 64) -> FrequentDirections:
    """Global FD sketch, returned as the driver-side object (the
    collect moves one ℓ×d buffer — KBs).  Raises ValueError if the
    column has no non-NULL row: the vector width is then unknown."""
    rows = fd_sketch_by(df, vec_col, ell=ell).collect()
    if not rows:
        raise ValueError(f"fd_sketch: {vec_col} has no non-NULL rows")
    return FrequentDirections.deserialize(bytes(rows[0]["fd"]))


def gram_matrix(df: DataFrame, vec_col: str) -> np.ndarray:
    """EXACT Gram AᵀA of a vector column: per-partition NumPy X.T@X
    partials (mapInPandas — zero raw-vector shuffle), d×d float64
    partials summed on the driver.  At 100 TB this moves
    n_partitions × d² × 8 bytes — for d=1024 that is 8 MB per
    partition-group; fine for the final single collect this performs."""
    import pandas as pd
    from pyspark.sql import functions as F

    def partial(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col] if v is not None]
            )
            if X.size == 0:
                continue
            g = X.T @ X
            acc = g if acc is None else acc + g
        if acc is not None:
            yield pd.DataFrame({"g": [acc.tobytes()], "d": [acc.shape[0]]})

    parts = (
        df.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(partial, schema="g binary, d int")
        .collect()
    )
    if not parts:
        return np.zeros((0, 0))
    d = parts[0]["d"]
    out = np.zeros((d, d))
    for r in parts:
        out += np.frombuffer(bytes(r["g"])).reshape(d, d)
    return out


def gram_pairs_quantized(
    df: DataFrame,
    vec_col: str,
    dims: int,
    scale_bits: int = 20,
) -> DataFrame:
    """Engine-neutral EXACT Gram gate: components quantized to integers
    scan-side (floor(x·2^bits) — deterministic on any IEEE engine), then
    upper-triangle pair products summed as bigints (order-insensitive,
    so the result hash-matches a SQL oracle; float Gram sums do not).
    Output: (i, j, g) with 1-based dims, i ≤ j ≤ `dims`.

    This is the gate for the pair algebra; the production float lane is
    `gram_matrix` (pytest-differential against this within quantization
    error)."""
    from pyspark.sql import functions as F

    s = float(1 << scale_bits)
    q = [
        F.floor(F.element_at(F.col(vec_col), i).cast("double") * F.lit(s))
        .cast("long")
        .alias(f"__q{i}")
        for i in range(1, dims + 1)
    ]
    qdf = df.filter(F.col(vec_col).isNotNull()).select(*q)
    prods = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                (F.col(f"__q{i}") * F.col(f"__q{j}")).alias("p"),
            )
            for i in range(1, dims + 1)
            for j in range(i, dims + 1)
        ]
    )
    return (
        qdf.select(F.explode(prods).alias("e"))
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").alias("g"))
    )
