"""KLL quantile sketch (Karnin-Lang-Liberty) — the rank-error-uniform
counterpart to the t-digest, completing the north-rule sketch family.

A from-scratch implementation of the compactor-stack sketch
(Karnin, Lang, Liberty, "Optimal Quantile Approximation in Streams",
FOCS 2016): level i holds items of weight 2^i; a level over capacity is
sorted and every other item is promoted one level up.  Capacities decay
geometrically (ratio 2/3) below the top level, giving O(k) total space
and ~O(1/k) uniform rank error.

Determinism: the compaction offset alternates per level via a counter
(the deterministic-KLL variant) instead of drawing random bits, so a
given build/merge sequence is bit-reproducible — the same discipline the
t-digest core follows (fixed tie-breaks, canonical merge order).

While no compaction has happened (n <= k at a single level) every item
is retained: rank/quantile answers equal the exact rank oracle, which is
the regime the oracle-checked driver query runs in.

Spark distribution mirrors operators.digest: per-(group, partition)
partials via the Arrow grouping kernel, level-wise-concat merge +
recompress, serialized state in a BinaryType column.
"""

from __future__ import annotations

import struct
from typing import Iterable, Sequence

import numpy as np


_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "n", "levels", "offsets", "_caps", "_tcap", "_stored")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        self.n = 0
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.offsets: list[int] = [0]
        self._stored = 0
        self._recaps()

    # ------------------------------------------------------------------ sizing

    def _cap(self, i: int, height: int) -> int:
        return max(2, int(np.ceil(self.k * _C ** (height - 1 - i))))

    def _recaps(self) -> None:
        # capacities depend only on the stack height — cache them (the
        # per-call ceil/pow was ~40% of single-core ingest cost)
        h = len(self.levels)
        self._caps = [self._cap(i, h) for i in range(h)]
        self._tcap = sum(self._caps)

    def _total_cap(self) -> int:
        return self._tcap

    def __len__(self) -> int:
        return self._stored

    # ------------------------------------------------------------------ ingest

    def add(self, values) -> None:
        vals = np.asarray(values, dtype=np.float64).ravel()
        if vals.size == 0:
            return
        if np.isnan(vals).any():
            raise ValueError("Cannot add NaN to KLL sketch")
        self.levels[0] = np.concatenate([self.levels[0], vals])
        self.n += int(vals.size)
        self._stored += int(vals.size)
        self._compress()

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("can only merge KLL sketches with equal k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.offsets.append(0)
        self._recaps()
        for i, lv in enumerate(other.levels):
            if lv.size:
                self.levels[i] = np.concatenate([self.levels[i], lv])
        self.n += other.n
        self._stored += other._stored
        self._compress()
        return self

    def _compress(self) -> None:
        while self._stored > self._tcap:
            caps = self._caps
            for i, lv in enumerate(self.levels):
                if len(lv) >= caps[i]:
                    self._compact_level(i)
                    break
            else:
                break

    def _compact_level(self, i: int) -> None:
        x = self.levels[i]
        # quicksort where bit-exactness permits: equal-comparing doubles
        # are bit-identical (NaN rejected at add) except -0.0/+0.0, whose
        # relative order decides which copies get promoted — keep the
        # stable sort only for levels mixing signed zeros (same discipline
        # as core.MergingDigest's fast compaction path).
        z = x == 0.0
        if z.any():
            sb = np.signbit(x[z])
            stable = bool(sb.any() and not sb.all())
        else:
            stable = False
        lv = np.sort(x, kind="stable" if stable else None)
        off = self.offsets[i] & 1
        self.offsets[i] += 1
        # weight conservation: an odd-length level keeps one survivor at
        # level i (only the even-length prefix compacts), so stored_weight
        # always equals n exactly — the standard KLL leftover rule.  The
        # retained end alternates with the offset so no tail bias builds up.
        if len(lv) & 1:
            if off:
                leftover, lv = lv[:1], lv[1:]
            else:
                leftover, lv = lv[-1:], lv[:-1]
        else:
            leftover = np.empty(0, dtype=np.float64)
        promoted = lv[off::2]
        self.levels[i] = leftover
        if i + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
            self.offsets.append(0)
            self._recaps()
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])
        # each compaction drops half the compacted items from storage
        self._stored -= promoted.size

    # ----------------------------------------------------------------- queries

    def _items_weights(self) -> tuple[np.ndarray, np.ndarray]:
        xs, ws = [], []
        for i, lv in enumerate(self.levels):
            if lv.size:
                xs.append(lv)
                ws.append(np.full(lv.size, float(1 << i)))
        if not xs:
            return np.empty(0), np.empty(0)
        x = np.concatenate(xs)
        w = np.concatenate(ws)
        order = np.argsort(x, kind="stable")
        return x[order], w[order]

    @property
    def stored_weight(self) -> float:
        return float(
            sum(len(lv) * (1 << i) for i, lv in enumerate(self.levels))
        )

    def quantile(self, q: float) -> float:
        if not 0 <= q <= 1:
            raise ValueError(f"q should be in [0,1], got {q}")
        x, w = self._items_weights()
        if x.size == 0:
            return float("nan")
        if q == 0:
            return float(x[0])
        if q == 1:
            return float(x[-1])
        cw = np.cumsum(w)
        index = q * cw[-1]
        j = int(np.searchsorted(cw, index, side="right"))
        return float(x[min(j, x.size - 1)])

    def rank(self, v: float) -> float:
        """Estimated number of items < v."""
        x, w = self._items_weights()
        if x.size == 0:
            return float("nan")
        j = int(np.searchsorted(x, v, side="left"))
        return float(w[:j].sum())

    def cdf(self, v: float) -> float:
        x, w = self._items_weights()
        if x.size == 0:
            return float("nan")
        lt = float(w[x < v].sum())
        eq = float(w[x == v].sum())
        return (lt + eq / 2.0) / float(w.sum())

    # ------------------------------------------------------------------- serde

    MAGIC = 0x4B4C4C31  # "KLL1"

    def to_bytes(self) -> bytes:
        head = struct.pack(
            "<IIQB", self.MAGIC, self.k, self.n, len(self.levels)
        )
        parts = [head]
        for lv, off in zip(self.levels, self.offsets):
            parts.append(struct.pack("<II", len(lv), off))
            parts.append(np.sort(lv, kind="stable").astype("<f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, buf: bytes) -> "KLL":
        magic, k, n, nlev = struct.unpack_from("<IIQB", buf, 0)
        if magic != cls.MAGIC:
            raise ValueError("not a KLL1 sketch")
        off = struct.calcsize("<IIQB")
        sk = cls(k)
        sk.n = n
        sk.levels = []
        sk.offsets = []
        for _ in range(nlev):
            ln, comp_off = struct.unpack_from("<II", buf, off)
            off += 8
            sk.levels.append(
                np.frombuffer(buf, dtype="<f8", offset=off, count=ln).copy()
            )
            sk.offsets.append(comp_off)
            off += 8 * ln
        sk._stored = sum(len(lv) for lv in sk.levels)
        sk._recaps()
        return sk


# ------------------------------------------------------------------ spark


def kll_by(
    df,
    value_col,
    by: Sequence[str] = (),
    k: int = 200,
):
    """Grouped KLL build+merge over a DataFrame (same two-stage shape as
    operators.digest.digest_by).  Returns (by..., kll binary, n_rows long).

    Stage 1 is one mapInArrow keeping a dict group→sketch per input
    partition — the raw rows NEVER shuffle, only (group, KB-sketch)
    partials do, and a hot group is spread over every input split.
    Stage 2 merges each group's partials in split order.  Both stages
    group in Arrow (`_arrow_groups`), so keys stay typed.
    """
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from .operators._arrow_groups import floats, map_sketches, merged, reduce_groups

    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sdf = df.select(*[F.col(c) for c in keys], value.cast("double").alias("__v"))
    fields = "kll binary, n_rows long"
    partials = map_sketches(
        sdf, keys, lambda b: floats(b.column("__v")),
        new=lambda: KLL(k),
        fields=f"__s int, {fields}",
        emit=lambda sk, n, pid: (pid, sk.to_bytes(), n),
    )

    def merge(t) -> tuple:
        sk = merged(t, "kll", "__s", KLL.from_bytes)
        return sk.to_bytes(), pc.sum(t["n_rows"]).as_py()

    return reduce_groups(partials, keys, fields, merge)
