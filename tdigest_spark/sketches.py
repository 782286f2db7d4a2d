"""Companion mergeable sketches: HyperLogLog, Count-Min, Bloom.

The t-digest answers quantile/cdf; these cover the other three questions
a web-scale profile asks — distinct counts (HLL), heavy-hitter frequency
(Count-Min), and membership (Bloom).  All three are built **entirely with
JVM built-ins** (no Python anywhere): hashing is md5-derived (engine-
neutral and oracle-exact — the same construction is expressible in any
SQL engine), sketch state is plain integer arrays, and merging is
element-wise max / sum / bit-or via `zip_with` — associative, so rollups
compose (per-group sketches merge into global ones without touching the
data again).

Determinism note: rho (HLL) and bucket indices are computed with pure
string/integer algebra (no float log2), so sketch state is bit-identical
across engines and runs.

State encodings (columns):
    HLL:       registers array<int>   (2^p entries, p<=16)
    Count-Min: counts    array<long>  (depth*width, row-major)
    Bloom:     bits      array<int>   (m bits as 0/1 ints; kept simple —
                                       a packed long[] variant is a pure
                                       representation change)
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from .operators._arrow_groups import map_groups

# ------------------------------------------------------------------ hashing


def _hex_to_long(col: Column) -> Column:
    return F.conv(col, 16, 10).cast("long")


def _h128(prefix: str, col: Column) -> Column:
    """md5 hex of a salted value — the engine-neutral hash primitive."""
    return F.md5(F.concat(F.lit(prefix), col.cast("string")))


# ---------------------------------------------------------------------- HLL


def _rho_from_hex(h13: Column) -> Column:
    """Position (1-based) of the first 1-bit in the 52-bit value encoded
    by 13 hex chars, computed with string algebra only (no float log):
    4*(leading '0' chars) + leading zeros of the first non-zero nibble + 1;
    all-zero -> 53."""
    z = F.length(h13) - F.length(F.regexp_replace(h13, "^0+", ""))
    first = F.conv(F.substring(F.regexp_replace(h13, "^0+", ""), 1, 1), 16, 10).cast(
        "int"
    )
    nib_lz = (
        F.when(first >= 8, 0)
        .when(first >= 4, 1)
        .when(first >= 2, 2)
        .when(first >= 1, 3)
    )
    return (
        F.when(z == 13, F.lit(53)).otherwise((z * 4 + nib_lz + 1).cast("int"))
    ).alias("rho")


def hll_by(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    p: int = 12,
) -> DataFrame:
    """Grouped HyperLogLog: returns (by..., registers array<int>).

    bucket = first 3 hex chars (p=12 -> 4096 registers; p must be a
    multiple of 4 here so the bucket is a whole hex prefix), rho from the
    next 13 hex chars.  Plan: project hash -> groupBy(keys, bucket) max
    (partial agg, map-side combine) -> assemble dense register array
    JVM-side.  Standard error ~1.04/sqrt(2^p) (~1.6% at p=12).

    NULL values are ignored (COUNT(DISTINCT) semantics — a NULL hashes
    to a NULL bucket, which is not a distinct item); a group whose
    values are ALL NULL emits no row.
    """
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError("p must be 4, 8, 12, or 16 (whole hex prefix)")
    m = 1 << p
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    h = _h128("hll:", value)
    hashed = df.filter(value.isNotNull()).select(
        *keys,
        _hex_to_long(F.substring(h, 1, p // 4)).cast("int").alias("__bucket"),
        _rho_from_hex(F.substring(h, p // 4 + 1, 13)).alias("__rho"),
    )
    per_bucket = hashed.groupBy(*keys, "__bucket").agg(
        F.max("__rho").alias("__maxrho")
    )
    dense = per_bucket.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("__bucket", "__maxrho"))).alias(
            "__regmap"
        )
    )
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    registers = F.transform(
        idx, lambda i: F.coalesce(F.element_at("__regmap", i), F.lit(0)).cast("int")
    )
    return dense.select(*keys, registers.alias("registers"))


def hll_merge(sketches: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Merge register arrays (element-wise max) — fully JVM-side rollup.
    Seeding the fold with the first array is safe: max is idempotent."""
    keys = list(by)
    grouped = sketches.groupBy(*keys).agg(
        F.collect_list("registers").alias("__all")
    )
    merged = F.reduce(
        F.col("__all"),
        F.element_at("__all", 1),
        lambda acc, r: F.zip_with(acc, r, lambda a, b: F.greatest(a, b)),
    )
    return grouped.select(*keys, merged.alias("registers"))


def hll_estimate_col(registers: Column | str, p: int = 12) -> Column:
    """Bias-corrected HLL estimate from a register array — pure SQL
    expression (alpha*m^2 / sum(2^-reg), linear counting for small range).
    """
    reg = F.col(registers) if isinstance(registers, str) else registers
    m = F.lit(1 << p).cast("double")
    alpha = F.lit(0.7213 / (1.0 + 1.079 / (1 << p)))
    raw_sum = F.aggregate(
        reg, F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    raw = alpha * m * m / raw_sum
    zeros = F.size(F.filter(reg, lambda r: r == 0)).cast("double")
    linear = m * F.log(m / zeros)
    return F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)


def hll_estimate_np(regs: np.ndarray) -> float:
    """Bias-corrected HLL estimate from a uint8 register array — the
    NumPy twin of hll_estimate_col (same constants/branches)."""
    m = float(regs.size)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m / float(np.sum(np.power(2.0, -regs.astype(np.float64))))
    zeros = float(np.count_nonzero(regs == 0))
    if raw <= 2.5 * m and zeros > 0:
        return m * float(np.log(m / zeros))
    return raw


# ----------------------------------------------------------------- CountMin


def countmin_by(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Grouped Count-Min sketch: (by..., counts array<long>) of length
    depth*width, row-major.  Row j buckets by md5(j||':'||v).  Point
    estimates via countmin_query_col.  Error: +eps*N with
    eps ~ e/width at confidence 1-(1/2)^depth.

    NULL values are ignored (they hash to NULL positions, not items);
    a group whose values are ALL NULL emits no row."""
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    pos_cols = []
    for j in range(depth):
        b = _hex_to_long(F.substring(_h128(f"cm{j}:", value), 1, 8)) % width
        pos_cols.append((b + j * width).cast("int"))
    hashed = df.filter(value.isNotNull()).select(
        *keys, F.explode(F.array(*pos_cols)).alias("__pos")
    )
    per_pos = hashed.groupBy(*keys, "__pos").agg(F.count("*").alias("__c"))
    dense = per_pos.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("__pos", "__c"))).alias("__m")
    )
    idx = F.sequence(F.lit(0), F.lit(depth * width - 1))
    counts = F.transform(
        idx, lambda i: F.coalesce(F.element_at("__m", i), F.lit(0)).cast("long")
    )
    return dense.select(*keys, counts.alias("counts"))


def countmin_merge(sketches: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Merge = element-wise sum (associative)."""
    keys = list(by)
    grouped = sketches.groupBy(*keys).agg(F.collect_list("counts").alias("__all"))
    merged = F.reduce(
        F.col("__all"),
        F.transform(F.element_at("__all", 1), lambda _: F.lit(0).cast("long")),
        lambda acc, r: F.zip_with(acc, r, lambda a, b: a + b),
    )
    return grouped.select(*keys, merged.alias("counts"))


def countmin_query_col(
    counts: Column | str, probe: Column, depth: int = 4, width: int = 256
) -> Column:
    """Point-frequency estimate: min over rows of counts[row_bucket(probe)]."""
    c = F.col(counts) if isinstance(counts, str) else counts
    ests = []
    for j in range(depth):
        b = _hex_to_long(F.substring(_h128(f"cm{j}:", probe), 1, 8)) % width
        ests.append(F.element_at(c, (b + j * width).cast("int") + 1))
    return F.least(*ests)


# -------------------------------------------------------------------- Bloom


def bloom_by(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    m_bits: int = 4096,
    k_hashes: int = 5,
) -> DataFrame:
    """Grouped Bloom filter: (by..., bits array<int> of 0/1).  False-
    positive rate ~(1-e^(-k n/m))^k."""
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    pos = [
        (_hex_to_long(F.substring(_h128(f"bf{j}:", value), 1, 8)) % m_bits).cast("int")
        for j in range(k_hashes)
    ]
    hashed = df.select(*keys, F.explode(F.array(*pos)).alias("__pos")).distinct()
    dense = hashed.groupBy(*keys).agg(F.collect_set("__pos").alias("__set"))
    idx = F.sequence(F.lit(0), F.lit(m_bits - 1))
    bits = F.transform(
        idx, lambda i: F.array_contains("__set", i.cast("int")).cast("int")
    )
    return dense.select(*keys, bits.alias("bits"))


def bloom_merge(sketches: DataFrame, by: Sequence[str] = ()) -> DataFrame:
    """Merge = element-wise OR (max)."""
    keys = list(by)
    grouped = sketches.groupBy(*keys).agg(F.collect_list("bits").alias("__all"))
    merged = F.reduce(
        F.col("__all"),
        F.transform(F.element_at("__all", 1), lambda _: F.lit(0)),
        lambda acc, r: F.zip_with(acc, r, lambda a, b: F.greatest(a, b)),
    )
    return grouped.select(*keys, merged.alias("bits"))


def bloom_contains_col(
    bits: Column | str, probe: Column, m_bits: int = 4096, k_hashes: int = 5
) -> Column:
    """Membership test: all k bit positions set (no false negatives)."""
    b = F.col(bits) if isinstance(bits, str) else bits
    checks = []
    for j in range(k_hashes):
        pos = (_hex_to_long(F.substring(_h128(f"bf{j}:", probe), 1, 8)) % m_bits).cast(
            "int"
        )
        checks.append(F.element_at(b, pos + 1) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


# ------------------------------------------------------------ KMV / theta


def kmv_by(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    k: int = 256,
    prefilter_hex_zeros: int = 0,
) -> DataFrame:
    """Grouped KMV (k-minimum-values / theta) distinct sketch:
    (by..., kmv array<string>) — the k lexicographically-smallest 15-hex
    (60-bit) md5 prefixes of the group's DISTINCT values, sorted.
    NULL values are ignored (md5(NULL) is NULL, which collect_set drops
    — same COUNT(DISTINCT) semantics as hll_by/countmin_by).

    This is the sketch family that supports SET ALGEBRA: union /
    intersection distinct-count estimates compose from the sketches alone
    (kmv_union_col / kmv_intersect_est_col), no raw re-scan.  Estimator
    (kmv_estimate_col): exact (= stored size) while n_distinct < k;
    (k-1)/u_k beyond, with u_k the k-th minimum normalized to (0,1) —
    relative stderr ~ 1/sqrt(k-2)  [Bar-Yossef et al. 2002; Beyer et al.
    2007 "On synopses for distinct-value estimation under multiset
    operations"].

    Scale note: collect_set is a partial-aggregating ObjectHashAggregate
    (map-side combine), but its per-group state is the FULL distinct hash
    set before the final slice.  For cardinality-explosive groups pass
    `prefilter_hex_zeros=q` (q > 0): only hashes with q leading hex zeros
    are retained (theta-sampling at rate 16^-q), bounding state at
    ~n_distinct/16^q while keeping the construction deterministic and
    engine-neutral; kmv_estimate_col scales by 16^q.  Choose q so
    n_distinct/16^q >> k.  Hashes are 15 hex chars so both Spark's
    conv(...,16,10) and an oracle's ('0x'||h)::BIGINT stay in signed-64
    range; lexicographic order on fixed-width hex == numeric order.
    """
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    h = F.substring(_h128("kmv:", value), 1, 15)
    hashed = df.select(*keys, h.alias("__h"))
    if prefilter_hex_zeros > 0:
        hashed = hashed.filter(
            F.substring("__h", 1, prefilter_hex_zeros) == "0" * prefilter_hex_zeros
        )
    return hashed.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("kmv")
    )


def kmv_merge(sketches: DataFrame, by: Sequence[str] = (), k: int = 256) -> DataFrame:
    """Merge KMV sketches: k smallest of the union.  LOSSLESS w.r.t.
    direct construction (the k minima of a union equal the k minima of
    the union of per-part k-minima), so merge is associative and
    bit-identical to a single-pass build — tested."""
    keys = list(by)
    grouped = sketches.groupBy(*keys).agg(F.collect_list("kmv").alias("__all"))
    merged = F.reduce(
        F.col("__all"),
        F.element_at("__all", 1),
        lambda acc, r: F.slice(F.array_sort(F.array_union(acc, r)), 1, k),
    )
    return grouped.select(*keys, merged.alias("kmv"))


def _hex15_to_unit(h: Column) -> Column:
    """Map a 15-hex-char hash to (0,1]: (v+1)/16^15 (half-open shift so
    u_k > 0 always)."""
    return (_hex_to_long(h) + 1).cast("double") / F.lit(float(16**15))


def kmv_estimate_col(
    kmv: Column | str, k: int = 256, prefilter_hex_zeros: int = 0
) -> Column:
    """Distinct-count estimate from a KMV sketch column (double).

    Under capacity: stored-size/theta (exact when q=0), theta = 16^-q.
    At capacity: (k-1)/u_k with NO theta scaling — the q-zero prefilter
    keeps exactly the smallest 16^-q slice of hash space, which is where
    the k global minima live, so the at-capacity sketch (and u_k) is
    identical to the unfiltered one whenever the sampled set has >= k
    members."""
    c = F.col(kmv) if isinstance(kmv, str) else kmv
    scale = F.lit(float(16**prefilter_hex_zeros))
    n = F.size(c)
    u_k = _hex15_to_unit(F.element_at(c, k))
    return (
        F.when(n < k, n.cast("double") * scale)
        .otherwise(F.lit(float(k - 1)) / u_k)
    )


def kmv_estimate_py(kmv: Sequence[str], k: float) -> float:
    """kmv_estimate_col without prefilter, on one sketch: stored size
    under capacity, (k-1)/u_k at it."""
    k = int(k)
    if len(kmv) < k:
        return float(len(kmv))
    u_k = (int(kmv[k - 1], 16) + 1) / float(16**15)
    return (k - 1) / u_k


def kmv_union_col(a: Column | str, b: Column | str, k: int = 256) -> Column:
    """Sketch of the set union: k smallest of the combined minima."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.slice(F.array_sort(F.array_union(ca, cb)), 1, k)


def kmv_intersect_est_col(
    a: Column | str,
    b: Column | str,
    k: int = 256,
    prefilter_hex_zeros: int = 0,
    union_col: Column | str | None = None,
) -> Column:
    """Intersection distinct-count estimate (double).

    Standard KMV multiset algebra: over the union sketch U (the k
    smallest combined hashes), count members present in BOTH input
    sketches, scale by |union| estimate / |U|.  While both inputs are
    under capacity this degenerates to exact |A ∩ B| (every distinct
    hash of both sets is present).

    Pass `union_col` (a column already holding kmv_union_col(a, b, k))
    when the union sketch is also needed elsewhere in the projection —
    Catalyst inlines column expressions, so without it the
    sort+union+slice would be re-evaluated once per reference."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    if union_col is None:
        u = kmv_union_col(ca, cb, k)
    else:
        u = F.col(union_col) if isinstance(union_col, str) else union_col
    both = F.size(F.array_intersect(ca, cb)).cast("double")
    # exact regime: union under capacity -> scale factor is 1
    under = F.size(u) < k
    scale = F.lit(float(16**prefilter_hex_zeros))
    u_k = _hex15_to_unit(F.element_at(u, k))
    est_union = F.lit(float(k - 1)) / u_k
    # at capacity the intersection count must be taken over U only
    both_in_u = F.size(
        F.filter(u, lambda h: F.array_contains(ca, h) & F.array_contains(cb, h))
    ).cast("double")
    # at-capacity branch is unscaled for the same reason as
    # kmv_estimate_col: the prefilter slice contains the global minima
    return F.when(under, both * scale).otherwise(
        both_in_u * est_union / F.lit(float(k))
    )


# ------------------------------------------------------- heavy hitters


# Above this many candidate rows (input partitions x MG counters), the
# pass-2 verification switches from a broadcast semi-join to a shuffle
# semi-join automatically: ~1M string rows is already tens of MB on the
# driver, and a very low threshold over 10^5 partitions would otherwise
# OOM it.
_HH_BROADCAST_MAX_ROWS = 1_000_000


def heavy_hitters(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    threshold: float = 0.005,
    counters: int | None = None,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """EXACT frequent items above `threshold` (fraction of rows), found
    with the two-pass Misra-Gries pattern — the 100 TB heavy-hitter
    design: no raw-row shuffle, candidates-only exact verification.

    Pass 1 (mapInArrow, zero shuffle): each input partition runs a
    Misra-Gries summary with `counters` slots (default 2/threshold) and
    emits its surviving items — KBs per partition.  Pigeonhole: an item
    with global frequency > threshold exceeds the local threshold in at
    least one partition, so the union of survivors is a SUPERSET of all
    true heavy hitters [Misra & Gries 1982].
    Pass 2: semi-join the raw stream to the distinct candidate set and
    count exactly — the shuffle carries only candidate-matching rows'
    (group, item) pairs through a partial-aggregating count.

    NULL semantics match SQL GROUP BY: a NULL item (and a NULL group
    key) is an ordinary value — counted through pass 1 (Arrow keeps NULL),
    matched null-safely (<=>) in pass 2 — so a NULL exceeding the
    threshold IS returned, exactly as the GROUP BY/HAVING oracle would.

    `broadcast_candidates=None` (default) broadcasts the candidate set
    when `input_partitions x counters` (its cardinality bound) is at
    most _HH_BROADCAST_MAX_ROWS and falls back to a shuffle semi-join
    beyond that; pass True/False to force either.

    Returns (by..., item string, freq long) with freq the EXACT count,
    filtered to freq > threshold * group_rows.  Deterministic and
    engine-neutral (the candidate set affects only what gets verified,
    never the returned counts), so results hash-match a plain
    GROUP BY/HAVING oracle."""
    import math

    keys = list(by)
    if counters is None:
        counters = max(8, int(math.ceil(2.0 / threshold)))
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sdf = df.select(*keys, value.cast("string").alias("__item"))
    if broadcast_candidates is None:
        n_parts = sdf.rdd.getNumPartitions()
        broadcast_candidates = n_parts * counters <= _HH_BROADCAST_MAX_ROWS

    k_counters = int(counters)

    def insert(s: dict, it, c: int) -> None:
        # weighted Misra-Gries insert of `c` copies of `it`
        while c > 0:
            if it in s:
                s[it] += c
                return
            if len(s) < k_counters:
                s[it] = c
                return
            m = min(min(s.values()), c)
            for kk in list(s):
                s[kk] -= m
                if s[kk] == 0:
                    del s[kk]
            c -= m

    def feed(s: dict | None, items, rows) -> dict:
        # one MG summary per group seen in this partition; per-batch item
        # counting is vectorized (Arrow value_counts, NULL counted as an
        # item), the Python loop runs per DISTINCT item per batch
        s = {} if s is None else s
        vc = pc.value_counts(items.take(rows))
        for it, c in zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()):
            insert(s, it, c)
        return s

    candidates = map_groups(
        sdf, keys, "__item string",
        prepare=lambda b: b.column("__item"),
        feed=feed,
        emit=lambda s, pid: [(it,) for it in s],
    ).distinct()

    # candidate cardinality <= n_partitions x counters; broadcast is right
    # for normal thresholds (hundreds of survivors/partition, KBs), but a
    # very low threshold over many partitions can outgrow the driver —
    # the default auto-switch above falls back to a shuffle semi-join.
    # Null-safe (<=>) join keys throughout: NULL items and NULL group
    # keys must match themselves exactly as GROUP BY treats them (<=> is
    # still a hash-join key, never a nested loop).
    cand = candidates.select(
        *[F.col(k).alias(f"__c_{k}") for k in keys],
        F.col("__item").alias("__c_item"),
    )
    if broadcast_candidates:
        cand = F.broadcast(cand)
    semi_cond = F.col("__item").eqNullSafe(F.col("__c_item"))
    for k in keys:
        semi_cond = semi_cond & F.col(k).eqNullSafe(F.col(f"__c_{k}"))
    counted = (
        sdf.join(cand, semi_cond, "left_semi")
        .groupBy(*keys, "__item")
        .agg(F.count("*").alias("freq"))
    )
    totals = sdf.groupBy(*keys).agg(F.count("*").alias("__total"))
    if keys:
        tot = totals.select(
            *[F.col(k).alias(f"__t_{k}") for k in keys], "__total"
        )
        tot_cond = F.lit(True)
        for k in keys:
            tot_cond = tot_cond & F.col(k).eqNullSafe(F.col(f"__t_{k}"))
        joined = counted.join(F.broadcast(tot), tot_cond)
    else:
        joined = counted.crossJoin(F.broadcast(totals))
    return joined.filter(
        F.col("freq") > F.lit(float(threshold)) * F.col("__total")
    ).select(*keys, F.col("__item").alias("item"), F.col("freq"))
