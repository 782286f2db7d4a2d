"""Distributed t-digest aggregation over DataFrames.

The reference library IS a partial+final aggregation (SURVEY.md §2.2):
update = vectorized fit over a batch, merge = digest ⊕ digest, evaluate =
compress + quantile/cdf.  Spark-first mapping:

    stage 1 (update):  one JVM mapPartitions builds a digest per (group,
                       input partition) — *map-side combine*: no raw row
                       ever shuffles, and no input row crosses to Python.
                       The kernel (`_jvm_kernel`, Janino-compiled Java)
                       is the ingest half of `core.MergingDigest`; it
                       feeds each group's values in row order, one
                       10k-input-row chunk (the reference's ingestion
                       chunk) at a time, so every partial is
                       byte-identical to a driver digest fed the same
                       chunks (build_partials_grouped; `by=()` is the
                       per-partition build)
    stage 2 (merge):   one JVM groupByKey on the folded key, then
                       flatMapSortedGroups by salt (`_jvm_kernel`'s
                       DigestMerge): each group's partials merge in salt
                       order, byte-identically to `MergingDigest.merge`;
                       keys stay typed (NaN and NULL stay two groups) —
                       digests are ~8·delta bytes, so the shuffle moves
                       KBs per group regardless of input size
    evaluate:          quantile and cdf are JVM UDFs over the digest
                       column (`_jvm_kernel`'s DigestQuery, the
                       tdigest_quantile / tdigest_cdf of the `functions`
                       surface; quantiles_of, cdfs_of, digest_drift and
                       quantile_filter use them); per-row scoring
                       (percentile_enrich) is one JVM UDF (the cdf scorer)
                       over the key and value columns — no row crosses to
                       Python.  The other SQL query functions
                       (trimmed mean, total weight, min, max, centroid
                       count) are scalar Arrow UDFs

Scale notes (100 TB / 1000 executors):
- Stage 1 shuffles ZERO raw rows: the JVM kernel keeps a map
  group→digest per input partition, so the only shuffle carries
  (group, KB-digest) partials — splits × groups rows, independent of
  input size.  The salt is explicit: `_SALT` is the input-split id, so
  a hot group (e.g. lang='en' at 60% of a trillion rows) is spread over
  every input split, and its partials merge in split order.  There is
  no skewed reducer to salt away.
- `by=()` is the ungrouped build: each input split emits one digest
  row — the 100 TB fast path for global digests.
- Merge order is canonicalized (sort by split id) so re-runs are
  byte-identical; within the singleton regime ANY order is byte-identical
  (tests/test_determinism.py).
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F

from ..core import MergingDigest
from ..scale import get_scale
from ._arrow_groups import key_tuple
from ._jvm_kernel import (
    apply_udf, cdf_scorer, collect_rows, digest_merge, digest_partials,
)

_VALUE = "__td_value"
_SALT = "__td_salt"
DIGEST_FIELDS = "digest binary, n_rows long"

#: broadcast handles of side channels: percentile_enrich's JVM
#: broadcasts and similarity's sc.broadcast ones — the dedup._CACHED
#: pattern: broadcast blocks outlive the returned DataFrame's use and
#: accumulate over a long session unless released at stage boundaries.
_BROADCASTS: list = []


def release_broadcasts() -> None:
    """Unpersist every side channel broadcast this session.  Safe once
    the returned frames are materialized: an executor re-fetches a
    released broadcast from the driver on its next use.  Release at
    stage boundaries (bench.py does this per query, like
    dedup.release_cached)."""
    while _BROADCASTS:
        b = _BROADCASTS.pop()
        try:
            b.unpersist(True)  # positional: a JVM broadcast takes no keywords
        except Exception:
            pass  # context already stopped


def _min_parallel(sdf: DataFrame, min_parallelism: int | None) -> DataFrame:
    if min_parallelism and sdf.rdd.getNumPartitions() < min_parallelism:
        return sdf.repartition(min_parallelism)
    return sdf


def build_partials_grouped(
    df: DataFrame,
    value_col,
    by: Sequence[str],
    delta: float = 100.0,
    scale: str = "K_3",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Map-side-combining stage 1 for GROUPED digests: one JVM
    mapPartitions (`_jvm_kernel`) keeps a map group→digest per input
    partition and emits one digest row per (group, partition).  The raw
    data NEVER shuffles — only (group, KB-digest) partials do — and never
    crosses to Python: each partial is byte-identical to a driver
    `MergingDigest` fed the group's non-NULL, non-NaN values one
    10k-input-row chunk at a time, in row order.  Keys group as in
    GROUP BY: NULL is a group, all NaNs are one, -0.0 joins 0.0.

    State per task is bounded by (#groups seen in this partition) × digest
    size; a hot group is spread across every input split, so skew needs no
    salting.  This is the one stage 1 for every key cardinality: a salted
    raw-row shuffle build lost to it at 12, 23, ~200k and ~1.26M groups
    (BENCH/BASELINE.md).

    Output schema: (*by, `_SALT` = input partition id, digest, n_rows),
    what `merge_partials` consumes.  `by=()` is the ungrouped build: one
    digest row per input partition.

    `min_parallelism` (opt-in): repartition iff the input has fewer
    partitions than this — rescues local runs over few/unsplittable files
    (single-row-group parquet pins the whole build to one task).
    At real scale input splits outnumber cores, so leave it None: the plan
    stays exchange-free.
    """
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sdf = df.select(*keys, value.cast("double").alias(_VALUE))
    sdf = _min_parallel(sdf, min_parallelism)
    return digest_partials(
        sdf, keys, [_VALUE], f"{_SALT} int, {DIGEST_FIELDS}", delta, scale,
        per_column=False,
    )


def build_partials_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    by: Sequence[str] = (),
    delta: float = 100.0,
    scale: str = "K_3",
    min_parallelism: int | None = None,
) -> DataFrame:
    """Shuffle-free multi-column stage 1: ONE scan builds a digest for
    EVERY listed column (one digest row per (by-group, column, input
    partition); ungrouped when `by` is empty).

    The 100 TB profiling shape: a data-quality report over k numeric
    columns (optionally per group) costs one pass over the table instead
    of k — the scan is shared, each row feeds k digests of its group in
    the JVM kernel, and only (groups x k x n_partitions) KB-sized rows
    leave the executors.  A (group, column) with no non-NULL value emits
    no row.  Merge with
    `merge_partials(by=[*by, "col"])`.  Per-task state is
    (#groups seen) x k digests — same bound discipline as
    `build_partials_grouped`."""
    cols = list(value_cols)
    keys = list(by)
    sdf = df.select(*keys, *[F.col(c).cast("double").alias(c) for c in cols])
    sdf = _min_parallel(sdf, min_parallelism)
    return digest_partials(
        sdf, keys, cols, f"col string, {_SALT} int, {DIGEST_FIELDS}", delta,
        scale, per_column=True,
    )


def digest_profile(
    df: DataFrame,
    value_cols: Sequence[str],
    by: Sequence[str] = (),
    delta: float = 100.0,
    scale: str = "K_3",
    min_parallelism: int | None = None,
) -> DataFrame:
    """One-pass digests for every listed column (optionally per group):
    (by..., col, digest, n_rows)."""
    partials = build_partials_multi(
        df, value_cols, by=by, delta=delta, scale=scale,
        min_parallelism=min_parallelism,
    )
    return merge_partials(partials, by=[*by, "col"])


def merge_partials(
    partials: DataFrame,
    by: Sequence[str] = (),
    fanin: int = 64,
    stages: int = 1,
) -> DataFrame:
    """Stage-2 merge: combine digest rows down to one per group.

    One JVM pass (`_jvm_kernel.DigestMerge`, a `groupByKey` on the folded
    key, then `flatMapSortedGroups` by salt): each group's partials merge
    in ascending salt order, byte-identically to `MergingDigest.merge`
    over them, and no row crosses to Python.  Keys group as in GROUP BY:
    NULL is a group, all NaNs are one, -0.0 joins 0.0, binary keys
    compare by content.

    Merge order is canonical (ascending salt) so results are reproducible
    across runs and cluster sizes.  With very high partial counts (e.g.
    100k input splits feeding a global digest), set `stages=2`: a first
    pass merges within `salt % fanin` buckets in parallel — a DataFrame
    rendering of `treeAggregate(depth=2)` — before the final single-group
    pass touches only `fanin` rows.
    """
    keys = list(by)
    cur = partials
    if stages > 1:
        cur = cur.withColumn("__bucket", F.pmod(F.col(_SALT), F.lit(fanin)))
        cur = digest_merge(cur, [*keys, "__bucket"], _SALT, keep_salt=True).drop("__bucket")
    return digest_merge(cur, keys, _SALT, keep_salt=False)


def digest_by(
    df: DataFrame,
    value_col,
    by: Sequence[str] = (),
    delta: float = 100.0,
    scale: str = "K_3",
) -> DataFrame:
    """Convenience: grouped digest build+merge. Returns (by..., digest, n_rows).

    `build_partials_grouped` (zero raw-row shuffle, the 100 TB path), then
    `merge_partials`; `by=()` gives one global digest row."""
    partials = build_partials_grouped(df, value_col, by, delta=delta, scale=scale)
    return merge_partials(partials, by=by)


def digest_of(
    df: DataFrame,
    value_col,
    delta: float = 100.0,
    scale: str = "K_3",
    fanin: int = 64,
    stages: int = 1,
) -> MergingDigest:
    """Whole-column digest, driver-side result. Map-side build per partition
    (no data shuffle), tree merge of KB-sized digest rows."""
    partials = build_partials_grouped(df, value_col, (), delta=delta, scale=scale)
    merged = merge_partials(partials, by=(), fanin=fanin, stages=stages)
    rows = merged.collect()
    if not rows:
        return MergingDigest(delta, scale=get_scale(scale))
    return MergingDigest.from_bytes(bytes(rows[0]["digest"]))


def quantiles_of(
    digests: DataFrame,
    qs: Iterable[float],
    by: Sequence[str] = (),
    value_name: str = "quantile",
) -> DataFrame:
    """Expand a digest table to one row per (group, q) with the estimate.

    Declarative shape: explode a literal q array next to each digest,
    then one JVM UDF (`functions.tdigest_quantile_udf`, the kernel's
    `DigestQuery`) evaluates the digest, parsing each digest once per
    task; no row crosses to Python.  A q outside [0,1] raises ValueError
    here, before any job runs; a NaN q gives NULL."""
    from ..functions import tdigest_quantile_udf

    qs = [_check_q(q) for q in qs]
    out = digests.select(
        *by, "digest", F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    )
    return out.select(
        *by, "q", tdigest_quantile_udf(F.col("digest"), F.col("q")).alias(value_name)
    )


def cdfs_of(
    digests: DataFrame,
    xs: Iterable[float],
    by: Sequence[str] = (),
    value_name: str = "cdf",
) -> DataFrame:
    """Expand a digest table to one row per (group, x) with the cdf
    estimate, as `quantiles_of` does with the JVM
    `functions.tdigest_cdf_udf`.  An infinite x raises ValueError here,
    before any job runs; a NaN x gives NULL."""
    from ..functions import tdigest_cdf_udf

    xs = [_check_x(x) for x in xs]
    out = digests.select(
        *by, "digest", F.explode(F.array(*[F.lit(x) for x in xs])).alias("x")
    )
    return out.select(
        *by, "x", tdigest_cdf_udf(F.col("digest"), F.col("x")).alias(value_name)
    )


def _check_q(q) -> float:
    """`q` as a float, or core.quantile's ValueError for a q outside
    [0,1] (NaN passes: its answer is NULL)."""
    q = float(q)
    if q < 0 or q > 1:
        raise ValueError(f"q should be in [0,1], got {q}")
    return q


def _check_x(x) -> float:
    """`x` as a float, or core.cdf's ValueError for an infinite x (NaN
    passes: its answer is NULL)."""
    x = float(x)
    if math.isinf(x):
        raise ValueError(f"Invalid value: {x}")
    return x


def digest_drift(
    a: DataFrame,
    b: DataFrame,
    xs: Iterable[float],
    by: Sequence[str] = (),
    per_point: bool = False,
) -> DataFrame:
    """Distribution drift between two digest snapshots, computed FROM THE
    SKETCHES ALONE (no raw re-scan): per group, the maximum absolute CDF
    gap max_x |cdf_a(x) - cdf_b(x)| over the probe grid `xs` — a
    discretized two-sample Kolmogorov-Smirnov statistic, the
    crawl-over-crawl monitoring signal a web pipeline alerts on (did this
    month's text-length / latency / quality distribution move?).

    Inputs are digest tables as produced by `digest_by` / `merge_partials`
    (columns: *by, digest) — e.g. this snapshot's and the previous
    snapshot's checkpointed per-lang sketches.  Groups present in only one
    snapshot are dropped (inner join): drift is defined over common keys.
    NULL group keys match null-safely — present in both snapshots, the
    NULL group is monitored like any other.

    Returns (by..., cdf_drift); `per_point=True` instead returns the full
    (by..., x, cdf_a, cdf_b, cdf_gap) grid for plotting/inspection.

    100 TB plan: both inputs are KB-per-group sketch tables, so the join
    and the |xs|-point expansion move kilobytes.  The corpus scans
    happened when the snapshots were BUILT — monitoring drift between
    crawls is then free, which is exactly why the pipeline checkpoints
    sketches rather than raw quantile vectors.

    Reference parity: cdf per reference semantics (TDigest.jl:381-419,
    defect-corrected per SURVEY §2.3); the two-sample statistic itself has
    no reference counterpart (the reference API is single-digest).
    """
    by = list(by)
    xs = list(xs)  # read twice; cdfs_of checks it before any job
    ca = cdfs_of(a, xs, by=by, value_name="cdf_a")
    cb = cdfs_of(b, xs, by=by, value_name="cdf_b")
    # null-SAFE group-key equality: a NULL group key populated in BOTH
    # snapshots is a group like any other (percentile_enrich /
    # quantile_filter semantics) — a name join would silently drop it,
    # indistinguishable from the documented one-sided-group drop
    cbr = cb.select(
        *[F.col(k).alias(f"__b_{k}") for k in by],
        F.col("x").alias("__b_x"),
        "cdf_b",
    )
    cond = F.col("x") == F.col("__b_x")
    for k in by:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__b_{k}"))
    pts = (
        ca.join(cbr, cond, "inner")
        .drop("__b_x", *[f"__b_{k}" for k in by])
        .withColumn("cdf_gap", F.abs(F.col("cdf_a") - F.col("cdf_b")))
    )
    if per_point:
        return pts
    return pts.groupBy(*by).agg(F.max("cdf_gap").alias("cdf_drift"))


def quantile_filter(
    df: DataFrame,
    value_col: str,
    q: float,
    by: Sequence[str] = (),
    delta: float = 100.0,
    scale: str = "K_3",
    keep: str = "ge",
    cutoff_col: str | None = None,
) -> DataFrame:
    """Adaptive quantile gate: keep rows whose `value_col` compares
    `keep`-wise against the PER-GROUP t-digest quantile(q) of that same
    column — the curation pattern "drop the bottom quartile of quality
    per language", where the threshold is data-dependent and group-local
    instead of a hand-tuned global constant.  This is the sketch library
    feeding a pipeline decision, not just a report.

    Plan shape (the 100 TB path): one map-side-combining digest build
    (`digest_by` — raw rows never shuffle, partials are KB), a cutoff
    table of |groups| rows, then a BROADCAST join of the cutoffs back
    onto the corpus with a scan-stage comparison.  The big
    side is scanned exactly twice (build + filter) and shuffled zero
    times.

    `keep`: "ge"/"gt"/"le"/"lt" — which side of the cutoff survives.
    Rows whose group key is NULL join null-safely (NULL is a group like
    any other, matching groupBy semantics); rows whose value is NULL
    never satisfy the comparison and are dropped, like a SQL WHERE.
    Pass `cutoff_col` to retain the threshold that was applied.
    """
    if keep not in ("ge", "gt", "le", "lt"):
        raise ValueError("keep must be one of 'ge', 'gt', 'le', 'lt'")
    q = _check_q(q)
    d = digest_by(df, value_col, by=by, delta=delta, scale=scale)
    cut = cutoff_col or "__qf_cut"
    cuts = quantiles_of(d, [q], by=by, value_name=cut).drop("q")
    if by:
        renamed = cuts.select(
            *[F.col(c).alias(f"__qf_{c}") for c in by], F.col(cut)
        )
        cond = None
        for c in by:
            term = F.col(c).eqNullSafe(F.col(f"__qf_{c}"))
            cond = term if cond is None else (cond & term)
        joined = df.join(F.broadcast(renamed), cond).drop(
            *[f"__qf_{c}" for c in by]
        )
    else:
        joined = df.crossJoin(F.broadcast(cuts))
    v = F.col(value_col).cast("double")
    c = F.col(cut)
    pred = {"ge": v >= c, "gt": v > c, "le": v <= c, "lt": v < c}[keep]
    out = joined.filter(pred)
    return out if cutoff_col else out.drop(cut)


def percentile_enrich(
    df: DataFrame,
    value_col: str,
    by: Sequence[str] = (),
    delta: float = 100.0,
    scale: str = "K_3",
    out_col: str = "percentile",
    digests: DataFrame | None = None,
    max_groups: int = 100_000,
) -> DataFrame:
    """Attach each row's within-group percentile: `out_col` = the
    group digest's cdf evaluated at the row's own `value_col` — the
    per-document scoring move ("this page's length sits at p93 for its
    language") that turns a distribution sketch into a per-row feature
    for downstream filters and samplers.

    Plan shape (the 100 TB path): one map-side-combining digest build
    (KB partials, zero raw-row shuffle), then the digest table — KB per
    group — is collected in the driver JVM and travels to executors as
    a JVM broadcast SIDE CHANNEL into a single JVM UDF over the corpus
    (`_jvm_kernel`'s Janino-compiled cdf scorer).  The corpus is scanned
    exactly twice and shuffled ZERO times, and the digest bytes are
    materialized once per executor, NOT copied per row — deliberately
    not a broadcast join, which would clone the KB digest blob onto
    every joined row (the pq_topk lesson: join-output row-copy moved
    ~100 GB through a 6.4M-row join).  The scorer reads the `by` and
    `value_col` columns (several keys as one struct, the value cast to
    double) and no row crosses to Python.  Each executor parses each
    digest once, on first use, and its scores are bit-identical to
    `MergingDigest.from_bytes(blob).cdf_batch` (tests/test_jvm_kernel.py),
    itself bit-identical to scalar `cdf` (tests/test_core.py).

    Pass `digests` (a `digest_by`/`merge_partials` table with columns
    (*by, digest), one row per group — a duplicated group raises
    ValueError) to score against a FROZEN snapshot — e.g. last
    crawl's checkpointed sketches — instead of rebuilding; rows whose
    group is absent from it get NULL.  Its keys are compared in `df`'s
    key types: an int-keyed table scores a bigint-keyed frame, and a
    table key that the cast would change (1.5 as a bigint) matches no
    row.  In frozen mode the operator is a STATELESS UDF, so it runs
    unchanged on a streaming DataFrame (the monitoring face: score
    arriving rows against last crawl's distribution;
    chunking-invariant — tests/test_streaming.py).
    NULL group keys are groups like any other (groupBy semantics), a
    NaN key is a group distinct from NULL, -0.0 is 0.0 and binary keys
    compare by content.  NULL / non-finite values, and an empty or NULL
    digest, yield NULL.  A digest that would compact on load (more
    centroids than `MergingDigest.to_bytes` ever writes) fails the job.
    An `out_col` already in `df` raises ValueError (in any letter case
    unless spark.sql.caseSensitive is true, as Spark resolves names).

    Reference parity: cdf semantics per TDigest.jl:430-544
    (defect-corrected, SURVEY §2.3); the enrichment shape itself is the
    distribution layer feeding the pipeline, no reference counterpart.
    """
    by = list(by)
    spark = df.sparkSession
    name_key = (
        str if spark.conf.get("spark.sql.caseSensitive").lower() == "true"
        else str.lower
    )
    if name_key(out_col) in {name_key(c) for c in df.columns}:
        raise ValueError(
            f"percentile_enrich: out_col {out_col!r} is already a column of "
            "df; a second column of that name would make it ambiguous"
        )
    if digests is None:
        digests = digest_by(df, value_col, by=by, delta=delta, scale=scale)
    # cardinality-explosive `by` guard (the heavy_hitters philosophy):
    # the side channel is for distribution-like keys (lang, source,
    # day — up to ~10^5 KB-sized digests); limit() caps what the driver
    # ever pulls, so a groupBy-user_id mistake raises instead of OOMing.
    # The rows stay in the driver JVM: the scorer reads them there.
    rows = collect_rows(_keys_typed_as(digests, df, by), max_groups + 1)
    if len(rows) > max_groups:
        raise ValueError(
            f"percentile_enrich: more than max_groups={max_groups} groups; "
            "a digest side channel this large should not broadcast — "
            "reduce the key cardinality or raise max_groups deliberately"
        )
    scorer, bc = cdf_scorer(spark, rows, len(by))
    _BROADCASTS.append(bc)
    dup = scorer.duplicate()
    if dup >= 0:
        # NaN keys fold first, so two NaN rows are one key here too
        key = key_tuple(
            bytes(v) if isinstance(v, bytearray) else v
            for v in (rows[dup].get(i) for i in range(len(by)))
        )
        raise ValueError(
            f"percentile_enrich: digests has more than one row for group "
            f"{key!r}; merge partials to one digest per group first"
        )
    keys = [F.struct(*by)] if len(by) > 1 else [F.col(k) for k in by]
    score = apply_udf(spark, scorer.udf(), [*keys, F.col(value_col).cast("double")])
    return df.select("*", score.alias(out_col))


def _keys_typed_as(digests: DataFrame, df: DataFrame, by: list) -> DataFrame:
    """(*by, digest) of `digests`, each key cast to its type in `df`, so
    the scorer compares keys as `df` holds them.  A row whose key does not
    survive the cast (1.5 as a bigint) names no group of `df`: dropped."""
    cols = []
    for want, have in zip(df.select(*by).schema, digests.select(*by).schema):
        c = F.col(have.name)
        if want.dataType != have.dataType:
            cast = c.try_cast(want.dataType)
            digests = digests.filter(cast.try_cast(have.dataType).eqNullSafe(c))
            c = cast
        cols.append(c.alias(want.name))
    return digests.select(*cols, "digest")
