"""Scalar SQL surface: vectorized pandas UDFs over serialized digest columns.

Registered names (all take a BinaryType digest produced by
operators.digest.build/merge):

- tdigest_quantile(digest, q)          -> double
- tdigest_cdf(digest, x)               -> double
- tdigest_trimmed_mean(digest, q1, q2) -> double
- tdigest_total_weight(digest)         -> double
- tdigest_min(digest) / tdigest_max(digest) -> double
- tdigest_centroid_count(digest)       -> int

Digests are ~8·delta bytes, so deserialization cost per row is trivial;
the UDFs are Arrow-batched (one Python call per ~10k digest rows).
A per-batch cache avoids re-deserializing when the same digest appears
with many q values (the quantiles_of explode pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, IntegerType

from ..core import MergingDigest
from ..scale import get_scale


def make_tdigest_agg(delta: float = 100.0, scale: str = "K_3"):
    """Grouped-aggregate pandas UDF: `groupBy(...).agg(tdigest_agg(col))`
    or, registered, a SQL aggregate: `SELECT k, tdigest_agg(v) GROUP BY k`.

    Convenience surface ONLY: Spark grouped-agg Python UDFs do no map-side
    combine, so the raw rows shuffle to the reducer.  The 100 TB path is
    operators.digest.digest_by: build_partials_grouped (no raw-row
    shuffle) then merge_partials (KB-sized shuffle).
    """
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def tdigest_agg(v: pd.Series) -> bytes:
        d = MergingDigest(delta, scale=get_scale(scale))
        vals = v.to_numpy(dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        if vals.size:
            d.add(vals)
        return d.to_bytes()

    return tdigest_agg


tdigest_agg_udf = make_tdigest_agg()


def _digest_cache(blobs: pd.Series) -> dict:
    cache: dict[bytes, MergingDigest] = {}
    for b in blobs:
        if b is not None:
            bb = bytes(b)
            if bb not in cache:
                cache[bb] = MergingDigest.from_bytes(bb)
    return cache


def _apply2(blobs: pd.Series, args: pd.Series, fn) -> pd.Series:
    cache = _digest_cache(blobs)
    out = np.full(len(blobs), np.nan)
    for i, (b, a) in enumerate(zip(blobs, args)):
        if b is not None and a == a:
            out[i] = fn(cache[bytes(b)], float(a))
    return pd.Series(out)


@pandas_udf(DoubleType())
def tdigest_quantile_udf(digest: pd.Series, q: pd.Series) -> pd.Series:
    return _apply2(digest, q, lambda d, v: d.quantile(v))


@pandas_udf(DoubleType())
def tdigest_cdf_udf(digest: pd.Series, x: pd.Series) -> pd.Series:
    return _apply2(digest, x, lambda d, v: d.cdf(v))


@pandas_udf(DoubleType())
def tdigest_trimmed_mean_udf(
    digest: pd.Series, q1: pd.Series, q2: pd.Series
) -> pd.Series:
    cache = _digest_cache(digest)
    out = np.full(len(digest), np.nan)
    for i, (b, a, c) in enumerate(zip(digest, q1, q2)):
        # NULL q1/q2 arrive as NaN: yield NULL like the sibling UDFs
        # (_apply2's a == a skip) — trimmed_mean(nan, nan) would raise
        # and abort the whole job
        if b is not None and a == a and c == c:
            out[i] = cache[bytes(b)].trimmed_mean(float(a), float(c))
    return pd.Series(out)


@pandas_udf(DoubleType())
def tdigest_total_weight_udf(digest: pd.Series) -> pd.Series:
    cache = _digest_cache(digest)
    return pd.Series(
        [cache[bytes(b)].total_weight if b is not None else np.nan for b in digest]
    )


@pandas_udf(DoubleType())
def tdigest_min_udf(digest: pd.Series) -> pd.Series:
    cache = _digest_cache(digest)
    return pd.Series(
        [cache[bytes(b)].minimum() if b is not None else np.nan for b in digest]
    )


@pandas_udf(DoubleType())
def tdigest_max_udf(digest: pd.Series) -> pd.Series:
    cache = _digest_cache(digest)
    return pd.Series(
        [cache[bytes(b)].maximum() if b is not None else np.nan for b in digest]
    )


@pandas_udf(IntegerType())
def tdigest_centroid_count_udf(digest: pd.Series) -> pd.Series:
    cache = _digest_cache(digest)
    return pd.Series(
        [len(cache[bytes(b)]) if b is not None else -1 for b in digest]
    ).astype("int32")


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the digest query surface to spark.sql(...)."""
    spark.udf.register("tdigest_agg", tdigest_agg_udf)
    spark.udf.register("tdigest_quantile", tdigest_quantile_udf)
    spark.udf.register("tdigest_cdf", tdigest_cdf_udf)
    spark.udf.register("tdigest_trimmed_mean", tdigest_trimmed_mean_udf)
    spark.udf.register("tdigest_total_weight", tdigest_total_weight_udf)
    spark.udf.register("tdigest_min", tdigest_min_udf)
    spark.udf.register("tdigest_max", tdigest_max_udf)
    spark.udf.register("tdigest_centroid_count", tdigest_centroid_count_udf)


@pandas_udf(DoubleType())
def hll_estimate_udf(registers: pd.Series) -> pd.Series:
    """HLL estimate from a register array — SQL twin of
    sketches.hll_estimate_col (same constants/branches)."""
    import numpy as np

    from ..streaming import _hll_estimate_np

    return registers.map(
        lambda r: _hll_estimate_np(np.asarray(r, dtype=np.uint8))
    )


@pandas_udf(DoubleType())
def kmv_estimate_udf(kmv: pd.Series, k: pd.Series) -> pd.Series:
    """KMV distinct estimate — SQL twin of sketches.kmv_estimate_col
    (no prefilter form): stored size under capacity, (k-1)/u_k at it."""
    def est(args):
        sketch, kk = args
        kk = int(kk)
        if len(sketch) < kk:
            return float(len(sketch))
        u_k = (int(sketch[kk - 1], 16) + 1) / float(16**15)
        return (kk - 1) / u_k

    return pd.Series([est(a) for a in zip(kmv, k)], dtype="float64")


def register_sketch_sql_functions(spark: SparkSession) -> None:
    """Register the companion-sketch QUERY surface for SQL-first users:
    `kll_quantile(kll, 0.99d)`, `kll_stored_weight(kll)`,
    `hll_estimate(registers)`, `kmv_estimate(kmv, 256)`.

    Sketch CONSTRUCTION needs no registration — the states are built
    with plain built-in aggregates (sketches.py / kll.py), so any SQL
    pipeline that can call those builders' column expressions already
    produces them."""
    from ..kll import kll_quantile_udf, kll_stored_weight_udf

    spark.udf.register("kll_quantile", kll_quantile_udf())
    spark.udf.register("kll_stored_weight", kll_stored_weight_udf())
    spark.udf.register("hll_estimate", hll_estimate_udf)
    spark.udf.register("kmv_estimate", kmv_estimate_udf)
