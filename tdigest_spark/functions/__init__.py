"""SQL surface: the query side of every sketch, as UDFs over serialized
sketch columns.

Registered by `register_sql_functions` (each `digest` is a BinaryType
digest produced by operators.digest.digest_by / merge_partials or by
tdigest_agg):

- tdigest_agg(v)                       -> binary (aggregate)
- tdigest_quantile(digest, q)          -> double
- tdigest_cdf(digest, x)               -> double
- tdigest_trimmed_mean(digest, q1, q2) -> double
- tdigest_total_weight(digest)         -> double
- tdigest_min(digest) / tdigest_max(digest) -> double
- tdigest_centroid_count(digest)       -> int

Registered by `register_sketch_sql_functions`:

- kll_quantile(kll, q)                 -> double
- kll_stored_weight(kll)               -> long
- hll_estimate(registers)              -> double
- kmv_estimate(kmv, k)                 -> double

NULL in -> NULL out: a NULL sketch or a NULL/NaN argument gives NULL,
and so does a NaN result (the quantile of an empty digest, say).

tdigest_quantile and tdigest_cdf run in the JVM: they are the kernel's
`DigestQuery` (`operators._jvm_kernel`), bit-identical to
`MergingDigest.from_bytes(digest).quantile(q)` / `.cdf(x)`, parsing each
distinct digest once per task, and they start no Python worker.  A q
outside [0,1] or an infinite x fails the job with the core's message.
`tdigest_quantile_udf` and `tdigest_cdf_udf` build their columns on the
active session.

Every other query function is one `_sketch_udf`: a scalar Arrow UDF
(one Python call per ~10k-row Arrow batch) that loads each distinct
sketch once per batch, so a sketch seen with many arguments is
deserialized once.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    BinaryType, DataType, DoubleType, IntegerType, LongType,
)

from ..core import MergingDigest
from ..kll import KLL
from ..operators import _jvm_kernel
from ..operators._arrow_groups import floats
from ..scale import get_scale
from ..sketches import hll_estimate_np, kmv_estimate_py


def make_tdigest_agg(delta: float = 100.0, scale: str = "K_3"):
    """Grouped-aggregate Arrow UDF: `groupBy(...).agg(tdigest_agg(col))`
    or, registered, a SQL aggregate: `SELECT k, tdigest_agg(v) GROUP BY k`.
    NULL and NaN values are skipped; a group without values gets an
    empty digest.

    Convenience surface ONLY: Spark grouped-agg Python UDFs do no map-side
    combine, so the raw rows shuffle to the reducer.  The 100 TB path is
    operators.digest.digest_by: build_partials_grouped (no raw-row
    shuffle) then merge_partials (KB-sized shuffle).
    """

    def tdigest_agg(v: pa.Array) -> bytes:
        d = MergingDigest(delta, scale=get_scale(scale))
        vals = floats(v)
        vals = vals[~np.isnan(vals)]
        if vals.size:
            d.add(vals)
        return d.to_bytes()

    return F.arrow_udf(tdigest_agg, BinaryType())


tdigest_agg_udf = make_tdigest_agg()


def _sketch_udf(
    load: Callable[[Any], Any],
    query: Callable[..., Any],
    return_type: DataType,
):
    """Scalar Arrow UDF over (sketch, *args): per row,
    `query(load(sketch), *args)` with each numeric argument as a Python
    float.  Each distinct sketch value is loaded once per Arrow batch.
    A NULL sketch or a NULL/NaN argument gives NULL without calling
    `query`; a NaN result goes out as NULL."""
    arrow_type = to_arrow_type(return_type)

    def run(sketches: pa.Array, *args: pa.Array) -> pa.Array:
        cols = [floats(a).tolist() for a in args]
        loaded: dict = {}
        out = []
        for i, s in enumerate(sketches.to_pylist()):
            xs = [c[i] for c in cols]
            if s is None or any(x != x for x in xs):
                out.append(None)
                continue
            key = s if isinstance(s, bytes) else tuple(s)  # array sketches
            if key not in loaded:
                loaded[key] = load(s)
            out.append(query(loaded[key], *xs))
        return pa.array(out, type=arrow_type, from_pandas=True)

    return F.arrow_udf(run, return_type)


def _digest_query(cdf: bool, digest, arg) -> Column:
    spark = SparkSession.active()
    cols = [F.col(c) if isinstance(c, str) else c for c in (digest, arg)]
    return _jvm_kernel.apply_udf(spark, _jvm_kernel.digest_query(spark, cdf).udf(), cols)


def tdigest_quantile_udf(digest, q) -> Column:
    """tdigest_quantile(digest, q) as a column (see the module docstring)."""
    return _digest_query(False, digest, q)


def tdigest_cdf_udf(digest, x) -> Column:
    """tdigest_cdf(digest, x) as a column (see the module docstring)."""
    return _digest_query(True, digest, x)


def _register_query(spark: SparkSession, cdf: bool) -> None:
    """Register a `DigestQuery` under its SQL name, through the Java
    overload the kernel picks (py4j would pick an untyped Scala one)."""
    _jvm_kernel.digest_query(spark, cdf).register(spark._jsparkSession.udf())


_load_digest = MergingDigest.from_bytes
tdigest_trimmed_mean_udf = _sketch_udf(
    _load_digest, MergingDigest.trimmed_mean, DoubleType()
)
tdigest_total_weight_udf = _sketch_udf(
    _load_digest, lambda d: d.total_weight, DoubleType()
)
tdigest_min_udf = _sketch_udf(_load_digest, MergingDigest.minimum, DoubleType())
tdigest_max_udf = _sketch_udf(_load_digest, MergingDigest.maximum, DoubleType())
tdigest_centroid_count_udf = _sketch_udf(_load_digest, len, IntegerType())

kll_quantile_udf = _sketch_udf(KLL.from_bytes, KLL.quantile, DoubleType())
#: sum of level weights inside the sketch — equals n exactly (the
#: odd-compaction leftover rule conserves weight), which makes weight
#: conservation a driver-gateable integer
kll_stored_weight_udf = _sketch_udf(
    KLL.from_bytes, lambda s: int(s.stored_weight), LongType()
)
#: HLL estimate from a register array — SQL twin of sketches.hll_estimate_col
hll_estimate_udf = _sketch_udf(
    lambda r: np.asarray(r, dtype=np.uint8), hll_estimate_np, DoubleType()
)
#: KMV distinct estimate — SQL twin of sketches.kmv_estimate_col (no
#: prefilter form)
kmv_estimate_udf = _sketch_udf(tuple, kmv_estimate_py, DoubleType())


def register_sql_functions(spark: SparkSession) -> None:
    """Expose the digest query surface to spark.sql(...)."""
    spark.udf.register("tdigest_agg", tdigest_agg_udf)
    _register_query(spark, cdf=False)  # tdigest_quantile
    _register_query(spark, cdf=True)  # tdigest_cdf
    spark.udf.register("tdigest_trimmed_mean", tdigest_trimmed_mean_udf)
    spark.udf.register("tdigest_total_weight", tdigest_total_weight_udf)
    spark.udf.register("tdigest_min", tdigest_min_udf)
    spark.udf.register("tdigest_max", tdigest_max_udf)
    spark.udf.register("tdigest_centroid_count", tdigest_centroid_count_udf)


def register_sketch_sql_functions(spark: SparkSession) -> None:
    """Register the companion-sketch QUERY surface for SQL-first users:
    `kll_quantile(kll, 0.99d)`, `kll_stored_weight(kll)`,
    `hll_estimate(registers)`, `kmv_estimate(kmv, 256)`.

    Sketch CONSTRUCTION needs no registration — the states are built
    with plain built-in aggregates (sketches.py / kll.py), so any SQL
    pipeline that can call those builders' column expressions already
    produces them."""
    spark.udf.register("kll_quantile", kll_quantile_udf)
    spark.udf.register("kll_stored_weight", kll_stored_weight_udf)
    spark.udf.register("hll_estimate", hll_estimate_udf)
    spark.udf.register("kmv_estimate", kmv_estimate_udf)
