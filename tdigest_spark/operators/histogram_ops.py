"""Distributed LogHistogram aggregation.

Histogram merge is element-wise addition of conformal count vectors
(LogHistogram.jl:92-122) — fully expressible with built-in Spark
operators, no Python on the merge path:

    stage 1: one mapInArrow builds a count vector per (group, input
             partition) through the Arrow grouping kernel
    stage 2: posexplode → groupBy(keys, pos).sum → re-assemble with
             sort_array(collect_list(struct(pos, cnt)))  — all JVM-side

At 100 TB the stage-2 shuffle carries (groups × bins) longs, independent
of row count.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..histogram import LogHistogram
from ._arrow_groups import floats, map_sketches

_VALUE = "__lh_value"


def histogram_by(
    df: DataFrame,
    value_col,
    min_value: float,
    max_value: float,
    by: Sequence[str] = (),
    epsilon: float = 0.1,
) -> DataFrame:
    """Grouped log-histogram: returns (by..., counts array<long>, n_rows)."""
    keys = list(by)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sdf = df.select(*[F.col(k) for k in keys], value.cast("double").alias(_VALUE))

    # stage 1: per (group, input-partition) count vectors — narrow (no
    # shuffle of the raw rows), skew-immune (a hot group is spread across
    # every input split), bounded state (groups x n_bins longs).  NULL
    # group keys are groups (SQL GROUP BY); NULL/NaN/non-positive values
    # are skipped (`v > 0` is False for NaN).
    partials = map_sketches(
        sdf, keys, lambda b: floats(b.column(_VALUE)),
        new=lambda: LogHistogram(min_value, max_value, epsilon),
        fields="counts array<bigint>, n_rows bigint",
        emit=lambda h, n, pid: (h.counts.tolist(), n),
        keep=lambda v: v > 0,
    )

    # stage 2: JVM-side vector sum via posexplode + re-assembly.  n_rows
    # is counted exactly once per partial (at pos 0) — summing the
    # replicated column and dividing by n_bins would go through a double
    # and lose exactness past 2^53 total weight
    exploded = partials.select(
        *keys,
        F.col("n_rows"),
        F.posexplode("counts").alias("pos", "cnt"),
    ).select(
        *keys,
        F.when(F.col("pos") == 0, F.col("n_rows")).otherwise(F.lit(0)).alias("__nr1"),
        "pos",
        "cnt",
    )
    summed = exploded.groupBy(*keys, "pos").agg(
        F.sum("cnt").alias("cnt"), F.sum("__nr1").alias("nr")
    )
    out = summed.groupBy(*keys).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "cnt"))), lambda s: s["cnt"]
        ).alias("counts"),
        F.sum("nr").cast("bigint").alias("n_rows"),
    )
    return out
