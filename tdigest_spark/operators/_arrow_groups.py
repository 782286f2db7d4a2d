"""Group -> sketch builds and merges over Arrow: ``mapInArrow`` map-side,
``groupBy().applyInArrow`` for keyed reduces.

Stage 1 of every Python-built mergeable sketch (log-histogram, KLL,
Frequent Directions, Misra-Gries heavy-hitter candidates) has one shape:
each input partition keeps a dict group -> sketch, feeds it every Arrow
batch split by group, and emits one partial row per (group, partition).
Only those KB-sized partials shuffle; raw rows never do.  This module is
that shape, once.  The t-digest does not use it: its build and merge are
the JVM kernel's (``_jvm_kernel.DigestPartials`` and ``DigestMerge``);
`merged` stays the reference its merge is checked against.

The split stays in Arrow: ``dictionary_encode`` per key column (NULL is a
dictionary entry, so it is a group like any other and the same Python key
on every batch), mixed-radix codes across key columns, then a STABLE
argsort.  Each group's rows reach its sketch in input order, so sketches
are byte-identical to a row-ordered feed.  Keys stay typed from input to
output: an int64 key above 2**53 next to a NULL never passes through
float64 (pandas would round it), and the partition id comes from
``TaskContext`` rather than a shipped column.

Stage 2 is a keyed reduce: `reduce_groups` hands each group's rows to a
function as one Arrow table and slices the output row's key values from
that table, so a reduced key never passes through a Python or pandas
value either (NaN stays NaN, NULL stays NULL).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

#: every NaN key is this one object, so NaN groups hit the state dict by
#: identity on every batch (nan != nan would open a new group per batch)
_NAN = float("nan")


def key_tuple(values: Iterable) -> tuple:
    """`values` as the key tuple `split_groups` yields: NaN is `_NAN`.

    Fold keys that crossed a pickle (a broadcast, say) on the worker:
    unpickling makes each NaN a new object, and a closure that names
    `_NAN` itself is pickled with its own copy."""
    return tuple(_NAN if v != v else v for v in values)


def _key_codes(col: pa.Array) -> tuple[np.ndarray, list]:
    """Dictionary codes of one key column and the Python key per code."""
    floating = pa.types.is_floating(col.type)
    if floating:
        col = pc.add(col, 0.0)  # -0.0 -> 0.0: one group, as in GROUP BY
    enc = pc.dictionary_encode(col, null_encoding="encode")
    keys = enc.dictionary.to_pylist()
    if floating:
        keys = list(key_tuple(keys))
    return enc.indices.to_numpy().astype(np.int64), keys


def split_groups(
    keys: Sequence[pa.Array], n: int
) -> Iterator[tuple[tuple, np.ndarray]]:
    """(key tuple, ascending row indices) for each group of `n` rows keyed
    by the arrays `keys`."""
    if not keys:
        yield (), np.arange(n)
        return
    codes = np.zeros(n, dtype=np.int64)
    radix = 1
    cols = []
    for k in keys:
        idx, vals = _key_codes(k)
        if radix * len(vals) >= 1 << 62:  # re-densify before overflow
            _, codes = np.unique(codes, return_inverse=True)
            radix = int(codes.max()) + 1
        codes = codes * len(vals) + idx
        radix *= len(vals)
        cols.append((idx, vals))
    if radix <= 1 << 16:  # NumPy radix-sorts 16-bit keys
        codes = codes.astype(np.uint16)
    order = np.argsort(codes, kind="stable")
    ordered = codes[order]
    cuts = np.flatnonzero(ordered[1:] != ordered[:-1]) + 1
    for rows in np.split(order, cuts):
        yield tuple(vals[idx[rows[0]]] for idx, vals in cols), rows


def _out_schema(sdf: DataFrame, keys: list, fields: str):
    """(Spark, Arrow) schema of the `keys` columns as typed in `sdf`, then
    `fields` (DDL)."""
    key_ddl = [f"`{k}` {sdf.schema[k].dataType.simpleString()}" for k in keys]
    schema = _parse_datatype_string(", ".join([*key_ddl, fields]))
    return schema, to_arrow_schema(schema)


def map_groups(
    sdf: DataFrame,
    keys: Sequence[str],
    fields: str,
    prepare: Callable[[pa.RecordBatch], Any],
    feed: Callable[[Any, Any, np.ndarray], Any],
    emit: Callable[[Any, int], Iterable[tuple]],
) -> DataFrame:
    """One mapInArrow over `sdf` building a state per (group, partition).

    Per non-empty Arrow batch: `prepare(batch)` once, then for each group
    `state = feed(state, prepared, rows)` with the group's ascending row
    indices (`state` is None on the group's first rows).  After the
    partition's last batch each group emits the rows `emit(state,
    partition_id)`, each prefixed by the group's key values.  Output
    schema: the `keys` columns as typed in `sdf`, then `fields` (DDL)."""
    keys = list(keys)
    schema, arrow_schema = _out_schema(sdf, keys, fields)

    def group_build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        states: dict[tuple, Any] = {}
        for batch in batches:
            if not batch.num_rows:
                continue
            data = prepare(batch)
            key_cols = [batch.column(k) for k in keys]
            for key, rows in split_groups(key_cols, batch.num_rows):
                states[key] = feed(states.get(key), data, rows)
        pid = TaskContext.get().partitionId()
        out = [(*k, *row) for k, s in states.items() for row in emit(s, pid)]
        if out:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(zip(*out), arrow_schema)],
                schema=arrow_schema,
            )

    return sdf.mapInArrow(group_build, schema)


class Counted:
    """A sketch plus the number of values fed to it (a partial's n_rows)."""

    __slots__ = ("sketch", "n")

    def __init__(self, sketch):
        self.sketch, self.n = sketch, 0

    def add(self, values: np.ndarray) -> "Counted":
        if values.size:
            self.sketch.add(values)
            self.n += int(values.size)
        return self


def floats(col: pa.Array) -> np.ndarray:
    """A numeric Arrow column as float64, NULL -> NaN."""
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.float64)


def map_sketches(
    sdf: DataFrame,
    keys: Sequence[str],
    values: Callable[[pa.RecordBatch], np.ndarray],
    new: Callable[[], Any],
    fields: str,
    emit: Callable[[Any, int, int], tuple],
    keep: Callable[[np.ndarray], np.ndarray] = lambda v: ~np.isnan(v),
) -> DataFrame:
    """`map_groups` for a sketch fed one float64 value per row.

    `values(batch)` gives the batch's values (NaN = missing); a group's
    values where `keep` holds go to `new()`'s `add` in row order, and the
    group emits the single row `emit(sketch, n_rows, partition_id)`."""

    def feed(state: Counted | None, vals: np.ndarray, rows: np.ndarray):
        v = vals[rows]
        return (state or Counted(new())).add(v[keep(v)])

    return map_groups(
        sdf, keys, fields, values, feed,
        emit=lambda s, pid: [emit(s.sketch, s.n, pid)],
    )


def reduce_groups(
    sdf: DataFrame,
    keys: Sequence[str],
    fields: str,
    reduce: Callable[[pa.Table], tuple],
) -> DataFrame:
    """groupBy(keys).applyInArrow emitting one row per group.

    `reduce(table)` gets the group's rows as one Arrow table and returns
    the row's `fields` values; the key values are sliced from the table,
    typed as in `sdf`.  Output schema: the `keys` columns, then `fields`
    (DDL)."""
    keys = list(keys)
    schema, arrow_schema = _out_schema(sdf, keys, fields)
    out_fields = list(arrow_schema)
    key_fields, value_fields = out_fields[: len(keys)], out_fields[len(keys) :]

    def group_reduce(table: pa.Table) -> pa.Table:
        cols = [table.column(f.name).slice(0, 1).cast(f.type) for f in key_fields]
        cols += [pa.array([v], type=f.type) for v, f in zip(reduce(table), value_fields)]
        return pa.Table.from_arrays(cols, schema=arrow_schema)

    return sdf.groupBy(*keys).applyInArrow(group_reduce, schema)


def merged(table: pa.Table, blob: str, order: str, load: Callable[[bytes], Any]):
    """The serialized sketches in column `blob`, loaded and merged in
    ascending `order` (stable, so re-runs merge byte-identically)."""
    blobs = table.sort_by(order).column(blob).to_pylist()
    out = load(blobs[0])
    for b in blobs[1:]:
        out.merge(load(b))
    return out
