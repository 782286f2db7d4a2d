"""Seeded page-stats input family and its exact reference answers.

One table shape, `(url, lang, host, month, text_len, html_len)`, drawn
with the distributions of `tdigest_spark.sources.webpages`: a Zipf-skewed
language mix with en ~60%, and a lognormal document length with median
~800 chars clipped to [80, 60000].  Hosts are Zipf-sized.  The
parameters are copied here rather than imported so that a change to the
library can never change the benchmark's inputs.

Everything is a pure function of `(seed, n_rows, n_hosts)`: the same
seed gives byte-identical parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["en", "ru", "de", "zh", "es", "fr", "ja", "pt", "it", "nl", "pl", "tr"]
_LANG_WEIGHTS = np.array([60, 9, 7, 6, 5, 4, 3, 2, 1.5, 1, 0.8, 0.7])
_HOST_ZIPF_S = 1.1
MONTHS = 12
# group stride when (group, value) pairs share one sorted float64 axis
_SPAN = 1e6


def _exact_counts(weights: np.ndarray, n: int) -> np.ndarray:
    """Split n rows in proportion to weights, summing exactly to n."""
    counts = np.floor(weights / weights.sum() * n).astype(np.int64)
    counts[: n - counts.sum()] += 1
    return counts


def synthesize(seed: int, n_rows: int, n_hosts: int) -> pa.Table:
    """The seed draws the values, the row order and the host names; the
    group sizes are exact shares of n_rows, so every seed gives the
    workloads the same shape of work."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(n_rows)
    lang_idx = np.repeat(np.arange(len(LANGS)), _exact_counts(_LANG_WEIGHTS, n_rows))[order]
    # Zipf-sized hosts, each host's rows dealt round-robin over the months
    host_counts = _exact_counts(1.0 / np.arange(1, n_hosts + 1) ** _HOST_ZIPF_S, n_rows)
    host_rank = np.repeat(np.arange(n_hosts), host_counts)
    within = np.arange(n_rows) - np.repeat(np.cumsum(host_counts) - host_counts, host_counts)
    month = (within % MONTHS + 1).astype(np.int32)[order]
    host_id = rng.permutation(n_hosts)[host_rank][order]
    text_len = np.clip(np.exp(6.6 + 0.9 * rng.standard_normal(n_rows)), 80, 60_000)
    text_len = text_len.astype(np.int64)
    html_len = text_len + 64 + rng.integers(0, 2048, size=n_rows)

    lang = pa.DictionaryArray.from_arrays(
        pa.array(lang_idx, pa.int32()), pa.array(LANGS)
    ).cast(pa.string())
    host = pc.binary_join_element_wise(
        "h", pc.cast(pa.array(host_id), pa.string()), ".example", ""
    )
    url = pc.binary_join_element_wise(
        "https://", host, "/p/", pc.cast(pa.array(np.arange(n_rows)), pa.string()), ""
    )
    return pa.table(
        {
            "url": url,
            "lang": lang,
            "host": host,
            "month": pa.array(month),
            "text_len": pa.array(text_len),
            "html_len": pa.array(html_len),
        }
    )


def write_parquet(table: pa.Table, path: str, n_files: int) -> int:
    """Write `table` as `n_files` parquet files; returns total bytes."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    total = 0
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        total += os.path.getsize(f)
    return total


def warm_page_cache(path: str) -> None:
    """Read every file once so timed scans do not wait on the disk."""
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            while fh.read(1 << 22):
                pass


@dataclass
class Reference:
    """Exact per-group answers: group key -> (sorted values, rows)."""

    keys: list
    index: dict
    starts: np.ndarray
    counts: np.ndarray
    sorted_values: np.ndarray  # values sorted by (group, value)
    row_gid: np.ndarray  # each input row's group, in table order

    def rank_errors(self, gids: np.ndarray, qs: np.ndarray, xs: np.ndarray) -> np.ndarray:
        """Distance from each q to the exact rank interval of its estimate
        x in group g, less the 1/n a correct answer may sit off by in a
        group of n discrete samples (so an exact answer scores 0)."""
        gids = np.asarray(gids, dtype=np.int64)
        keyed = gids * _SPAN + np.asarray(xs, dtype=np.float64)
        lo = np.searchsorted(self._keyed, keyed, side="left") - self.starts[gids]
        hi = np.searchsorted(self._keyed, keyed, side="right") - self.starts[gids]
        n = self.counts[gids]
        err = np.maximum(np.maximum(lo / n - qs, qs - hi / n), 0.0)
        return np.maximum(err - 1.0 / n, 0.0)

    def __post_init__(self) -> None:
        gid = np.repeat(np.arange(len(self.keys)), self.counts)
        self._keyed = gid * _SPAN + self.sorted_values


def reference(table: pa.Table, by: list[str], value: str) -> Reference:
    """Group the table by `by` and sort each group's values once."""
    combo = np.zeros(table.num_rows, dtype=np.int64)
    levels = []
    for k in by:
        enc = pc.dictionary_encode(table.column(k)).combine_chunks()
        lv = np.array(enc.dictionary.to_pylist(), dtype=object)
        combo = combo * len(lv) + enc.indices.to_numpy().astype(np.int64)
        levels.append(lv)
    ucombo, gid = np.unique(combo, return_inverse=True)
    parts = []
    for lv in reversed(levels):
        parts.append(lv[ucombo % len(lv)])
        ucombo = ucombo // len(lv)
    keys = list(zip(*reversed(parts)))
    vals = table.column(value).to_numpy().astype(np.float64)
    order = np.lexsort((vals, gid))
    counts = np.bincount(gid, minlength=len(keys))
    return Reference(
        keys=keys,
        index={k: i for i, k in enumerate(keys)},
        starts=np.concatenate(([0], np.cumsum(counts)[:-1])),
        counts=counts,
        sorted_values=vals[order],
        row_gid=gid,
    )
