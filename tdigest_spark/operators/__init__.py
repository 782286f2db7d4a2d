"""Distributed operators: digest aggregation, histograms, dedup,
similarity search, text analysis, multimodal plumbing."""

from .digest import (
    cdfs_of,
    digest_by,
    digest_drift,
    digest_of,
    merge_partials,
    percentile_enrich,
    quantiles_of,
)
from .histogram_ops import histogram_by

__all__ = [
    "cdfs_of",
    "digest_by",
    "digest_drift",
    "digest_of",
    "merge_partials",
    "percentile_enrich",
    "quantiles_of",
    "histogram_by",
]
