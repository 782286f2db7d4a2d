"""tdigest_spark: a PySpark-native distributed t-digest / mergeable-sketch
analytics library.

Built from scratch against the behavioral spec of tdunning/TDigest (the
merging t-digest with K_0..K_3 scale functions, plus log-spaced histograms),
re-expressed Spark-first: digests are built per partition/group inside
the executor JVM (a Janino-compiled kernel, byte-identical to
core.MergingDigest), merged associatively, and queried through
registered SQL functions — no per-row Python anywhere.

Public surface:
- core.MergingDigest / histogram.LogHistogram / kll.KLL: NumPy sketch algebra
- sketches: HLL, Count-Min, Bloom, KMV/theta set algebra, exact heavy
  hitters — all-JVM mergeable aggregations
- fd: Frequent-Directions matrix sketch over embedding columns
  (mergeable low-rank second-moment sketch) + exact distributed Gram
- operators.tokenizer: distributed BPE tokenizer training/encoding over
  the word-frequency table (corpus text read exactly once)
- operators.digest: build/merge/query digests over DataFrames, incl.
  one-pass multi-column profiling (digest_profile)
- functions: registered SQL UDFs (tdigest_quantile, kll_quantile,
  hll_estimate, kmv_estimate, ...)
- operators.dedup / similarity / text / multimodal: web-corpus pipeline
  operators (MinHash-LSH / SimHash / embedding / perceptual-hash /
  SemDeDup semantic dedup, span + line dedup, benchmark
  decontamination, crawl snapshot diff, ANN — brute force, multi-probe
  LSH, IVF, PQ/IVFPQ with residual quantization — JL random projection,
  quality + repetition signals, language-ID, fingerprints, PII
  redaction, chunking)
- operators.scoring: model-based quality scoring (CCNet-style bigram-LM
  NLL, fastText-style hashed-feature linear classifier, DSIR
  importance weights + Gumbel top-k selection)
- operators.joins: as-of join (grouped + bucketed global) and range join
- operators.sampling: deterministic content-keyed samples,
  train/val/test splits, host quotas, mixture/epoch sampling,
  token-budget freeze, sequence packing
- streaming: stateful digests, event-time windowed digests + HLL,
  session-window stats, streaming exact dedup, incremental near-dedup
  + semantic dedup vs standing indexes (with index compaction)
- sources.webpages: deterministic Common-Crawl-style table synthesis
- sources.bucketed / sources.manifest: pre-shuffled bucketed tables and
  observed writes (one-scan data-quality manifests)
- checkpoint: resumable per-split digest builds with lineage
"""

# first: every Python worker that unpickles a library function imports
# this package, and later tasks in that worker skip the zip re-reads
from . import _zipcache  # noqa: F401
from .core import MergingDigest, merge_all
from .fd import FrequentDirections
from .histogram import LogHistogram, SignedLogHistogram
from .kll import KLL
from .scale import K_0, K_1, K_2, K_3, SCALES

__version__ = "0.1.0"

__all__ = [
    "MergingDigest",
    "merge_all",
    "FrequentDirections",
    "KLL",
    "LogHistogram",
    "SignedLogHistogram",
    "K_0",
    "K_1",
    "K_2",
    "K_3",
    "SCALES",
    "__version__",
]
