"""Deduplication operators for web-corpus pipelines.

Five families, all expressed with built-in `pyspark.sql.functions` (zero
Python UDFs — every transform is JVM-side and codegen'd; the only
shuffles are the groupBys/joins on dedup keys):

- exact_dedup:          md5-of-content hash groups
- minhash_signatures /
  lsh_candidate_pairs:  word-shingle MinHash, banded LSH bucketing,
                        bucket self-join for candidates
- jaccard_pairs:        exact n-gram Jaccard verification of candidates
                        (array_intersect / array_union on distinct shingles)
- simhash64:            64-bit SimHash from md5 token bits, bit-majority
- embedding_near_dup:   cosine near-duplicates over embedding columns,
                        blocked to keep the pair space linear

Scale notes (100 TB):
- MinHash signatures are computed in the scan stage (no shuffle); LSH
  bucketing shuffles only (id, band_key) pairs — bytes per doc, not the
  document text.
- The bucket self-join is an equi-join on band_key; hot buckets (boiler-
  plate shingles) are bounded by `max_bucket` (buckets larger than this
  are near-certain template clusters — handled separately, not pairwise).
- All hashing is md5 so DuckDB oracles reproduce results bit-for-bit
  (engine-neutral semantics; xxhash64 stays reserved for salting).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .text import shingles_from_tokens, tokens_col

# Internal persist() handles created by the operators below.  A library
# function returning a lazy DataFrame cannot know when its cached
# intermediates become dead, and disk-persisted blocks are NOT LRU-evicted
# — without an explicit unpersist they hold local disk until the session
# stops (a multi-stage job can accumulate tens of GB of dead blocks).
# Long-running jobs call release_cached() at stage boundaries, once the
# downstream result is materialized or itself persisted.
_CACHED: list[DataFrame] = []


def _track(df: DataFrame) -> DataFrame:
    _CACHED.append(df)
    return df


def release_cached() -> None:
    """Unpersist every intermediate cached by the dedup operators.

    Safe whenever downstream results are materialized (or persisted in
    their own right): a frame that is still referenced merely recomputes
    on its next action instead of erroring.  Blocking: the default async
    unpersist lets block cleanup overlap whatever runs next (visible as
    bench noise on the query after a dedup stage)."""
    while _CACHED:
        _CACHED.pop().unpersist(blocking=True)


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the input has fewer partitions than the cluster has
    cores.  Compute-heavy narrow transforms (shingling, per-token md5)
    inherit the *scan* parallelism, and a small file (or an aggressively
    coalesced AQE stage) would pin the whole pipeline to a couple of
    cores.  At real scale input splits outnumber cores, so this is a
    no-op — it never introduces a shuffle on the 100 TB path."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame,
    content_cols: Sequence[str] = ("text",),
    id_col: str = "doc_id",
) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content hash with the
    representative (minimum) id and the duplicate count.

    Returns (content_hash, n_copies, keep_id).  Downstream keeps
    `keep_id` rows; at 100 TB this is one shuffle of (hash, id) pairs.
    """
    h = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def _bounded_buckets(
    keyed: DataFrame, key_cols: Sequence[str], id_col: str, max_bucket: int
) -> DataFrame:
    """Bucket id lists with the size guard applied BEFORE materialization.

    Filtering on size(collect_list(...)) would still build the full list
    for a template cluster inside one reducer first — at 100 TB a hot
    bucket (boilerplate band, constant SimHash chunk) holds 10^7+ ids and
    that single array is an executor OOM.  Instead: count per key
    (partial-aggregating, bytes per distinct key), keep keys with
    2..max_bucket members, co-partitioned left-semi join back, THEN
    collect.  The id stream still shuffles once; the count pass shuffles
    only per-partition key partials.

    Returns one row per surviving bucket: (sorted id array `__ids`).
    """
    kc = [F.col(c) for c in key_cols]
    sizes = keyed.groupBy(*kc).agg(F.count("*").alias("__n"))
    ok = sizes.filter(
        (F.col("__n") >= 2) & (F.col("__n") <= max_bucket)
    ).select(*key_cols)
    return (
        keyed.join(ok, list(key_cols), "left_semi")
        .groupBy(*kc)
        .agg(F.array_sort(F.collect_list(id_col)).alias("__ids"))
        .select("__ids")
    )


# ------------------------------------------------------------------- minhash


LANE_HEX = 8  # 32-bit lanes: 8 hex chars per minhash value

def _check_hash_fn(hash_fn: str) -> None:
    """Signature lanes: md5 (oracle-neutral) | rolling (production)."""
    if hash_fn not in ("md5", "rolling"):
        raise ValueError(f"hash_fn must be 'md5' or 'rolling' (got {hash_fn!r})")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature over word-k-gram shingles; two lanes:

    hash_fn="md5" (default, ORACLE-NEUTRAL): array of `n_hashes`
    8-hex-char (32-bit) lane minima.  One md5 yields four 32-bit lanes,
    so a shingle costs ceil(n_hashes/4) md5 calls (the classic
    split-one-strong-hash trick); lexicographic min over fixed-width hex
    equals numeric min, so the construction is engine-neutral string
    algebra DuckDB reproduces bit-for-bit.

    hash_fn="rolling" (PRODUCTION lane, O(n)): array<bigint> built by an
    Arrow-batched NumPy pass that never materializes a shingle string —
    see rolling_minhash_frame.  The md5 lane pays O(n*k) string bytes
    per doc assembling shingles; at corpus scale that assembly is the
    dominant compute of the whole LSH stage.  This lane caps `n_hashes`
    at 64 (one per-lane offset in `_MINHASH_Z` each).

    Lane collisions for random docs are ~2·|shingles|/2³² per 32-bit
    lane (less for 64-bit) — negligible next to banding probabilities.

    Plan shape (md5 lane): explode distinct shingles, then ONE hash
    aggregate with `n_hashes` min() columns.  The aggregate is partial
    (map-side combine), so the shuffle carries only (doc, n_hashes mins)
    partials — bytes per doc, never the shingle stream.  The rolling
    lane has NO shuffle at all: signatures are finished per doc inside
    the scan-stage Python worker.
    """
    _check_hash_fn(hash_fn)
    if hash_fn == "rolling":
        return rolling_minhash_frame(
            ensure_parallelism(df.select(F.col(id_col), F.col(text_col))),
            text_col, id_col, shingle_k, n_hashes,
        )
    # tokens in their own projection: inlining the split into the shingle
    # lambda is O(tokens^2) per doc (see text.shingles_from_tokens)
    toks = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens_col(text_col).alias("__t")
    )
    sh = toks.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__t"), shingle_k))
        ).alias("__sh"),
    )
    n_md5 = (n_hashes * LANE_HEX + 31) // 32
    allhex = F.concat(
        *[F.md5(F.concat(F.lit(f"{c}:"), F.col("__sh"))) for c in range(n_md5)]
    )
    hashed = sh.select(F.col(id_col), allhex.alias("__h"))
    aggs = [
        F.min(F.substring("__h", j * LANE_HEX + 1, LANE_HEX)).alias(f"__m{j}")
        for j in range(n_hashes)
    ]
    mins = hashed.groupBy(id_col).agg(*aggs)
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__m{j}") for j in range(n_hashes)]).alias("minhash_sig"),
    )


def lsh_band_keys(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: one row per (doc, band) with the band bucket key =
    a hash of the band's slice of the signature.  Jaccard-similar docs
    agree on all rows of some band with high probability.

    The key hash follows the signature lane: md5 over the comma-joined
    hex lanes for string signatures (oracle-neutral), xxhash64 straight
    over the long-array slice for the rolling lane's array<bigint>
    signatures (array input — no string rendering at all)."""
    from pyspark.sql.types import StringType

    str_lanes = isinstance(
        sigs.schema["minhash_sig"].dataType.elementType, StringType
    )
    out = []
    for b in range(bands):
        sl = F.slice("minhash_sig", b * rows_per_band + 1, rows_per_band)
        key = F.md5(F.concat_ws(",", sl)) if str_lanes else F.xxhash64(sl)
        out.append(
            sigs.select(
                F.col(id_col), F.lit(b).alias("band"), key.alias("band_key")
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


def _rows_per_band(n_hashes: int, bands: int) -> int:
    """Validated n_hashes/bands: bands > n_hashes makes every band slice
    EMPTY (every doc shares one md5('') bucket, which the max_bucket
    guard then drops — the pipeline silently reports zero duplicates),
    and a non-divisor silently ignores trailing signature lanes."""
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"bands must divide n_hashes (n_hashes={n_hashes}, bands={bands})"
        )
    return n_hashes // bands


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    sigs: DataFrame | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidate pairs: distinct (id_a < id_b) sharing any LSH
    band bucket.  Buckets larger than `max_bucket` are dropped from
    pairwise expansion (template clusters — quadratic blowup guard).

    Plan shape: the (band, key, id) stream shuffles once into
    size-guarded buckets (_bounded_buckets: oversized template clusters
    are excluded BEFORE any id list materializes), then all unordered
    pairs are expanded JVM-side with nested array transforms (no
    self-join, no window, no cached intermediate).

    Pass `sigs` (an already-persisted `minhash_signatures` frame with
    matching `n_hashes`) to reuse one signature pass across candidate
    generation AND `estimated_jaccard_pairs` verification."""
    from pyspark import StorageLevel

    _check_hash_fn(hash_fn)
    rows_per_band = _rows_per_band(n_hashes, bands)
    if sigs is None:
        sigs = minhash_signatures(
            df, text_col, id_col, n_hashes, shingle_k, hash_fn
        )
        # The plan references sigs from every band branch AND from both
        # _bounded_buckets passes; Spark does NOT reliably reuse the aggregate
        # exchange across union branches (measured: 8 independent FileScans —
        # the full shingle+md5 pipeline executed 8x per call).  Persisting
        # makes the signature pass run exactly once: the cache's per-partition
        # locking dedupes computation even within a single action.  The entry
        # is session-LRU-managed (MEMORY_AND_DISK) and ~100 B/doc.
        sigs = _track(sigs.persist(StorageLevel.MEMORY_AND_DISK))
    keys = lsh_band_keys(sigs, id_col, bands, rows_per_band)
    buckets = _bounded_buckets(keys, ("band", "band_key"), id_col, max_bucket)
    pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


# ------------------------------------------------------------------- jaccard


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over the
    distinct shingle sets.  Join shape: pairs ⋈ shingle-arrays twice (each
    an equi-join on id), then array_intersect/array_union JVM-side.
    Jaccard is a ratio of small ints — bit-identical in any IEEE engine.

    The candidate set is usually orders of magnitude smaller than the
    corpus, so we semi-join the shingle-set table down to candidate ids
    before the pair joins (at 100 TB: never materialize shingles for
    non-candidate docs twice)."""
    from pyspark import StorageLevel

    # `pairs` is referenced three times (two id projections + the final
    # join); if it arrives unpersisted its whole upstream pipeline (e.g.
    # LSH candidates) would re-execute per reference — persist the tiny
    # pair list instead.
    pairs = _track(pairs.persist(StorageLevel.MEMORY_AND_DISK))
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionAll(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = (
        df.join(ids, id_col, "left_semi")
        .select(F.col(id_col), tokens_col(text_col).alias("__t"))
        .select(
            F.col(id_col),
            F.array_distinct(shingles_from_tokens(F.col("__t"), shingle_k)).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    _track(sets)
    sets.count()  # single materialization before the two-sided join
    return (
        pairs.join(sets.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )


def estimated_jaccard_pairs(
    sigs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-estimated Jaccard for candidate pairs: the fraction of
    signature lanes on which the two docs agree (the standard unbiased
    MinHash estimator, stderr ~ sqrt(J(1-J)/n_hashes)).

    This is the 100 TB verification path for template-heavy corpora:
    `jaccard_pairs` re-joins full shingle arrays (10s of KB per doc) to
    every candidate pair, so a corpus whose documents overlap heavily —
    boilerplate, mirrored sites, shared templates — turns verification
    into a shuffle of |pairs| x 2 x |shingles| strings (measured: >70 GB
    of spill on a 4M-doc near-dup-dense corpus before filling the disk).
    Signature verification joins the ~100 B/doc minhash arrays already
    computed for LSH instead: per-pair cost is constant, no document text
    or shingle is ever re-read, and the whole comparison is JVM-side
    array algebra.

    Returns (id_a, id_b, jaccard_est).  Estimator granularity is
    1/n_hashes — thresholding at t keeps pairs with >= ceil(t*n) agreeing
    lanes; raise n_hashes (e.g. 16) when finer resolution is needed.
    """
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash_sig").alias("__sa"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash_sig").alias("__sb"))
    agree = F.size(
        F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda m: m)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (agree.cast("double") / F.size("__sa")).alias("jaccard_est"),
        )
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard >= threshold.
    Returns (id_a, id_b, jaccard).  `hash_fn="rolling"` switches the
    signature/banding stage to the O(n) NumPy production lane (exact
    verification is hash-agnostic)."""
    from pyspark import StorageLevel

    cands = _track(
        lsh_candidate_pairs(
            df, text_col, id_col, n_hashes, shingle_k, bands, max_bucket,
            hash_fn=hash_fn,
        ).persist(StorageLevel.MEMORY_AND_DISK)
    )
    cands.count()
    scored = jaccard_pairs(df, cands, text_col, id_col, shingle_k)
    return scored.filter(F.col("jaccard") >= threshold)


# ------------------------------------------------------------- incremental


def lsh_incremental_pairs(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate (new, index) near-dup pairs between a NEW document batch
    and a standing corpus signature INDEX — the incremental-crawl shape:
    at 100 TB you dedup each monthly increment against signatures you
    already computed, never re-reading (or re-hashing) the old corpus.

    Both inputs are `minhash_signatures` frames (id, minhash_sig); ids
    live in separate namespaces and may collide, so the output columns
    are (new_id, index_id) rather than an ordered pair.

    Plan: band keys for both sides, then ONE equi-join on
    (band, band_key) — co-partitioned by the shuffle, no pair expansion
    inside buckets.  Template clusters in the INDEX are excluded before
    the join by a partial-aggregating count (<= max_bucket), which caps
    the join fanout at |new band keys| x max_bucket — linear in the
    increment, never quadratic, regardless of how boilerplate-heavy the
    standing corpus is.  (A huge bucket on the NEW side joins a bounded
    index bucket, so it needs no guard of its own.)
    """
    r = _rows_per_band(n_hashes, bands)
    nk = lsh_band_keys(new_sigs, id_col, bands, r).select(
        F.col(id_col).alias("new_id"), "band", "band_key"
    )
    ik = lsh_band_keys(index_sigs, id_col, bands, r).select(
        F.col(id_col).alias("index_id"), "band", "band_key"
    )
    ok = (
        ik.groupBy("band", "band_key")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("band", "band_key")
    )
    ik = ik.join(ok, ["band", "band_key"], "left_semi")
    return nk.join(ik, ["band", "band_key"]).select("new_id", "index_id").distinct()


def estimated_jaccard_two(
    pairs: DataFrame,
    a_sigs: DataFrame,
    b_sigs: DataFrame,
    a_pair_col: str,
    b_pair_col: str,
    id_col: str = "doc_id",
    out_col: str = "jaccard_est",
) -> DataFrame:
    """MinHash lane-agreement Jaccard for pairs drawn from TWO signature
    tables (disjoint id namespaces) — the verifier behind
    `lsh_incremental_pairs`.  Same estimator and plan shape as
    `estimated_jaccard_pairs`: two ~100 B/row equi-joins, JVM zip_with,
    no text or shingles touched."""
    a = a_sigs.select(
        F.col(id_col).alias(a_pair_col), F.col("minhash_sig").alias("__sa")
    )
    b = b_sigs.select(
        F.col(id_col).alias(b_pair_col), F.col("minhash_sig").alias("__sb")
    )
    agree = F.size(
        F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda m: m)
    )
    return (
        pairs.join(a, a_pair_col)
        .join(b, b_pair_col)
        .select(
            a_pair_col,
            b_pair_col,
            (agree.cast("double") / F.size("__sa")).alias(out_col),
        )
    )


def dedup_against_index(
    new_df: DataFrame,
    index_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: the rows of `new_df` that have NO verified
    near-duplicate (estimated Jaccard >= threshold) in the standing
    corpus whose `minhash_signatures` frame is `index_sigs`.

    The returned frame keeps `new_df`'s full schema (anti-join on id).
    The old corpus contributes only its ~100 B/doc signatures: one
    signature build over the increment + two KB-lane joins is the entire
    cost, which is what makes monthly-increment dedup feasible when the
    standing corpus is 100 TB.  Pass `new_sigs` to reuse a signature
    frame you already built (e.g. to append it to the index afterwards).

    `hash_fn` (md5 | rolling) must be the lane that built `index_sigs`:
    signatures of different lanes never match.  An index built by the
    removed xxhash64 lane has the rolling lane's array<bigint> type, so
    a rolling run reads it without error and silently matches nothing.
    Rebuild such an index with the lane you run.
    """
    from pyspark import StorageLevel

    _check_hash_fn(hash_fn)
    if new_sigs is None:
        new_sigs = _track(
            minhash_signatures(
                new_df, text_col, id_col, n_hashes, shingle_k, hash_fn
            ).persist(StorageLevel.MEMORY_AND_DISK)
        )
    cands = lsh_incremental_pairs(
        new_sigs, index_sigs, id_col, n_hashes, bands, max_bucket
    )
    matched = (
        estimated_jaccard_two(cands, new_sigs, index_sigs, "new_id", "index_id", id_col)
        .filter(F.col("jaccard_est") >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


# ------------------------------------------------------------ decontamination


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    n: int = 8,
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
    gram_lane: str = "strings",
) -> DataFrame:
    """Benchmark decontamination signal: per corpus document, the number
    of distinct word n-grams it shares with ANY document in `benchmark`
    (the standard eval-set-overlap rule used by LLM training pipelines —
    GPT-3 appendix C / PaLM style, n-gram collision against held-out
    benchmarks).

    Returns one row per corpus document: (id_col, n_overlap long,
    contaminated boolean) with contaminated = n_overlap >= min_overlap.
    Documents with NULL text get n_overlap = 0 (never contaminated) —
    enrichment shape, no row is dropped.

    100 TB plan: the benchmark side is distinct n-grams of the (small)
    held-out set — it is aggregated once and broadcast, so the corpus
    side is a single scan: tokenize -> n-gram -> array_distinct (all in
    the scan stage, JVM-only) -> broadcast-hash semi-join -> partial-agg
    count by id.  The corpus text never shuffles; the only exchange is
    the final (id, count) aggregation.  With broadcast_benchmark=False
    (benchmark n-gram set too large for the driver) the join degrades to
    a shuffle join keyed on xxhash64(gram) — 8-byte keys instead of gram
    strings; 64-bit collisions can over-count one gram per ~2^64, which
    is noise for a thresholded contamination flag but is why the exact
    string-keyed broadcast lane is the default (and the oracle lane).

    gram_lane="rolling" (PRODUCTION lane): both sides' gram hashes come
    from the O(n) NumPy rolling engine (rolling_gram_frame) — no gram
    STRING is ever assembled, removing the O(tokens × n) string
    slice+concat that dominated the 899 s decontamination stage of the
    4M-doc run.  Join keys are 8-byte hashes (same collision class as
    broadcast_benchmark=False); gram semantics (short-doc whole-text
    gram, empty-gram exemption, per-doc distinctness) mirror the string
    lane exactly.  broadcast_benchmark applies to either lane.
    """
    if gram_lane not in ("strings", "rolling"):
        raise ValueError(
            f"gram_lane must be 'strings' or 'rolling' (got {gram_lane!r})"
        )
    bench_text = bench_text_col or text_col
    if gram_lane == "rolling":
        corpus_grams = rolling_gram_frame(
            ensure_parallelism(corpus.select(id_col, text_col)),
            text_col, id_col, n,
        ).select(id_col, F.explode("__gh").alias("__g"))
        bench_grams = (
            rolling_gram_frame(
                benchmark.select(F.lit(0).alias("__bid"), F.col(bench_text)),
                bench_text, "__bid", n,
            )
            .select(F.explode("__gh").alias("__g"))
            .distinct()
        )
        hits = corpus_grams.join(
            F.broadcast(bench_grams) if broadcast_benchmark else bench_grams,
            "__g",
        )
        counts = hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_overlap"))
        return (
            corpus.select(id_col)
            .join(counts, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
                (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias(
                    "contaminated"
                ),
            )
        )
    # NULL/empty/whitespace-only text degenerates to a single '' shingle
    # (shingles_from_tokens's short-doc fallback) — an empty string is not
    # an n-gram, and letting it through would mark every empty corpus doc
    # contaminated whenever the benchmark holds one empty row.  Both sides
    # drop it (the oracle SQL mirrors this).
    bench_grams = (
        benchmark.select(tokens_col(bench_text).alias("__t"))
        .select(F.explode(shingles_from_tokens("__t", n)).alias("__g"))
        .filter(F.col("__g") != "")
        .distinct()
    )
    corpus_grams = (
        ensure_parallelism(corpus.select(id_col, text_col))
        .select(id_col, tokens_col(text_col).alias("__t"))
        .select(id_col, F.array_distinct(shingles_from_tokens("__t", n)).alias("__gs"))
        .select(id_col, F.explode("__gs").alias("__g"))
        .filter(F.col("__g") != "")
    )
    if broadcast_benchmark:
        hits = corpus_grams.join(F.broadcast(bench_grams), "__g")
    else:
        hits = corpus_grams.withColumn("__h", F.xxhash64("__g")).drop("__g").join(
            bench_grams.select(F.xxhash64("__g").alias("__h")).distinct(), "__h"
        )
    # grams are distinct per doc scan-side, so count(*) == count(distinct)
    counts = hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        corpus.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_overlap: int = 1,
    contamination: DataFrame | None = None,
    **kwargs,
) -> DataFrame:
    """Drop contaminated documents: corpus rows whose text shares >=
    min_overlap distinct n-grams with the benchmark set.  The anti-join
    key frame is (id)-only; contaminated sets are tiny relative to the
    corpus, so Spark's AQE converts the anti-join to broadcast at
    runtime.

    Callers that also need the per-doc counts (reporting pipelines) pass
    a precomputed — and typically persisted — `contamination` frame from
    ngram_contamination instead of `benchmark`, so the flags are computed
    once and this stays the single canonical drop path."""
    if contamination is None:
        if benchmark is None:
            raise ValueError("pass either benchmark or contamination")
        contamination = ngram_contamination(
            corpus, benchmark, text_col, id_col,
            n=n, min_overlap=min_overlap, **kwargs,
        )
    bad = contamination.filter("contaminated").select(id_col)
    return corpus.join(bad, id_col, "left_anti")


def frequent_ngram_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Within-corpus boilerplate signal: per document, how many of its
    distinct word n-grams occur in >= `min_df` documents of the corpus
    (document frequency over n-grams — the within-corpus counterpart of
    ngram_contamination's eval-set overlap; cf. the repeated-substring
    dedup rule of Lee et al., "Deduplicating Training Data Makes
    Language Models Better").  A document whose gram mass is mostly
    corpus-frequent is template/boilerplate; the caller thresholds
    `frequent_frac`.

    Returns one row per input row: (id_col, n_grams, n_frequent_grams
    long, frequent_frac double) — NULL metrics for NULL text
    (enrichment shape, cardinality preserved).

    100 TB plan: two passes over the gram stream, both recomputed from
    the scan (grams are ~20x the text bytes — persisting them is the
    mistake; re-deriving is one more codegen'd scan).  Pass 1 counts
    document frequency per gram with a partial-aggregating groupBy
    (shuffle carries (gram, count-partial) only); pass 2 joins the gram
    stream to the >= min_df gram keys (shuffle equi-join, co-partitioned
    on the gram) and partial-agg counts per doc.  No id lists per gram
    are ever materialized (the hot-gram OOM `_bounded_buckets` exists to
    avoid), and the text column never crosses an exchange.
    """
    grams = (
        ensure_parallelism(df.select(id_col, text_col))
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens_col(text_col).alias("__t"))
        .select(
            F.col(id_col),
            F.array_distinct(shingles_from_tokens("__t", n)).alias("__gs"),
        )
        .select(F.col(id_col), F.explode("__gs").alias("__g"))
        .filter(F.col("__g") != "")
    )
    # grams are distinct per doc, so count(*) per gram IS document frequency
    freq = (
        grams.groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__g")
    )
    per_doc = grams.join(freq, "__g", "left_semi").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_frequent_grams")
    )
    totals = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    metrics = totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_grams"),
        F.coalesce("n_frequent_grams", F.lit(0)).alias("n_frequent_grams"),
        (
            F.coalesce("n_frequent_grams", F.lit(0)).cast("double")
            / F.col("n_grams")
        ).alias("frequent_frac"),
    )
    return df.select(id_col).join(metrics, id_col, "left")


# ------------------------------------------------------------------- simhash


def dedup_lines_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    normalize: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-corpus line-level deduplication (RefinedWeb-style).

    A line whose normalized form appears in >= `min_docs` DISTINCT
    documents is boilerplate (nav bars, cookie banners, footers) and is
    removed from EVERY document that contains it; the rest of each
    document is reassembled in original line order.  This is the
    corpus-global complement to `text.clean_lines` (per-doc heuristics):
    C4 cleans lines by local shape, RefinedWeb additionally drops lines
    by corpus frequency.

    Semantics:
    - normalization (default): lower(trim(line)); lines whose normalized
      key is empty ('' / whitespace) are EXEMPT — never counted, always
      kept (blank separators are not boilerplate evidence).
    - a duplicated line is removed from all its docs (no canonical
      keeper — per RefinedWeb, frequency itself marks boilerplate).
    - repeated occurrences inside ONE doc count once toward `min_docs`
      (distinct-doc frequency), but every occurrence is removed.
    - NULL text passes through with NULL outputs (no row drop).

    Returns (id_col, n_lines, n_lines_kept, clean_text).

    Scale shape (100 TB): dup detection shuffles only (line_key, id)
    pairs — never text.  The verdict set is aggregated per doc (id ->
    array of dup keys present in that doc, typically a handful of
    hashes) and joined back; the final text rewrite is a per-row
    `F.filter` over the line array (order-preserving, no re-sort, no
    posexplode/collect round trip).  The one corpus-wide shuffle is
    that id join — inherent, since per-line verdicts must meet the text
    somewhere; when the global dup-key set is small enough to
    broadcast, AQE converts the join automatically.  hash_fn="md5" is
    the oracle-neutral lane; "xxhash64" halves key bytes for
    production (same plan shape).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64' (got {hash_fn!r})")

    def _key(c):
        return F.lower(F.trim(c)) if normalize else c

    def _hash(c):
        return F.md5(c) if hash_fn == "md5" else F.xxhash64(c)

    lines = F.split(F.col(text_col), "\n")
    base = df.select(F.col(id_col), F.col(text_col))

    # (key_hash, id) pairs for non-exempt lines, one per (line, doc)
    occurrences = (
        base.select(
            F.col(id_col), F.explode(lines).alias("__line")
        )
        .select(F.col(id_col), _key(F.col("__line")).alias("__k"))
        .filter(F.col("__k") != "")
        .select(F.col(id_col), _hash(F.col("__k")).alias("__kh"))
        .distinct()
    )
    dup_keys = (
        occurrences.groupBy("__kh")
        .agg(F.count("*").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__kh")
    )
    # per-doc array of dup keys present in that doc (narrow: id + hashes)
    doc_dups = (
        occurrences.join(dup_keys, "__kh")
        .groupBy(id_col)
        .agg(F.collect_set("__kh").alias("__dk"))
    )

    kept = F.filter(
        lines,
        lambda x: (_key(x) == "")
        | F.col("__dk").isNull()
        | ~F.array_contains(F.col("__dk"), _hash(_key(x))),
    )
    return (
        base.join(doc_dups, id_col, "left")
        .select(
            F.col(id_col),
            F.when(
                F.col(text_col).isNotNull(), F.size(lines).cast("long")
            ).alias("n_lines"),
            F.when(
                F.col(text_col).isNotNull(), F.size(kept).cast("long")
            ).alias("n_lines_kept"),
            F.when(
                F.col(text_col).isNotNull(), F.concat_ws("\n", kept)
            ).alias("clean_text"),
        )
    )


def span_hashes(toks: Column | str, k: int):
    """md5 of every k-token window (stride 1) of a *materialized* token
    array, as an array<string> column; docs shorter than k tokens yield
    an empty array (no duplication evidence at this granularity).
    `toks` must be a bound column from its own projection — an inline
    expression would be re-evaluated per window index (see
    text.shingles_from_tokens).  O(n*k) hash work per doc; the rolling
    lane (rolling_hashed_frame) is O(n) but not expressible as an
    engine-neutral md5, so the oracle lane pays the k factor."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda j: F.md5(F.concat_ws(" ", F.slice(toks, j, k))),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


# Rabin-Karp rolling lane constants.  FNV-64 prime as the polynomial
# base (odd, hence invertible mod 2^64); its modular inverse lets window
# hashes come out of ONE prefix sum instead of a per-window recompute.
_ROLL_BASE = 0x100000001B3
_ROLL_INV = pow(_ROLL_BASE, -1, 1 << 64)


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


# per-lane offsets for the rolling MinHash lanes (deterministic,
# independent-looking 64-bit constants; lane j hashes fmix64(h + Z[j]))
_MINHASH_Z = tuple(_splitmix64(j) for j in range(64))


def _np_fmix64(h, np):
    """murmur fmix64 avalanche over a uint64 array IN PLACE (callers
    pass arrays they own); returns it for chaining."""
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(29)
    h *= np.uint64(0xC4CEB9FE1A85EC53)
    h ^= h >> np.uint64(32)
    return h


def _rolling_core(np, pd, tok_lists, k, short_whole=False, include_empty=False):
    """Shared NumPy Rabin-Karp engine for the rolling production lanes
    (span windows, MinHash signatures, contamination grams).

    Given per-doc token lists (never None — callers map NULL first),
    hashes every token once (pandas hash_array) and derives every
    k-window polynomial hash from ONE segmented prefix sum — O(total
    tokens), no window string ever exists.  Returns
    (counts, seg_h, seg_starts): per-doc window counts, the flat
    UNMIXED uint64 window hashes in doc order, and each doc's start
    offset into it.  Callers apply _np_fmix64 (or per-lane variants)
    and their own per-doc reduction.

    short_whole=False: docs with < k tokens produce 0 windows
    (span_hashes semantics).  short_whole=True: such docs produce ONE
    whole-doc window (shingles_from_tokens semantics), and
    include_empty decides whether a 0-token doc still gets that one
    window (hash 0, shared by all empty docs — the md5 lane's ""
    shingle) or none (contamination's empty-gram exemption).
    """
    lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
    total = int(lens.sum())
    flat = np.empty(total, dtype=object)
    pos = 0
    for t in tok_lists:
        if t:
            flat[pos : pos + len(t)] = t
            pos += len(t)
    th = pd.util.hash_array(flat) if total else np.empty(0, dtype=np.uint64)

    maxn = int(lens.max()) if len(lens) else 0
    bpow = np.empty(maxn + 1, dtype=np.uint64)
    ipow = np.empty(maxn + 1, dtype=np.uint64)
    bpow[0] = ipow[0] = 1
    if maxn:
        np.multiply.accumulate(np.full(maxn, np.uint64(_ROLL_BASE)), out=bpow[1:])
        np.multiply.accumulate(np.full(maxn, np.uint64(_ROLL_INV)), out=ipow[1:])

    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    pref = np.zeros(total + 1, dtype=np.uint64)
    np.cumsum(th * ipow[within], out=pref[1:])

    if short_whole:
        counts = np.where(
            lens >= k, lens - (k - 1), 1 if include_empty else (lens > 0)
        ).astype(np.int64)
    else:
        counts = np.maximum(lens - (k - 1), 0)
    seg_starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=seg_starts[1:])
    seg_h = np.zeros(int(counts.sum()), dtype=np.uint64)

    full = lens >= k
    nf = np.where(full, counts, 0)
    ftotal = int(nf.sum())
    if ftotal:
        wp = np.arange(ftotal, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(nf)[:-1])), nf
        )
        g = np.repeat(starts, nf) + wp
        dest = np.repeat(seg_starts, nf) + wp
        seg_h[dest] = (pref[g + k] - pref[g]) * bpow[wp + k - 1]
    if short_whole:
        short = (~full) & (counts > 0)
        if short.any():
            s, l = starts[short], lens[short]
            nz = l > 0
            vals = np.zeros(len(l), dtype=np.uint64)
            vals[nz] = (pref[s[nz] + l[nz]] - pref[s[nz]]) * bpow[l[nz] - 1]
            seg_h[seg_starts[short]] = vals
    return counts, seg_h, seg_starts


def rolling_hashed_frame(
    base: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, __wh array<bigint>) of every k-token window hash, via an
    Arrow-batched NumPy Rabin-Karp pass — the production lane for
    dedup_spans_corpus (hash_fn="rolling").

    This is the module's one deliberate Python stage (see module
    docstring: everything else is JVM-side).  A JVM window lane's
    concat_ws+hash costs O(n*k) string work per doc (~15 us per window
    measured); this lane is O(n): each token is hashed ONCE
    (pandas hash_array, C siphash with a fixed key — deterministic
    across workers), then window hash
    H(p) = (P[p+k] - P[p]) * BASE^(p+k-1) mod 2^64 where
    P = segmented prefix sum of token_hash[i] * BASE^(-i), all uint64
    wraparound NumPy, finished with a murmur fmix64 avalanche so the
    low bits of the polynomial (which only mix low token-hash bits)
    don't cluster LSH-style consumers.  On the 4M-doc corpus the whole
    operator finished in 345 s on this lane where a JVM 8-byte-hash
    window lane timed out past 1,200 s; Arrow moves text in and 8 B per
    token back out.

    Tokenization matches tokens_col(text, " ") exactly (literal-space
    split, empty tokens dropped) — positions must align with the JVM
    rewrite stage downstream.  NULL text -> NULL array (preserved by
    the caller's explode_outer); < k tokens -> empty array.

    Polynomial-mod-2^64 hashes admit ADVERSARIAL collisions
    (Thue-Morse-style inputs); for boilerplate dedup on natural
    corpora the collision rate is ~2^-64-like, same risk class as any
    64-bit hash.  Not oracle-expressible — md5 stays the oracle lane.
    """
    import numpy as np  # lazy: keep module import JVM-only

    id_field = base.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, __wh array<bigint>"
    )

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            yield _span_batch(np, pd, pdf, text_col, id_col, k)

    return base.mapInPandas(mapper, schema=out_schema)


def _span_batch(np, pd, pdf, text_col, id_col, k):
    """One Arrow batch of rolling_hashed_frame (module-level so the
    NULL/short/empty edge paths are unit-testable without Spark)."""
    texts = pdf[text_col]
    tok_lists = [
        [w for w in t.split(" ") if w] if isinstance(t, str) else []
        for t in texts
    ]
    counts, seg_h, _ = _rolling_core(np, pd, tok_lists, k)
    h = _np_fmix64(seg_h, np).view(np.int64)
    chunks = np.split(h, np.cumsum(counts)[:-1])
    out = [
        chunks[i].tolist() if isinstance(t, str) else None
        for i, t in enumerate(texts)
    ]
    # explicit object dtype: an empty plain list infers float64, which
    # Arrow can't cast to list<int64> (same guard as the minhash lane)
    return pd.DataFrame(
        {id_col: pdf[id_col].to_numpy(), "__wh": pd.Series(out, dtype=object)}
    )


def rolling_minhash_frame(
    base: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    n_hashes: int = 8,
) -> DataFrame:
    """(id, minhash_sig array<bigint>) — the O(n) NumPy production lane
    for minhash_signatures (hash_fn="rolling").

    The md5 lane pays O(n*k) string bytes per doc building every
    shingle STRING before hashing it (the dominant compute of both the
    headline minhash query and the 4M-doc pipeline's LSH stage).  This
    lane never materializes a shingle: tokens are hashed once (pandas
    hash_array), shingle hashes come from the same segmented
    prefix-sum polynomial as rolling_hashed_frame, and lane j's value
    is min over shingles of fmix64(h + Z_j) (per-lane offsets from a
    splitmix64 stream; the avalanche makes the lanes behave as
    independent permutations).  min over a multiset == min over the
    set, so within-doc duplicate shingles need no dedup pass.

    Doc-coverage semantics mirror shingles_from_tokens exactly: docs
    with >= k tokens get all n-k+1 shingles; 1..k-1 tokens -> ONE
    whole-doc shingle; empty-after-split OR NULL text -> one shared
    "empty" shingle (all such docs get identical signatures, exactly as
    the md5 lane's concat_ws-produced "" shingle — the tests check this
    coverage against the md5 lane).  Every downstream consumer (banding,
    candidate pairs, estimated verify) is signature-type-agnostic, so
    this lane composes with the whole LSH stack; only the DuckDB
    oracle requires md5.
    """
    import numpy as np  # lazy: keep module import JVM-only

    if not 1 <= n_hashes <= len(_MINHASH_Z):
        raise ValueError(f"n_hashes must be in [1, {len(_MINHASH_Z)}]")
    id_field = base.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, "
        "minhash_sig array<bigint>"
    )
    k = shingle_k
    zs = np.array(_MINHASH_Z[:n_hashes], dtype=np.uint64)

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            yield _minhash_batch(np, pd, pdf, text_col, id_col, k, zs)

    return base.mapInPandas(mapper, schema=out_schema)


def _minhash_batch(np, pd, pdf, text_col, id_col, k, zs):
    """One Arrow batch of rolling_minhash_frame (module-level so the
    NULL/short/empty edge paths are unit-testable without Spark)."""
    texts = pdf[text_col]
    if not len(pdf):
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                # explicit object dtype: an empty plain list infers
                # float64, which Arrow can't cast to list<int64>
                "minhash_sig": pd.Series([], dtype=object),
            }
        )
    # NULL text == empty text here: the md5 lane's concat_ws
    # ignores the NULL token array, so NULL-text docs get the
    # shared "" shingle too (checked against the md5 lane)
    tok_lists = [
        [w for w in t.split(" ") if w] if isinstance(t, str) else []
        for t in texts
    ]
    counts, seg_h, seg_starts = _rolling_core(
        np, pd, tok_lists, k, short_whole=True, include_empty=True
    )
    n_hashes = len(zs)
    sig = np.empty((len(counts), n_hashes), dtype=np.uint64)
    for j in range(n_hashes):
        # the min must run over the MIXED values (the mix is the
        # lane's "permutation"); seg_h + zs[j] allocates the
        # per-lane copy _np_fmix64 then mutates in place
        hj = _np_fmix64(seg_h + zs[j], np)
        sig[:, j] = np.minimum.reduceat(hj, seg_starts)
    sig = sig.view(np.int64)
    return pd.DataFrame(
        {
            id_col: pdf[id_col].to_numpy(),
            "minhash_sig": [row.tolist() for row in sig],
        }
    )


def rolling_gram_frame(
    base: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, __gh array<bigint>) of the DISTINCT word n-gram hashes per
    doc, via the shared O(n) rolling engine — the production gram lane
    for ngram_contamination (gram_lane="rolling").

    Gram semantics mirror the string lane exactly: docs with >= n
    tokens contribute their n-grams; 1..n-1 tokens contribute the ONE
    whole-doc gram (shingles_from_tokens's short-doc rule); empty/NULL
    text contributes nothing (the string lane filters the "" gram —
    contamination's empty-gram exemption).  Distinctness is resolved
    per doc inside the worker (np.unique per segment), so the frame
    needs no array_distinct or per-doc shuffle downstream.
    """
    import numpy as np  # lazy: keep module import JVM-only

    id_field = base.schema[id_col]
    out_schema = (
        f"`{id_col}` {id_field.dataType.simpleString()}, __gh array<bigint>"
    )

    def mapper(batches):
        import pandas as pd

        for pdf in batches:
            yield _gram_batch(np, pd, pdf, text_col, id_col, n)

    return base.mapInPandas(mapper, schema=out_schema)


def _gram_batch(np, pd, pdf, text_col, id_col, n):
    """One Arrow batch of rolling_gram_frame (module-level so the
    NULL/short/empty edge paths are unit-testable without Spark)."""
    texts = pdf[text_col]
    if not len(pdf):
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "__gh": pd.Series([], dtype=object),
            }
        )
    tok_lists = [
        [w for w in t.split(" ") if w] if isinstance(t, str) else []
        for t in texts
    ]
    counts, seg_h, _ = _rolling_core(
        np, pd, tok_lists, n, short_whole=True, include_empty=False
    )
    h = _np_fmix64(seg_h, np).view(np.int64)
    chunks = np.split(h, np.cumsum(counts)[:-1])
    return pd.DataFrame(
        {
            id_col: pdf[id_col].to_numpy(),
            "__gh": [np.unique(c).tolist() for c in chunks],
        }
    )


def dedup_spans_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
    hash_fn: str = "md5",
    broadcast_verdicts: bool | None = None,
    cache_hashes: bool = True,
    max_broadcast_dups: int = 20_000_000,
) -> DataFrame:
    """Corpus-global duplicate-SPAN removal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): any k-token window whose exact content occurs >=
    `min_count` times across the whole corpus (within-doc repeats count)
    marks its k tokens as duplicated; every covered token is removed from
    every document and the remainder is reassembled in token order.

    This is the span-granular member of the dedup family: exact_dedup
    removes whole identical docs, LSH removes near-identical docs,
    dedup_lines_corpus removes corpus-frequent LINES — this removes
    corpus-repeated token RUNS that cross line boundaries (licenses,
    templated paragraphs, quoted tweets), which none of the above catch
    when the surrounding document is unique.

    Deviations from the paper, chosen for distributed determinism:
    - fixed window size k (default 50, the paper's threshold) instead of
      maximal repeated substrings from a suffix array: a suffix array is
      a single-node O(n log n) structure; k-gram anchors are
      embarrassingly parallel and catch every duplicated run >= k tokens
      (a run of length m >= k is covered by its m-k+1 flagged windows).
    - ALL occurrences of a flagged span are removed (the paper keeps
      one): keeping a canonical occurrence needs a global total order
      over occurrences; removal-everywhere matches dedup_lines_corpus
      and the training-data goal (the span is boilerplate evidence).
    - token-granular (space-split, empty tokens dropped): reassembly
      normalizes runs of whitespace to single spaces.
    - NULL text passes through with NULL outputs (no row drop).

    Returns (id_col, n_tokens, n_tokens_kept, clean_text).

    Scale shape (100 TB).  Window hashes are mostly UNIQUE (duplication
    is the exception), so the id must never ride the wide shuffle:
    1. COUNT pass — explode window hashes ALONE and partial-agg count
       them: the one corpus-wide shuffle carries bare 8-byte keys
       (rolling lane), nothing else.  Survivors (count >= min_count) are
       the global dup set — tiny relative to the corpus.
    2. FLAG pass — re-hash scan-side, posexplode (id, pos, hash), and
       broadcast-join the dup set: the join filters in the scan stage,
       so only actual dup occurrences (a small fraction) reach the
       per-doc collect of flagged positions.
    3. REWRITE — one id join of the corpus against the per-doc flagged
       position arrays (inherent: verdicts must meet the text
       somewhere; AQE broadcasts the verdict side when it fits), then
       an order-preserving indexed F.filter drops covered tokens — no
       window re-hash, no array_contains, no posexplode/collect of
       text.
    The count and flag passes share one hashed frame: with
    `cache_hashes` (default) it is persisted between them —
    O(tokens × 8 B) for the rolling lane (~20% of corpus bytes), but
    ~1 window STRING of 32 chars per token on the md5 lane, i.e.
    roughly CORPUS-sized blocks — budget for that or use the rolling
    lane when caching at scale.  Either lane is far smaller
    than materializing window strings at rest.  `cache_hashes=False`
    trades a second O(n*k) hashing pass for zero storage (callers
    release via `release_cached()`).  Ids never ride the wide shuffle
    either way (measured: a (hash, id) formulation wrote 31 GB of
    shuffle on a 4M-doc corpus and was disk-bound; this shape is
    compute-bound).  Costs are O(n*k) hashing + O(n + f·m) rewrite
    per doc (f = flagged windows, m = merged coverage intervals); a
    pathological fully-duplicated doc makes f ~ n, which is why
    doc-level dedup (exact + LSH) should run FIRST in a pipeline —
    this operator then only sees spans inside otherwise-unique docs.
    hash_fn="md5" is the oracle-neutral lane; "rolling" is the
    production lane — an O(n) NumPy Rabin-Karp pass (see
    rolling_hashed_frame) that removes the O(n*k) JVM string work
    entirely and feeds the identical downstream plan.

    Broadcasting the dup set keeps the flag pass's big side
    shuffle-free (the join filters in the scan stage), but a
    boilerplate-dense corpus can grow the dup set past what a driver
    can broadcast.  `broadcast_verdicts=None` (default) adapts: it
    counts the survivors (one cheap job — the count reuses the pass-1
    shuffle, and the cached hashed frame when `cache_hashes`) and
    broadcasts only when the count <= `max_broadcast_dups`
    (default 20M ≈ 640 MB of hash-relation); above that it falls back
    to a shuffle join.  Pass True/False to force either plan and skip
    the counting job.
    """
    _check_hash_fn(hash_fn)
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")

    # window hashing is the heavy narrow transform (O(n*k) per doc) on
    # BOTH sides — rescue scan parallelism when the file is one split
    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))

    if hash_fn == "rolling":
        hashed = rolling_hashed_frame(base, text_col, id_col, k)
    else:
        hashed = (
            base.select(F.col(id_col), tokens_col(text_col).alias("__ts"))
            .select(
                F.col(id_col), span_hashes(F.col("__ts"), k).alias("__wh")
            )
        )
    if cache_hashes:
        hashed = _track(hashed.persist())

    # pass 1 — count window occurrences (not distinct: within-doc
    # repeats are duplication evidence, per the paper).  explode_outer,
    # NOT explode: plain explode lets Catalyst infer
    # `size(__wh) > 0 AND __wh IS NOT NULL` and push that filter below
    # the repartition — re-running the whole O(n*k) window hashing
    # inside the unsplit scan task (measured 2x the operator's cost on
    # a one-row-group file); the outer variant infers nothing and the
    # NULL rows are dropped on the exploded column for pennies
    dup_spans = (
        hashed
        .select(F.explode_outer("__wh").alias("__h"))
        .filter(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("__h")
    )

    # pass 2 — flagged window START POSITIONS per doc: the broadcast
    # join runs in the scan stage, so only true dup occurrences survive
    # into the (small) per-doc aggregate
    if broadcast_verdicts is None:
        broadcast_verdicts = dup_spans.count() <= max_broadcast_dups
    dup_side = F.broadcast(dup_spans) if broadcast_verdicts else dup_spans
    doc_flags = (
        hashed
        .select(F.col(id_col), F.posexplode_outer("__wh").alias("__p", "__h"))
        .filter(F.col("__h").isNotNull())
        .join(dup_side, "__h")
        .groupBy(id_col)
        .agg(F.collect_set(F.col("__p") + 1).alias("__fj"))
    )

    # rewrite — positions arrived precomputed; no window re-hash here
    flagged = base.join(doc_flags, id_col, "left").withColumn(
        "__ts", tokens_col(text_col)
    )
    # Token at 1-based position p is covered by flagged window start j
    # iff j <= p < j + k.  A per-token exists() over the flagged starts
    # is O(n*f) per doc — 339s of a 550s 4M-doc run on a boilerplate-
    # dense corpus where f ~ n.  Instead: sort the starts, merge
    # overlapping/adjacent [j, j+k) into disjoint covered intervals
    # (dup-dense docs collapse to ~1 interval), and reassemble the kept
    # tokens from the complement gaps with slice+flatten — O(n + f*m)
    # where m = merged-interval count (1 when coverage is contiguous,
    # small always).  Docs without a verdict row have NULL __fj —
    # coalesce to empty so the whole doc is one gap.
    # bind each multiply-referenced array expression in its own
    # projection (CollapseProject duplicates inline non-cheap exprs per
    # reference — see text.shingles_from_tokens)
    fj = F.array_sort(F.coalesce(F.col("__fj"), F.array().cast("array<int>")))
    iv = "array<struct<s:int,e:int>>"
    merged = F.aggregate(
        fj,
        F.array().cast(iv),
        lambda acc, j: F.when(
            (F.size(acc) > 0) & (j <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (j + F.lit(k)).alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc, F.array(F.struct(j.alias("s"), (j + F.lit(k)).alias("e")))
            )
        ),
    )
    flagged = flagged.withColumn("__iv", merged)
    n_toks = F.size("__ts")
    # gap g spans [gap_start_g, gap_end_g): positions after each covered
    # interval (or 1) up to the next interval's start (or n+1)
    gap_starts = F.concat(
        F.array(F.lit(1)), F.transform(F.col("__iv"), lambda x: x["e"])
    )
    gap_ends = F.concat(
        F.transform(F.col("__iv"), lambda x: x["s"]), F.array(n_toks + 1)
    )
    kept = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda a, b: F.slice(F.col("__ts"), a, F.greatest(b - a, F.lit(0))),
        )
    )
    flagged = flagged.withColumn("__kept", kept)
    not_null = F.col(text_col).isNotNull()
    return flagged.select(
        F.col(id_col),
        F.when(not_null, F.size("__ts").cast("long")).alias("n_tokens"),
        F.when(not_null, F.size("__kept").cast("long")).alias("n_tokens_kept"),
        F.when(not_null, F.concat_ws(" ", "__kept")).alias("clean_text"),
    )


def _nibble_bit_sums(j: int):
    """Column: sum over tokens of ±1 for bit j of the token's 64-bit md5
    prefix.  Expects the 16 nibble ints pre-bound as __n0..__n15 (one
    substring+conv each per row) — referencing the hex string here would
    re-run substring+conv 4x per nibble (64x per row total)."""
    bit = F.shiftright(F.col(f"__n{j // 4}"), 3 - j % 4).bitwiseAND(F.lit(1))
    return F.sum(bit * 2 - 1)


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """64-bit SimHash as a 16-hex-char string.

    Token hash = first 16 hex chars of md5(token); signature bit j = 1 iff
    the ±1 majority over all token occurrences of bit j is positive.
    Plan: explode tokens -> one groupBy(id) computing 64 conditional sums
    -> assemble nibbles with format_string('%x').  One shuffle on id.
    """
    toks = ensure_parallelism(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("__tok")
    ).withColumn("__tok_h", F.substring(F.md5("__tok"), 1, 16))
    # bind the 16 nibble ints once per token row; the 64 bit-sums then do
    # only shift/and arithmetic (was: substring+conv re-evaluated per bit)
    toks = toks.select(
        F.col(id_col),
        *[
            F.conv(F.substring("__tok_h", 1 + i, 1), 16, 10)
            .cast("int")
            .alias(f"__n{i}")
            for i in range(16)
        ],
    )

    sums = toks.groupBy(id_col).agg(
        *[_nibble_bit_sums(j).alias(f"s{j}") for j in range(64)]
    )
    nibbles = []
    for nb in range(16):
        val = None
        for p in range(4):
            j = nb * 4 + p
            bit = (F.col(f"s{j}") > 0).cast("int") * (1 << (3 - p))
            val = bit if val is None else val + bit
        nibbles.append(F.format_string("%x", val))
    return sums.select(F.col(id_col), F.concat(*nibbles).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-dup pairs: block on the 4 16-bit chunks of the
    signature (pigeonhole: hamming<=3 pairs share at least one exact
    chunk), verify hamming distance <= max_hamming nibble-wise.

    The pigeonhole guarantee only covers max_hamming <= 3 with 4 chunks —
    a larger radius would silently miss pairs differing in all chunks, so
    it is rejected.

    Plan shape mirrors `lsh_candidate_pairs`: the (chunk, id) stream
    shuffles into size-guarded buckets (_bounded_buckets — oversized
    chunks dropped before their id list materializes; hot-chunk quadratic
    guard for near-dup-heavy or short-doc corpora), pairs expand JVM-side
    from each bucket's sorted id list.
    Signatures re-attach to the surviving pairs via two KB-per-row joins,
    so the chunk shuffle carries only (chunk, id) rows."""
    if max_hamming > 3:
        raise ValueError(
            "4-chunk pigeonhole blocking only guarantees completeness for "
            f"max_hamming <= 3 (got {max_hamming})"
        )
    from pyspark import StorageLevel

    sh = _track(simhash64(df, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK))
    chunks = sh.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{c}:"), F.substring("simhash", c * 4 + 1, 4))
                for c in range(4)
            ])
        ).alias("chunk"),
    )
    buckets = _bounded_buckets(chunks, ("chunk",), id_col, max_bucket)
    pairs = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice("__ids", i + 2, F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    cand = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    ham = None
    for nb in range(16):
        na = F.conv(F.substring("sh_a", nb + 1, 1), 16, 10).cast("int")
        nbv = F.conv(F.substring("sh_b", nb + 1, 1), 16, 10).cast("int")
        d = F.bit_count(na.bitwiseXOR(nbv))
        ham = d if ham is None else ham + d
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------- embeddings


def dot_col(a, b):
    """Sequential-fold dot product of two array<double> columns (JVM-side;
    same accumulation order as a scalar loop, so engines agree)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a):
    return F.sqrt(dot_col(a, a))


def safe_norm(n):
    """Zero-norm divisor guard — the repo-wide zero-vector cosine
    contract (see ivf_assign): substitute 1.0 for a 0.0 norm so a zero
    vector's cosines are exactly 0.0 (the dot is 0) instead of 0/0.
    Unguarded, the NaN sorts ABOVE every real similarity in Spark's
    ordering (a zero vector would take rank 1 of every top-k and pass
    every `>= threshold` near-dup filter, silently deleting its whole
    block), and under ANSI mode the 0/0 aborts the job outright.

    Apply to a norm column BOUND in its own projection (not a raw
    norm_col() expression) so the O(dim) fold isn't re-evaluated per
    branch."""
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Cosine near-duplicate pairs, blocked by `block_col` (e.g. a cluster
    or coarse-quantizer id) so the pair space is sum of per-block squares,
    not global n².  Returns (id_a, id_b, cosine).

    `block_col=None` is a global crossJoin — O(n²) pairs, sane only for
    small probe tables — and therefore requires an explicit
    `allow_quadratic=True` (raises ValueError otherwise).  For unblocked
    corpora at scale use `semantic_dedup` (scan-stage cell assignment)
    instead.

    Zero-norm vectors follow the repo-wide contract (`safe_norm`): their
    cosine against anything is exactly 0.0, so they never pair — without
    the guard the 0/0 NaN compares >= threshold in Spark's NaN ordering
    and a single zero embedding would mark its ENTIRE block as its
    near-dups (mass false deletion through semantic_dedup's keep rule),
    or abort the job under ANSI mode."""
    if not block_col and not allow_quadratic:
        raise ValueError(
            "embedding_near_dup(block_col=None) is an all-pairs crossJoin "
            "(O(n^2)); pass allow_quadratic=True to opt in, or use "
            "semantic_dedup for unblocked corpora"
        )
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = (
        emb.select(*cols)
        .withColumn("__nr", norm_col(F.col("v")))
        .withColumn("nrm", safe_norm(F.col("__nr")))
        .drop("__nr")
    )
    join_keys = ["blk"] if block_col else []
    a = base.select(
        *([F.col("blk")] if block_col else []),
        F.col("id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        *([F.col("blk")] if block_col else []),
        F.col("id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    joined = a.join(b, join_keys) if join_keys else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_col("va", "vb") / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------- resolution


def resolve_dup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components by
    alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014).

    Returns (id_col, cluster_id) for every id that appears in a pair,
    cluster_id = minimum id in its component.

    Why star rounds and not plain min-label propagation: propagation
    needs O(diameter) rounds, and real dup graphs are not always
    star-shaped — a corpus of overlapping/boilerplate documents chains
    A~B~C~... for thousands of hops, which propagation under any sane
    round cap silently splits into multiple clusters.  The star
    algorithm doubles label-reach per round (O(log^2 n) rounds
    worst-case, O(log n) in practice) regardless of diameter:

    - large-star (per node u over ALL neighbors): point every neighbor
      larger than u at m = min(neighbors + u)
    - small-star (per node u over neighbors <= u): point them and u
      itself at m

    Both phases are a partial-aggregating groupBy(min) plus an
    equi-join — no collect_list, no per-node arrays, so a high-degree
    hub never materializes its neighborhood in one task (AQE handles
    the join skew toward component minima).

    Iteration discipline: every round's edge set is localCheckpoint()ed.
    Each round references the previous edges twice (two phases + the
    convergence check), so carrying lineage would double the logical
    plan per round — 2^rounds copies of the upstream dedup pipeline is
    a driver OOM in Catalyst long before any executor touches data.
    Checkpointing cuts the plan to the materialized partitions; at 10^12
    docs the frame holds only *duplicated* ids, a small fraction of the
    corpus.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    for _ in range(max_iters):
        # --- large-star: over the symmetric edge list, for each u emit
        # (v, m(u)) for neighbors v > u, where m(u) = min(N(u) + {u})
        sym = _sym(edges)
        mins = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        mins = mins.select("u", F.least("__mn", F.col("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # --- small-star: orient each edge large->small, group by the
        # large end u (neighbors all < u), point them and u at the min
        dirs = _sym(large).filter(F.col("v") < F.col("u"))
        mins_s = dirs.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            dirs.join(mins_s, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(mins_s.select(F.col("u"), F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.exceptAll(edges).count() == 0
            and edges.exceptAll(small).count() == 0
        )
        edges = small
        if converged:
            break
    # at convergence the edge set is a star forest (child -> component
    # min); centers label themselves
    labels = (
        edges.select(F.col("u").alias("id"), F.col("v").alias("label"))
        .unionAll(edges.select(F.col("v").alias("id"), F.col("v").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def apply_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (the minimum id) per near-dup cluster:
    df minus every clustered id that is not its cluster's representative.
    One broadcast-sized anti-join against the (small) drop list."""
    clusters = resolve_dup_clusters(pairs, id_col)
    drop = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(drop, id_col, "left_anti")


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    content_col: str = "text",
    status_col: str = "status",
) -> DataFrame:
    """Snapshot diff between two crawls of the same keyspace: per key,
    `status` is one of 'new' (only in `new`), 'gone' (only in `old`),
    'changed' (both, different content), 'same' (both, identical
    content).  The monthly-crawl bookkeeping primitive — feed 'new' +
    'changed' keys into the incremental-dedup/index path and retire
    'gone' ones.

    Scale shape: each side reduces IN THE SCAN STAGE to one
    (key, md5(content)) row per key (duplicate keys within a snapshot
    collapse to their MIN content hash — deterministic, order-free), so
    the full-outer join ships 16-byte hashes, never content.  NULL
    content hashes to a reserved marker, distinct from every real md5,
    so NULL vs NULL compares 'same' and NULL vs text 'changed'.
    Returns (key_col, status_col).
    """
    marker = F.lit("#null#")  # not a hex digest -> collides with nothing

    def side(df: DataFrame, out: str) -> DataFrame:
        h = F.when(
            F.col(content_col).isNull(), marker
        ).otherwise(F.md5(F.col(content_col).cast("string")))
        return (
            df.select(F.col(key_col).alias("__k"), h.alias("__h"))
            .groupBy("__k")
            .agg(F.min("__h").alias(out))
        )

    o = side(old, "__ho")
    n = side(new, "__hn")
    joined = o.join(n, "__k", "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("new"))
        .when(F.col("__hn").isNull(), F.lit("gone"))
        .when(F.col("__ho") == F.col("__hn"), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("__k").alias(key_col), status.alias(status_col)
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    threshold: float = 0.8,
    n_hashes: int = 8,
    shingle_k: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Fuzzy join: (left_id, right_id, jaccard_est) pairs whose texts are
    near-duplicates at estimated Jaccard >= `threshold` — the two-TABLE
    face of the dedup machinery (match user queries against a corpus,
    align two crawls, link re-posts across sources).  Ids live in
    separate namespaces; the output columns are `left_id`/`right_id`
    (renamed to `<name>_l`/`<name>_r` when the names collide).

    Plan: one MinHash signature build per side (scan-stage), banded
    candidate generation via ONE equi-join on (band, band_key) with the
    right side's template buckets excluded by a partial-agg count
    (fanout capped linear in the left side), then lane-agreement verify
    over ~100 B/row signature joins — text never shuffles, and neither
    side is ever pairwise-expanded against itself.  `hash_fn` is the
    signature lane of both sides (md5 | rolling, see
    `minhash_signatures`)."""
    lcol = f"{left_id}_l" if left_id == right_id else left_id
    rcol = f"{right_id}_r" if left_id == right_id else right_id
    ls = minhash_signatures(left, text_col, left_id, n_hashes, shingle_k, hash_fn)
    rs = minhash_signatures(right, text_col, right_id, n_hashes, shingle_k, hash_fn)
    cands = lsh_incremental_pairs(
        ls.withColumnRenamed(left_id, "doc_id"),
        rs.withColumnRenamed(right_id, "doc_id"),
        "doc_id", n_hashes, bands, max_bucket,
    ).select(F.col("new_id").alias(lcol), F.col("index_id").alias(rcol))
    verified = estimated_jaccard_two(
        cands,
        ls.withColumnRenamed(left_id, "doc_id"),
        rs.withColumnRenamed(right_id, "doc_id"),
        lcol, rcol, "doc_id",
    )
    return verified.filter(F.col("jaccard_est") >= threshold)
