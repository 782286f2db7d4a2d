"""Approximate-nearest-neighbor search over embedding columns.

Two paths:
- cosine_topk:      brute-force exact top-k — broadcast the (small) query
                    set against the corpus; one window per query for the
                    top-k cut.  The 100 TB baseline when queries are few.
- lsh_cosine_topk:  random-hyperplane LSH — deterministic ±1 hyperplanes,
                    sign-pattern bucket key computed in the scan stage;
                    candidates = bucket equi-join (shuffles only
                    (id, bucket) pairs), then exact re-rank within
                    candidates.  The scale path when queries are many.
- ivf_*:            coarse k-means quantizer + nprobe inverted-list
                    search (train / distributed refine / scan-stage
                    literal assign / search).
- pq_*:             product quantization (train / encode / ADC top-k) —
                    the memory-scale path: vectors compress to n_sub
                    code bytes and search reads only the codes table.

Dot products use a sequential fold (operators.dedup.dot_col) so results
are bit-reproducible across engines; hyperplanes are ±1 vectors derived
from md5 so the bucket function is engine-neutral and literal-embeddable
in oracle SQL.
"""

from __future__ import annotations

import hashlib
from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import dot_col, norm_col, safe_norm
from .digest import _BROADCASTS


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 random hyperplanes: bit b of md5(seed:plane:block)
    drives entry sign.  Pure function of (n_planes, dim, seed)."""
    planes: list[list[int]] = []
    for p in range(n_planes):
        row: list[int] = []
        block = 0
        bits: list[int] = []
        while len(row) < dim:
            if not bits:
                h = hashlib.md5(f"{seed}:{p}:{block}".encode()).digest()
                bits = [(byte >> k) & 1 for byte in h for k in range(8)]
                block += 1
            row.append(1 if bits.pop(0) else -1)
        planes.append(row)
    return planes


def lsh_bucket_col(vec_col, planes: Sequence[Sequence[int]]):
    """Sign-pattern bucket key: one char per hyperplane ('1' if dot>0 else
    '0').  ±1 entries mean the dot is a sequential add/subtract fold —
    deterministic and cheap (no multiplies needed, but we keep the generic
    fold for clarity; Catalyst codegens it either way)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bits = []
    for plane in planes:
        lit = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.when(dot_col(v, lit) > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k.

    `queries` is a (id_col, vec_col) DataFrame assumed small: it is
    broadcast, so the plan is a single pass over the corpus with no
    shuffle of the corpus itself; the window sort runs per query over
    n_corpus rows of (ids, score) — the classic scatter-gather ANN
    baseline.  Self-matches are excluded.  Ties break by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    ).withColumn("__qnr", norm_col(F.col("qv"))).withColumn("qn", safe_norm(F.col("__qnr"))).drop("__qnr")
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    ).withColumn("__cnr", norm_col(F.col("cv"))).withColumn("cn", safe_norm(F.col("__cnr"))).drop("__cnr")
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot_col("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    n_probes: int = 1,
) -> DataFrame:
    """LSH-bucketed approximate top-k: exact re-rank restricted to corpus
    vectors in the query's hyperplane bucket(s).  Recall < 1 by
    construction; `n_probes` > 1 enables multi-probe LSH (Lv et al.
    2007): the QUERY side additionally probes the buckets at Hamming
    distance 1 from its own (each single hyperplane flipped), trading
    nprobe x candidate volume for recall WITHOUT duplicating the corpus
    index — only the tiny broadcast query side fans out, the corpus
    still carries one bucket key per vector.  n_probes caps at
    n_planes + 1 (own bucket + every 1-bit flip); probe order is
    deterministic (own bucket, then flips in plane order).

    `dim` is required: inferring it would cost a first() job over the
    corpus before the plan even builds (a full scan stage at 100 TB)."""
    if dim is None:
        raise ValueError(
            "pass dim= explicitly (embedding width); inferring it would run "
            "a scan job before planning"
        )
    if not 1 <= n_probes <= n_planes + 1:
        raise ValueError(
            f"n_probes must be in [1, n_planes + 1 = {n_planes + 1}]"
        )
    planes = hyperplanes(n_planes, dim, seed)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        lsh_bucket_col(vec_col, planes).alias("bucket"),
    ).withColumn("__cnr", norm_col(F.col("cv"))).withColumn("cn", safe_norm(F.col("__cnr"))).drop("__cnr")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        lsh_bucket_col(vec_col, planes).alias("bucket"),
    ).withColumn("__qnr", norm_col(F.col("qv"))).withColumn("qn", safe_norm(F.col("__qnr"))).drop("__qnr")
    if n_probes > 1:
        own = F.col("bucket")
        probe_exprs = [own]
        for i in range(n_probes - 1):
            flipped = F.when(
                F.substring(own, i + 1, 1) == "1", F.lit("0")
            ).otherwise(F.lit("1"))
            probe_exprs.append(
                F.concat(F.substring(own, 1, i), flipped,
                         F.substring(own, i + 2, n_planes - i - 1))
            )
        q = (
            q.withColumn("bucket", F.explode(F.array(*probe_exprs)))
        )
    # no dedup needed: probe buckets are pairwise-distinct strings and a
    # corpus vector lives in exactly one bucket, so (query, neighbor)
    # pairs are unique by construction — a dropDuplicates here would add
    # a whole shuffle for nothing
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot_col("cv", "qv") / (F.col("cn") * F.col("qn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _seq_norm(vec: list[float]) -> float:
    """Sequential-fold L2 norm in Python floats (IEEE doubles, same
    accumulation order as norm_col's JVM fold -> identical bits)."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid",
    max_literal_cells: int = 4096,
    sim_col: str | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    by cosine (ties break toward the lower centroid id).  The assignment
    column then serves as the block key for search/near-dup (the inverted
    list).  Centroids typically come from a driver-side k-means over a
    sample (`ivf_train`, optionally `ivf_refine`) — any small (id, vec)
    table works.  Pass `sim_col` to also keep the winning cosine (e.g.
    for threshold gates: `semantic_contamination` builds on this).

    Plan shape: when the quantizer fits in the plan
    (n_cells <= `max_literal_cells`), the centroid table is collected
    (it is KB–MB sized by construction) and the argmin is computed IN
    THE SCAN STAGE as a `least()` over per-centroid (−cosine, cid)
    structs — zero joins, zero Exchange: at 100 TB the corpus is
    never shuffled just to learn its cell.  The previous formulation
    (broadcast join + row_number window partitioned by id) exchanged
    corpus × n_cells rows — n_cells-fold shuffle amplification.  Very
    large quantizers (beyond `max_literal_cells`) fall back to that
    join+window path, where the broadcast keeps the corpus scan-local
    but the window still shuffles; quantizers that big should prefer a
    NumPy matmul in mapInPandas (not engine-neutral, so not the oracle
    lane).
    """
    # ONE Spark job answers both "does it fit" and "give me the rows"
    # (limit(max+1) + collect, the percentile_enrich pattern) — a
    # separate count() re-executed the whole centroid lineage
    probe = centroids.select(
        F.col(centroid_id).alias("cid"), F.col(centroid_vec).alias("cv")
    ).limit(max_literal_cells + 1).collect()
    cent_rows = probe if len(probe) <= max_literal_cells else None

    if cent_rows:
        v = F.col(vec_col)
        # bind the row norm once in its own projection — inlined, each
        # candidate struct would re-fold it (n_cells x dim per row).
        # Zero-norm guard: a zero vector (or zero centroid) would divide
        # 0/0 — an ANSI-mode job abort.  Substituting norm=1 makes every
        # such cosine exactly 0.0 (the dot is 0), so zero vectors assign
        # to the lowest cid deterministically and never pass a positive
        # threshold; non-zero rows take the untouched branch bit-for-bit.
        tmp = emb.withColumn("__nvr", norm_col(v)).withColumn(
            "__nv",
            F.when(F.col("__nvr") == 0.0, F.lit(1.0)).otherwise(F.col("__nvr")),
        )
        candidates = []
        for r in sorted(cent_rows, key=lambda r: r["cid"]):
            cv = F.array(*[F.lit(float(x)) for x in r["cv"]])
            ncv = _seq_norm(list(r["cv"])) or 1.0
            sim = dot_col(v, cv) / (F.col("__nv") * F.lit(ncv))
            candidates.append(
                F.struct((-sim).alias("ns"), F.lit(r["cid"]).alias("cid"))
            )
        best = F.least(*candidates) if len(candidates) > 1 else candidates[0]
        out = tmp.withColumn("__best", best).withColumn(
            "ivf_cell", F.col("__best").getField("cid")
        )
        if sim_col is not None:
            out = out.withColumn(sim_col, -F.col("__best").getField("ns"))
        return out.drop("__best", "__nv", "__nvr")

    cents = (
        centroids.select(
            F.col(centroid_id).alias("cid"), F.col(centroid_vec).alias("cv")
        )
        .withColumn("cnr", norm_col(F.col("cv")))
        .withColumn(
            "cn", F.when(F.col("cnr") == 0.0, F.lit(1.0)).otherwise(F.col("cnr"))
        )
        .drop("cnr")
    )
    base = emb.withColumn("__nr", norm_col(F.col(vec_col))).withColumn(
        "__n", F.when(F.col("__nr") == 0.0, F.lit(1.0)).otherwise(F.col("__nr"))
    )
    scored = base.join(F.broadcast(cents)).withColumn(
        "__sim", dot_col(vec_col, "cv") / (F.col("__n") * F.col("cn"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("cid"))
    out = scored.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    if sim_col is not None:
        out = out.withColumn(sim_col, F.col("__sim"))
    return out.drop("__rk", "__sim", "__n", "__nr", "cv", "cn").withColumnRenamed(
        "cid", "ivf_cell"
    )


def ivf_train(
    emb: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    iters: int = 10,
    seed: int = 42,
    max_sample_per_cell: int = 1000,
):
    """Driver-side k-means (Lloyd's) over a BOUNDED sample: the coarse
    quantizer for IVF.  The sample is small by design (~`max_sample_per_cell`
    rows per centroid suffices) and is hard-capped with limit() regardless
    of `sample_fraction`, so the driver never collects more than
    n_cells*max_sample_per_cell vectors no matter the corpus size; the
    full corpus is only ever *assigned* (ivf_assign, one broadcast pass).
    `sample_fraction=None` (default) takes the cap straight off the scan
    (zero-shuffle); pass a fraction to randomize which rows feed the cap.
    Returns a (centroid_id, centroid) DataFrame.
    """
    import numpy as np

    cap = int(n_cells * max_sample_per_cell)
    sample = emb.select(vec_col)
    if sample_fraction is not None and sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    X = np.array([r[0] for r in sample.limit(cap).collect()], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        # matmul form: materializing the (n, k, d) difference cube costs
        # n*k*d*8 B of temporaries per iteration (GBs at real sample
        # sizes); |c|^2 - 2 x.c has the same argmin at n*k
        cn = (cents * cents).sum(axis=1)
        assign = (cn[None, :] - 2.0 * (X @ cents.T)).argmin(axis=1)
        for c in range(len(cents)):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(axis=0)
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )


def ivf_refine(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Distributed Lloyd refinement of IVF centroids over the FULL corpus.

    `ivf_train` fits a bounded driver-side sample; this polishes those
    centroids against every vector without ever collecting them: each
    iteration is one mapInPandas pass emitting per-(partition, cell)
    partial sums — (cell, sum vector, count), KBs per partition — merged
    driver-side into new means.  No shuffle, no raw-row collect; cost is
    `iters` scans.

    Assignment uses cosine (argmax dot/|v||c|), the same metric
    `ivf_assign`/`ivf_topk` use at query time, so refinement optimizes
    the quantizer actually deployed (spherical k-means; the unnormalized
    member mean assigns identically to the normalized one because a
    centroid's scale cancels in its own cosine).  Empty cells keep their
    previous centroid.  Returns the same (centroid_id, centroid) schema
    as ivf_train.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator

    spark = emb.sparkSession
    rows = sorted(
        ((int(r["centroid_id"]), np.asarray(r["centroid"], dtype=np.float64))
         for r in centroids.collect()),
        key=lambda t: t[0],
    )
    cids = [t[0] for t in rows]
    C = np.vstack([t[1] for t in rows])
    src = emb.select(vec_col)

    for _ in range(max(0, iters)):
        # zero-norm centroid guard (safe_norm contract, NumPy side): a
        # NaN centroid row would win EVERY argmax (NaN propagates as
        # max), assigning the whole corpus to the degenerate cell
        _cnorm = np.linalg.norm(C, axis=1, keepdims=True)
        _cnorm[_cnorm == 0] = 1.0
        Cn = C / _cnorm
        bc = spark.sparkContext.broadcast(Cn)
        n_cells, dim = C.shape

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cn = bc.value
            sums = np.zeros((n_cells, dim))
            counts = np.zeros(n_cells, dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.vstack(pdf.iloc[:, 0].to_numpy())
                nv = np.linalg.norm(X, axis=1, keepdims=True)
                nv[nv == 0] = 1.0
                cells = ((X / nv) @ cn.T).argmax(axis=1)
                np.add.at(sums, cells, X)
                np.add.at(counts, cells, 1)
            hit = counts > 0
            if hit.any():
                idx = np.nonzero(hit)[0]
                yield pd.DataFrame(
                    {
                        "cell": idx.astype("int32"),
                        "vsum": [sums[i].tolist() for i in idx],
                        "n": counts[idx],
                    }
                )

        agg = src.mapInPandas(
            partials, schema="cell int, vsum array<double>, n long"
        ).collect()
        bc.unpersist()
        tot = np.zeros_like(C)
        cnt = np.zeros(n_cells, dtype=np.int64)
        for r in agg:
            tot[r["cell"]] += np.asarray(r["vsum"])
            cnt[r["cell"]] += r["n"]
        upd = cnt > 0
        C = np.where(upd[:, None], tot / np.maximum(cnt, 1)[:, None], C)

    return spark.createDataFrame(
        [(cids[i], [float(x) for x in C[i]]) for i in range(len(cids))],
        "centroid_id int, centroid array<double>",
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: corpus vectors are assigned to their nearest cell once
    (the inverted lists); each query probes its `nprobe` nearest cells and
    re-ranks exactly within them.  Recall grows with nprobe; cost is
    ~nprobe/n_cells of brute force."""
    cents = centroids.select(
        F.col("centroid_id").alias("cid"), F.col("centroid").alias("cv")
    ).withColumn("__cnr", norm_col(F.col("cv"))).withColumn("cn", safe_norm(F.col("__cnr"))).drop("__cnr")

    corpus = ivf_assign(emb, centroids, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        F.col("ivf_cell").alias("cell"),
    ).withColumn("__nnr", norm_col(F.col("nv"))).withColumn("nn", safe_norm(F.col("__nnr"))).drop("__nnr")

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("__qnr", norm_col(F.col("qv"))).withColumn("qn", safe_norm(F.col("__qnr"))).drop("__qnr")
    scored_cells = q.join(F.broadcast(cents)).withColumn(
        "__sim", dot_col("qv", "cv") / (F.col("qn") * F.col("cn"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("cid"))
    probes = (
        scored_cells.withColumn("__rk", F.row_number().over(wc))
        .filter(F.col("__rk") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell"))
    )

    cand = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine", dot_col("nv", "qv") / (F.col("nn") * F.col("qn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def l2sq_col(a, b):
    """Sequential-fold squared-L2 distance of two array<double> columns.

    Same accumulation shape as `dot_col`: zip, per-index squared
    difference, left-to-right add fold — bit-identical to a scalar loop
    and to DuckDB's `list_sum(list_transform(range(...), ...))`, so PQ
    codes and ADC distances are engine-neutral (verified in the
    `pq_adc_topk` oracle)."""
    av = F.col(a) if isinstance(a, str) else a
    bv = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(av, bv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebooks_from_vectors(
    vectors: Sequence[Sequence[float]], n_sub: int
) -> list[list[list[float]]]:
    """Split `ksub` full-dimension code vectors into per-subspace
    codebooks: codebooks[s][j] = subvector s of vectors[j].  The
    deterministic quantizer used by the oracle query (code vectors drawn
    from the corpus itself); `pq_train` produces the same structure by
    k-means."""
    if not vectors:
        raise ValueError("need at least one code vector")
    dim = len(vectors[0])
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    dsub = dim // n_sub
    return [
        [[float(x) for x in v[s * dsub : (s + 1) * dsub]] for v in vectors]
        for s in range(n_sub)
    ]


def pq_train(
    emb: DataFrame,
    n_sub: int = 4,
    ksub: int = 256,
    vec_col: str = "embedding",
    iters: int = 10,
    seed: int = 42,
    max_sample_per_code: int = 100,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Driver-side product-quantization training: an independent Lloyd's
    k-means per subspace over ONE bounded sample (hard-capped at
    ksub * max_sample_per_code rows regardless of corpus size, same
    policy as `ivf_train`).  Returns codebooks[n_sub][ksub][dsub].

    PQ is the 100 TB embedding-index scale path: a 64-dim float corpus
    (256 B/vector) compresses to n_sub code bytes (4–8 B/vector), so the
    search working set shrinks ~30–60x and the ADC scan reads ONLY the
    code column — the vectors never leave the parquet files after
    encoding."""
    import numpy as np

    cap = int(ksub * max_sample_per_code)
    sample = emb.select(vec_col)
    if sample_fraction is not None and sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    X = np.array([r[0] for r in sample.limit(cap).collect()], dtype=np.float64)
    dim = X.shape[1]
    if dim % n_sub != 0:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    dsub = dim // n_sub
    rng = np.random.RandomState(seed)
    books: list[list[list[float]]] = []
    for s in range(n_sub):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        k = min(ksub, len(Xs))
        cents = Xs[rng.choice(len(Xs), size=k, replace=False)].copy()
        for _ in range(iters):
            # matmul form — see ivf_train: no (n, k, d) difference cube
            cn = (cents * cents).sum(axis=1)
            assign = (cn[None, :] - 2.0 * (Xs @ cents.T)).argmin(axis=1)
            for c in range(k):
                m = assign == c
                if m.any():
                    cents[c] = Xs[m].mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


# codegen guard for the literal encode lane: n_sub*ksub struct candidates,
# each folding dsub literal terms — beyond this, whole-stage codegen blows
# up and lane='arrow' wins anyway
PQ_MAX_LITERAL_TERMS = 8192


def _pq_kernel_tables(codebooks):
    """Transposed codebooks + squared norms for the argmin kernel."""
    import numpy as np

    CT = [
        np.ascontiguousarray(np.asarray(cb, dtype=np.float64).T)
        for cb in codebooks
    ]
    cnorms = [(ct * ct).sum(axis=0) for ct in CT]
    return CT, cnorms


def _pq_argmin_codes(X, CT, cnorms, dsub):
    """Blocked per-subspace argmin: rows are processed in blocks so the
    (blk x ksub) score matrix stays cache-resident — materializing all
    n x ksub scores costs ~3*ksub*8 B/row of DRAM traffic per subspace
    and saturates memory bandwidth once several executors share a socket
    (measured: 0.40 scaling efficiency unblocked vs in-cache blocks).
    argmin_j |x-c_j|^2 = argmin_j (|c_j|^2 - 2 x.c_j): the |x|^2 term is
    constant per row and skipped."""
    import numpy as np

    n = len(X)
    n_sub = len(CT)
    codes = np.empty((n, n_sub), dtype=np.int32)
    BLK = 1024
    for i in range(0, n, BLK):
        j = min(i + BLK, n)
        for s in range(n_sub):
            Xs = X[i:j, s * dsub : (s + 1) * dsub]
            sc = Xs @ CT[s]
            sc *= -2.0
            sc += cnorms[s][None, :]
            codes[i:j, s] = sc.argmin(axis=1)
    return codes


def _pq_encode_arrow(emb, codebooks, id_col, vec_col, out_col, extra_cols):
    """`pq_encode`'s arrow lane (see there)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from typing import Iterator

    n_sub = len(codebooks)
    dsub = len(codebooks[0][0])
    dim = n_sub * dsub
    CT, cnorms = _pq_kernel_tables(codebooks)

    def encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            arr = rb.column(rb.schema.get_field_index(vec_col))
            if arr.null_count:
                raise ValueError(
                    "pq_encode arrow lane requires non-null vectors"
                )
            # every row, not the total: widths dim-1 and dim+1 sum to
            # 2*dim and would reshape into mis-sliced vectors
            w = pc.min_max(pc.list_value_length(arr)).as_py()
            if w["min"] != dim or w["max"] != dim:
                raise ValueError(
                    f"pq_encode arrow lane requires uniform width {dim}; "
                    f"got row widths {w['min']}..{w['max']}"
                )
            # a NULL element would become NaN, and argmin would give its
            # subspace code 0
            if arr.flatten().null_count:
                raise ValueError(
                    "pq_encode arrow lane requires vectors without NULL elements"
                )
            X = arr.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            ).reshape(n, dim)
            codes = _pq_argmin_codes(X, CT, cnorms, dsub)
            cols = [rb.column(rb.schema.get_field_index(id_col))]
            names = [id_col]
            for c in extra_cols:
                cols.append(rb.column(rb.schema.get_field_index(c)))
                names.append(c)
            offsets = pa.array(
                np.arange(0, (n + 1) * n_sub, n_sub, dtype=np.int32)
            )
            cols.append(
                pa.ListArray.from_arrays(
                    offsets, pa.array(codes.reshape(-1), type=pa.int32())
                )
            )
            names.append(out_col)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    types = dict(emb.dtypes)
    fields = ", ".join(
        [f"{id_col} {types[id_col]}"]
        + [f"{c} {types[c]}" for c in extra_cols]
        + [f"{out_col} array<int>"]
    )
    return emb.select(id_col, *extra_cols, vec_col).mapInArrow(
        encode, schema=fields
    )


def _check_encode_lane(lane: str) -> None:
    if lane not in ("literal", "arrow"):
        raise ValueError(f"lane must be 'literal' or 'arrow' (got {lane!r})")


def pq_encode(
    emb: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    lane: str = "literal",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Product-quantization encode: per subspace, the code is the argmin
    squared-L2 sub-centroid (ties break toward the lower code id).
    Returns the NARROW (id_col, *extra_cols, out_col array<int>) codes
    table — the PQ index artifact; at scale this is what gets persisted
    and scanned.  `extra_cols` passes through additional small columns
    (e.g. the IVF cell for an IVFPQ index) without widening the scan.

    Lanes:
    - "literal" (oracle-neutral): the codebook is embedded as literal
      arrays and each subspace argmin is a `least()` over (dist, j)
      structs computed IN THE SCAN STAGE — zero joins, zero Exchange,
      zero Python; distances are sequential `l2sq_col` folds so codes
      are bit-reproducible across engines.  Guarded by
      PQ_MAX_LITERAL_TERMS (n_sub*ksub*dsub literal terms).
    - "arrow" (production): one mapInArrow pass; the vector column's
      flat buffer is viewed as an (n, dim) matrix with zero per-row
      object allocation (an np.vstack over per-row ndarrays costs ~2x
      per executor and churns the allocator), and the argmin is a
      cache-blocked (blk x ksub) matmul per subspace — the right shape
      for ksub=256 production codebooks where 16k literal folds would
      swamp codegen.  May differ from the literal lane only on sub-ulp
      distance ties (different accumulation order); argmin tie-break
      (first minimum = lowest j) matches.  Requires non-null vectors of
      width exactly n_sub*dsub with no NULL element.
    """
    _check_encode_lane(lane)
    n_sub = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])

    if lane == "literal":
        if n_sub * ksub * dsub > PQ_MAX_LITERAL_TERMS:
            raise ValueError(
                f"literal lane would embed {n_sub * ksub * dsub} terms "
                f"(> {PQ_MAX_LITERAL_TERMS}); use lane='arrow'"
            )
        # bind each subvector once in its own projection — inlined, every
        # candidate struct would re-slice it (see CLAUDE.md lambda note)
        tmp = emb.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            *[
                F.slice(vec_col, s * dsub + 1, dsub).alias(f"__s{s}")
                for s in range(n_sub)
            ],
        )
        code_cols = []
        for s in range(n_sub):
            cands = [
                F.struct(
                    l2sq_col(
                        F.col(f"__s{s}"),
                        F.array(*[F.lit(float(x)) for x in codebooks[s][j]]),
                    ).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j in range(ksub)
            ]
            best = F.least(*cands) if len(cands) > 1 else cands[0]
            code_cols.append(best.getField("j"))
        return tmp.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.array(*code_cols).alias(out_col),
        )

    return _pq_encode_arrow(emb, codebooks, id_col, vec_col, out_col, extra_cols)


def _pq_topk_numpy(
    codes: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int,
    id_col: str,
    vec_col: str,
    code_col: str,
    probe_units=None,
    cell_col: str | None = None,
) -> DataFrame:
    """Shared numpy ADC search worker (see pq_topk/ivf_pq_topk lane
    docs).  `probe_units` is a list of (query_id, lut (n_sub x ksub),
    allowed_cell-or-None); None derives one unit per query row from
    `queries` (flat PQ).  One mapInPandas pass gathers each candidate's
    ADC and keeps the per-partition top-k per query; a final window over
    n_partitions * n_units * k rows merges exactly."""
    import numpy as np
    import pandas as pd
    from typing import Iterator

    n_sub = len(codebooks)
    if probe_units is None:
        qrows = queries.select(id_col, vec_col).collect()
        qids = [r[0] for r in qrows]
        Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
        L = _pq_query_luts_np(Q, codebooks)
        probe_units = [(qids[i], L[i], None) for i in range(len(qids))]

    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(
        [(q, np.asarray(l), c) for q, l, c in probe_units]
    )
    # the broadcast must outlive the returned frame; register it for the
    # stage-boundary release (digest.release_broadcasts) instead of
    # leaking LUT blocks across a long session
    _BROADCASTS.append(bc)

    cols = [id_col, code_col] + ([cell_col] if cell_col else [])

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        units = bc.value
        acc_i = [[] for _ in units]
        acc_a = [[] for _ in units]
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            C = np.vstack(pdf[code_col].to_numpy()).astype(np.int64)
            cells = pdf[cell_col].to_numpy() if cell_col else None
            for ux, (qid, L, cell) in enumerate(units):
                if cell is not None:
                    mask = (cells == cell) & (ids != qid)
                else:
                    mask = ids != qid
                if not mask.any():
                    continue
                Cm, im = C[mask], ids[mask]
                # fixed s-order adds == the JVM lane's left-to-right chain
                adc = L[0, Cm[:, 0]].copy()
                for s in range(1, n_sub):
                    adc += L[s, Cm[:, s]]
                if len(adc) > k:
                    sel = np.lexsort((im, adc))[:k]
                    adc, im = adc[sel], im[sel]
                acc_a[ux].append(adc)
                acc_i[ux].append(im)
        out_q, out_i, out_a = [], [], []
        for ux, (qid, _, _) in enumerate(units):
            if not acc_i[ux]:
                continue
            a = np.concatenate(acc_a[ux])
            i = np.concatenate(acc_i[ux])
            sel = np.lexsort((i, a))[:k]
            out_q.extend([qid] * len(sel))
            out_i.extend(i[sel].tolist())
            out_a.extend(a[sel].tolist())
        if out_q:
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_i, "adc": out_a}
            )

    id_type = dict(codes.dtypes)[id_col]
    partial = codes.select(*cols).mapInPandas(
        part, schema=f"query_id {id_type}, neighbor_id {id_type}, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def _pq_query_luts_np(Q, codebooks):
    """LUTs[q, s, j] = squared-L2 from query q's subvector s to code j,
    accumulated exactly like `l2sq_col`'s sequential fold (same adds in
    the same order -> bit-identical to the JVM lane)."""
    import numpy as np

    n_sub = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    L = np.zeros((len(Q), n_sub, ksub))
    for s in range(n_sub):
        C = np.asarray(codebooks[s])  # (ksub, dsub)
        qs = Q[:, s * dsub : (s + 1) * dsub]
        acc = np.zeros((len(Q), ksub))
        for d in range(dsub):
            diff = qs[:, d : d + 1] - C[None, :, d]
            acc = acc + diff * diff  # index-order sequential adds
        L[:, s, :] = acc
    return L


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    lane: str = "jvm",
) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC, Jégou et al.
    2011 "Product quantization for nearest neighbor search"): each query
    precomputes ONE lookup table per subspace (squared-L2 from its
    subvector to every sub-centroid, ksub doubles), and a corpus row's
    approximate distance is then just n_sub table lookups summed —
    element_at over the code array, no vector math per candidate.

    Plan shape (100 TB): the corpus side is the NARROW codes table
    (id + n_sub small ints — the embedding column never moves, never
    even gets scanned); the query side with its LUTs is KB-sized and
    broadcast; the only shuffle is the per-query top-k window over
    (query_id, neighbor_id, adc) rows.  LUT folds are sequential
    (`l2sq_col`) and the adc sum is a fixed left-to-right chain over
    subspaces, so distances — and therefore ranks — are bit-reproducible
    across engines.  Ties break by neighbor id; self-matches excluded.
    Returns (query_id, neighbor_id, rank, adc).

    Lanes:
    - "jvm" (oracle-neutral): the LUTs ride the broadcast join.  Fine
      for the gated oracle scale, but every joined row COPIES the
      matched build-side row — n_sub*ksub*8 B per candidate (measured
      ~16 KB/row at ksub=256: 6.4M candidates moved ~100 GB and took
      ~90 s).  Use only when ksub is small or candidates are few.
    - "numpy" (production): LUTs broadcast out-of-band (KBs, once per
      executor), one mapInPandas pass computes every candidate's ADC by
      fancy-indexed gather and keeps only the per-partition top-k per
      query; the final exact merge windows n_partitions*n_queries*k
      rows.  Accumulation order matches the JVM lane exactly
      (per-dimension sequential adds), so results are identical
      including tie-breaks.
    """
    if lane == "numpy":
        return _pq_topk_numpy(
            codes, queries, codebooks, k, id_col, vec_col, code_col
        )
    if lane != "jvm":
        raise ValueError(f"unknown lane {lane!r}")
    n_sub = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])

    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            F.slice(vec_col, s * dsub + 1, dsub).alias(f"__qs{s}")
            for s in range(n_sub)
        ],
    )
    luts = []
    for s in range(n_sub):
        entries = [
            l2sq_col(
                F.col(f"__qs{s}"),
                F.array(*[F.lit(float(x)) for x in codebooks[s][j]]),
            )
            for j in range(ksub)
        ]
        luts.append(F.array(*entries).alias(f"__lut{s}"))
    q = q.select("query_id", *luts)

    joined = codes.join(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    adc = None
    for s in range(n_sub):
        term = F.element_at(
            F.col(f"__lut{s}"), F.element_at(F.col(code_col), s + 1) + F.lit(1)
        )
        adc = term if adc is None else adc + term
    scored = joined.withColumn("adc", adc)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "rank", "adc"
        )
    )


def random_project(
    emb: DataFrame,
    out_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "projected",
    seed: int = 42,
    dim: int | None = None,
    scale: bool = True,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a deterministic ±1
    matrix (Achlioptas 2003, "Database-friendly random projections":
    sign matrices satisfy the JL guarantee with the same distortion
    bounds as Gaussian ones).  Row i of the matrix is `hyperplanes`'
    md5-derived ±1 vector, so the projection is a pure function of
    (out_dim, dim, seed) — engine-neutral and literal-embeddable in
    oracle SQL.

    Each output coordinate is one sequential `dot_col` fold against a
    literal ±1 array, computed IN THE SCAN STAGE: no Exchange, no
    Python, out_dim x dim multiply-adds per row inside whole-stage
    codegen.  With `scale` (default) entries are divided by
    sqrt(out_dim) so squared distances are unbiased estimates of the
    originals.  At 100 TB this is the cheap pre-step that turns a
    768-dim float corpus into a 64-dim one before LSH/IVF/PQ indexing —
    a 12x shuffle/state reduction for every downstream similarity op.

    `dim` is required for the same reason as `lsh_cosine_topk`:
    inferring it would run a scan job before the plan even builds.
    Returns (id_col, out_col array<double>).
    """
    if dim is None:
        raise ValueError(
            "pass dim= explicitly (embedding width); inferring it would run "
            "a scan job before planning"
        )
    planes = hyperplanes(out_dim, dim, seed)
    v = F.col(vec_col)
    denom = float(out_dim) ** 0.5 if scale else 1.0
    coords = [
        (dot_col(v, F.array(*[F.lit(float(x)) for x in p])) / F.lit(denom))
        for p in planes
    ]
    return emb.select(F.col(id_col), F.array(*coords).alias(out_col))


def ivf_residual_frame(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its coarse cell and replace the vector with
    its RESIDUAL (x − centroid) — all JVM: scan-stage cell assignment
    plus a broadcast centroid join and a zip_with subtraction, no
    Exchange of the corpus.  Residuals are what FAISS-style IVFPQ
    actually quantizes: they concentrate near the origin, so the same
    code budget spends its resolution where the in-cell geometry lives
    instead of re-encoding the cell mean every row.  Returns the input
    columns with `vec_col` replaced and `ivf_cell` appended — feed it to
    `pq_train` (residual codebooks) and `pq_encode`."""
    assigned = ivf_assign(
        emb.select(F.col(id_col), F.col(vec_col)), centroids, id_col, vec_col
    )
    cents = centroids.select(
        F.col("centroid_id").alias("ivf_cell"), F.col("centroid").alias("__cv")
    )
    return (
        assigned.join(F.broadcast(cents), "ivf_cell")
        .withColumn(vec_col, F.zip_with(vec_col, "__cv", lambda x, c: x - c))
        .drop("__cv")
        .select(F.col(id_col), F.col("ivf_cell"), F.col(vec_col))
    )


def ivf_pq_index(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lane: str = "literal",
    residual: bool = False,
) -> DataFrame:
    """Build the IVFPQ index table (id, ivf_cell, pq_code): coarse-cell
    assignment (scan-stage literal argmin for small quantizers, see
    `ivf_assign`) composed with PQ encoding — with the literal lanes both
    steps live in the same scan stage, so the WHOLE index build is one
    pass over the corpus with zero Exchange (asserted in test_plans).
    This is the classic billion-scale ANN layout (FAISS IVFPQ): the cell
    prunes candidates, the code makes each candidate's distance a few
    table lookups.

    `residual=True` quantizes x − centroid(cell) instead of x (the FAISS
    default; see `ivf_residual_frame`) — pass codebooks TRAINED ON
    RESIDUALS (`pq_train(ivf_residual_frame(...))`) and search with
    `ivf_pq_topk(..., residual=True)`.  The residual join is a broadcast
    of the KB-sized centroid table, still zero corpus Exchange.
    `lane` is `pq_encode`'s (literal | arrow)."""
    _check_encode_lane(lane)
    if residual:
        assigned = ivf_residual_frame(emb, centroids, id_col, vec_col)
    else:
        assigned = ivf_assign(
            emb.select(F.col(id_col), F.col(vec_col)), centroids, id_col, vec_col
        )
    return pq_encode(
        assigned, codebooks, id_col, vec_col, lane=lane, extra_cols=["ivf_cell"]
    )


def ivf_pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    cell_col: str = "ivf_cell",
    residual: bool = False,
    lane: str = "jvm",
) -> DataFrame:
    """IVFPQ search: each query probes its `nprobe` nearest coarse cells
    (cosine to the centroids, same metric as assignment) and ranks ONLY
    the codes in those cells by ADC distance.  vs `pq_topk` the candidate
    set shrinks ~nprobe/n_cells; vs `ivf_topk` each candidate costs n_sub
    lookups instead of a full-dimension dot product and the corpus side
    carries codes, not vectors.

    Plan shape (100 TB): the index table `codes` (from `ivf_pq_index`)
    is the only corpus-sized input — scanned once, cell-equi-joined
    against the KB-sized broadcast probe set; the embedding column never
    appears.  LUTs are per-PROBE-row (nprobe duplicates per query) —
    redundant folds on a tiny frame, beats an extra join.  Deterministic
    tie-breaks (cell by centroid id, rank by neighbor id) and sequential
    folds keep results engine-exact.  Returns
    (query_id, neighbor_id, rank, adc).

    `residual=True` matches an index built with residual quantization:
    each probe's LUT is computed from (q − centroid of THAT cell), so
    the ADC distance approximates |q − (centroid + decoded residual)|²
    per cell — the FAISS IVFPQ search rule.  The per-probe LUT structure
    already pays for this: residual only changes what gets sliced.

    `lane="numpy"` runs the candidate scoring through the shared numpy
    ADC worker (see pq_topk) — probe selection stays on the JVM
    expressions (tiny frame, collected), LUTs are built from the same
    subtraction/fold order, results identical including tie-breaks; use
    it whenever nprobe*|cells| candidates are large enough for the JVM
    lane's per-candidate build-row copy to matter."""
    n_sub = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])

    cents = centroids.select(
        F.col("centroid_id").alias("cid"), F.col("centroid").alias("cv")
    ).withColumn("__cnr", norm_col(F.col("cv"))).withColumn("cn", safe_norm(F.col("__cnr"))).drop("__cnr")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("__qnr", norm_col(F.col("qv"))).withColumn("qn", safe_norm(F.col("__qnr"))).drop("__qnr")
    scored_cells = q.join(F.broadcast(cents)).withColumn(
        "__sim", dot_col("qv", "cv") / (F.col("qn") * F.col("cn"))
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("cid"))
    selected = scored_cells.withColumn("__rk", F.row_number().over(wc)).filter(
        F.col("__rk") <= nprobe
    )

    if lane == "numpy":
        import numpy as np

        units = []
        for r in selected.select("query_id", "cid", "qv", "cv").collect():
            qv = np.asarray(r["qv"], dtype=np.float64)
            src = (
                qv - np.asarray(r["cv"], dtype=np.float64) if residual else qv
            )
            lut = _pq_query_luts_np(src[None, :], codebooks)[0]
            units.append((r["query_id"], lut, r["cid"]))
        return _pq_topk_numpy(
            codes, None, codebooks, k, id_col, vec_col, code_col,
            probe_units=units, cell_col=cell_col,
        )
    if lane != "jvm":
        raise ValueError(f"unknown lane {lane!r}")

    lut_src = (
        F.zip_with("qv", "cv", lambda x, c: x - c) if residual else F.col("qv")
    )
    probes = (
        selected
        # bind the (possibly residual) LUT source once — sliced n_sub times
        .withColumn("__lsrc", lut_src)
        .select(
            "query_id",
            F.col("cid").alias(cell_col),
            *[
                F.slice("__lsrc", s * dsub + 1, dsub).alias(f"__qs{s}")
                for s in range(n_sub)
            ],
        )
    )
    luts = []
    for s in range(n_sub):
        entries = [
            l2sq_col(
                F.col(f"__qs{s}"),
                F.array(*[F.lit(float(x)) for x in codebooks[s][j]]),
            )
            for j in range(ksub)
        ]
        luts.append(F.array(*entries).alias(f"__lut{s}"))
    probes = probes.select("query_id", cell_col, *luts)

    cand = codes.join(F.broadcast(probes), cell_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    adc = None
    for s in range(n_sub):
        term = F.element_at(
            F.col(f"__lut{s}"), F.element_at(F.col(code_col), s + 1) + F.lit(1)
        )
        adc = term if adc is None else adc + term
    scored = cand.withColumn("adc", adc)
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "adc")
    )


def rerank_exact(
    candidates: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact rerank of ANN candidates — the second half of the deployed
    retrieval system: quantized codes GENERATE candidates (pq_topk /
    ivf_pq_topk at retrieval depth C >> k), full vectors RERANK them.
    Measured on 200k clustered vectors: raw 8-byte-ADC recall@10 is
    0.16–0.21 (codes cannot resolve within-cluster ranks), reranking the
    ADC top-100 recovers 0.98–1.0.

    Plan shape: `candidates` (query_id, neighbor_id) semi-restricts the
    vector fetch — the equi-join back to `emb` touches ONLY candidate
    rows (C per query, not the corpus), the query side broadcasts, and
    the exact squared-L2 is the sequential engine-neutral fold.  Returns
    (query_id, neighbor_id, rank, l2sq) with ties broken by neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    v = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    j = (
        candidates.select("query_id", "neighbor_id")
        .join(v, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("l2sq", l2sq_col(F.col("__nv"), F.col("__qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2sq"), F.asc("neighbor_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2sq")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_cell: int | None = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding
    space with a coarse quantizer, then within each cluster remove every
    vector that has a semantic near-duplicate at cosine >= `threshold`.

    This is the semantic member of the dedup family: exact/MinHash/
    SimHash catch lexical duplication, `embedding_near_dup` catches
    near-identical vectors inside a CALLER-provided block — SemDeDup
    additionally derives the blocks from the geometry itself (k-means
    cells), so paraphrases and cross-lingual re-posts that share no
    tokens still deduplicate.

    Keep rule (deterministic, engine-neutral): a vector is kept iff NO
    same-cell vector with a SMALLER id has cosine >= threshold to it.
    The paper keeps one arbitrary representative per epsilon-
    neighborhood; pinning min-id makes the output a pure function of the
    input, invariant to partitioning and re-runs.  Note this is EXISTS
    semantics, not connected components: in a chain a~b~c with
    cos(a,c) < threshold, b is removed (a is smaller) and c is removed
    iff cos(b,c) >= threshold even though b itself was removed — chain
    collapse to one representative needs `resolve_dup_clusters` over
    `embedding_near_dup` pairs when that is wanted.

    `centroids` is a small (centroid_id, centroid) table — typically
    `ivf_train(emb, n_cells)` (distributed Lloyd refinement available
    via `ivf_refine`).  Returns (id_col, ivf_cell, keep).

    Scale shape (100 TB): small quantizers assign IN THE SCAN STAGE
    (literal least() argmin, no shuffle of the corpus — see ivf_assign);
    the only corpus shuffle is the in-cell self-join, whose pair space
    is the sum of per-cell squares — pick n_cells ~ corpus/10k so cells
    stay ~10k vectors (the paper uses ~100k clusters for LAION-scale).
    `max_cell` guards the degenerate cell (zero/default embeddings all
    landing together): cells larger than it are EXCLUDED from pairing —
    counted per cell BEFORE any pair materializes, same philosophy as
    the LSH `max_bucket` guard — and their rows come back keep=True
    (a cell that big is a pathology to handle separately, not a
    neighborhood to self-join).  The default cap (20k, the paper's
    target cell size order) makes the pathology opt-OUT: pass
    `max_cell=None` only when the quantizer is known to balance.
    """
    assigned = ivf_assign(
        emb.select(F.col(id_col), F.col(vec_col)), centroids, id_col, vec_col
    )
    from .dedup import embedding_near_dup

    pairable = assigned
    if max_cell is not None:
        ok_cells = (
            assigned.groupBy("ivf_cell")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_cell)
            .select("ivf_cell")
        )
        pairable = assigned.join(F.broadcast(ok_cells), "ivf_cell")
    pairs = embedding_near_dup(
        pairable, id_col, vec_col, block_col="ivf_cell", threshold=threshold
    )
    removed = (
        pairs.select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__rm", F.lit(True))
    )
    return (
        assigned.join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.col("ivf_cell"),
            F.col("__rm").isNull().alias("keep"),
        )
    )

def semantic_contamination(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id: str = "bench_id",
    bench_vec: str = "embedding",
    max_literal_bench: int = 4096,
    lane: str = "jvm",
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag every corpus
    vector whose nearest BENCHMARK embedding has cosine >= `threshold`
    — the semantic sibling of `ngram_contamination` (an eval item
    paraphrased or reformatted slips past n-gram overlap but not past
    its own embedding neighborhood).

    Returns the NARROW frame (id_col, nearest_bench_id, bench_cosine,
    contaminated), one row per corpus vector — join it back or
    anti-filter to decontaminate.

    Lanes:
    - "jvm" (default, oracle-neutral): `ivf_assign` with the benchmark
      as the quantizer — small eval sets argmax IN THE SCAN STAGE as a
      literal least() fold (zero joins/shuffles of the corpus; fine to
      a few hundred items before codegen folds get bulky), larger sets
      fall back to the broadcast+window path (shuffles corpus × bench
      rows — oracle scale only).  The threshold compares the same
      sequential-fold cosine the gated `embedding_near_dup`/
      `semantic_dedup` queries use.
    - "numpy" (production): the bench matrix broadcasts out-of-band
      (pre-normalized rows, MBs once per executor) and ONE mapInPandas
      pass computes every row's best bench cosine by blocked matmul —
      the 100 TB shape for real eval suites (10k–1M items): corpus
      never shuffles, no per-row build-side copy (the pq_topk lesson).
      Matmul reassociates the dot sum, so cosines can differ from the
      jvm lane by ulps (flags agree except exactly at the threshold).

    Zero-norm vectors: BOTH lanes substitute norm=1, so the cosine is
    exactly 0.0 against every bench item, the nearest id is the lowest
    bench id (identical tie-break: least() lowest-cid == argmax
    first-hit over the bid-sorted matrix), and any positive threshold
    leaves them unflagged — no ANSI divide-by-zero abort, full lane
    agreement.  Bench ids may be any orderable type (ints, strings);
    the numpy lane carries them as objects and mirrors the bench id
    column's Spark type in its output schema.
    """
    if lane == "numpy":
        import numpy as _np
        from pyspark.sql import types as T

        rows = (
            bench_emb.select(F.col(bench_id).alias("b"), F.col(bench_vec).alias("v"))
            .collect()
        )
        if not rows:
            raise ValueError("semantic_contamination: empty benchmark set")
        rows.sort(key=lambda r: r["b"])  # argmax first-hit = lowest bench id
        bids = _np.array([r["b"] for r in rows], dtype=object)
        mat = _np.array([r["v"] for r in rows], dtype=_np.float64)
        norms = _np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        matn = (mat / norms[:, None]).T.copy()  # (dim, n_bench)
        sc = corpus_emb.sparkSession.sparkContext
        bc = sc.broadcast((bids, matn))
        _BROADCASTS.append(bc)  # released at stage boundaries (see above)
        id_type = corpus_emb.schema[id_col].dataType
        bench_id_type = bench_emb.schema[bench_id].dataType
        schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField("nearest_bench_id", bench_id_type),
                T.StructField("bench_cosine", T.DoubleType()),
                T.StructField("contaminated", T.BooleanType()),
            ]
        )
        tau = float(threshold)

        def score(batches):
            import pandas as _pd

            b_ids, b_mat = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _np.array(pdf[vec_col].tolist(), dtype=_np.float64)
                xn = _np.linalg.norm(X, axis=1)
                xn[xn == 0.0] = 1.0  # zero rows: dot=0 -> cosine exactly 0.0
                sims = (X @ b_mat) / xn[:, None]
                best = _np.argmax(sims, axis=1)
                cos = sims[_np.arange(len(X)), best]
                yield _pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "nearest_bench_id": b_ids[best],
                        "bench_cosine": cos,
                        "contaminated": cos >= tau,
                    }
                )

        return corpus_emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
            score, schema
        )
    if lane != "jvm":
        raise ValueError(f"unknown lane: {lane!r}")
    flags = ivf_assign(
        corpus_emb.select(F.col(id_col), F.col(vec_col)),
        bench_emb.select(
            F.col(bench_id).alias("centroid_id"),
            F.col(bench_vec).alias("centroid"),
        ),
        id_col=id_col,
        vec_col=vec_col,
        max_literal_cells=max_literal_bench,
        sim_col="bench_cosine",
    )
    return flags.select(
        F.col(id_col),
        F.col("ivf_cell").alias("nearest_bench_id"),
        F.col("bench_cosine"),
        (F.col("bench_cosine") >= F.lit(float(threshold))).alias("contaminated"),
    )
