"""ANN quality benchmark: recall@k of the PQ / IVFPQ search paths vs
exact L2 ground truth, across probe budgets and quantization rules.

Corpus: deterministic CLUSTERED vectors (planted Gaussian clusters —
real embedding spaces are clustered; on i.i.d. Gaussian noise all
pairs are near-equidistant at 64 dims and "recall" measures nothing,
for ANY index).  Ground truth is exact squared-L2 top-k computed in
NumPy; the measured paths are the actual Spark operators (arrow encode
lane + numpy ADC search), so the numbers are end-to-end — candidate
pruning, tie-breaks, LUT algebra and all.

Prints one JSON line per configuration plus a summary line; the BENCH
table in BENCH/BASELINE.md records a run.

Usage: python tools/bench_ann_recall.py [--rows 200000] [--k 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import numpy as np

    from tdigest_spark.plans import get_spark
    from tdigest_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        ivf_residual_frame,
        ivf_train,
        pq_encode,
        pq_topk,
        pq_train,
    )
    from pyspark.sql import functions as F

    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=32)
    ap.add_argument("--n-cells", type=int, default=64)
    ap.add_argument("--n-sub", type=int, default=8)
    ap.add_argument("--ksub", type=int, default=256)
    ap.add_argument("--skip-flat", action="store_true",
                    help="skip the unpruned flat-PQ full scan (big runs)")
    ap.add_argument("--skip-residual", action="store_true",
                    help="skip the residual-rule index (halves big runs)")
    ap.add_argument("--retrieve", type=int, nargs="+", default=[100],
                    help="ADC retrieval depth(s) before exact rerank; at "
                    "large corpora recall is retrieve- and nprobe-limited, "
                    "sweep both")
    ap.add_argument("--nprobes", type=int, nargs="+", default=[1, 2, 4, 8],
                    help="IVF probe budgets to sweep")
    ap.add_argument("--cache-index", action="store_true",
                    help="persist/reuse the encoded IVFPQ codes parquet "
                    "under /tmp keyed by the corpus+quantizer config "
                    "(codes are ~30 B/vector; skips the ~25 min 12.8M "
                    "encode on re-runs)")
    args = ap.parse_args()

    # deterministic clustered corpus: rows/100 Gaussian clusters of 100
    # points each (sigma 0.25 around unit-scale centers).  Above the
    # in-memory threshold the corpus goes to PARQUET in 100k-row files
    # (per-file RNG streams — regeneration is order-independent and the
    # layout matches a real vector table); X stays in RAM as float32
    # (3.3 GB at 12.8M) for ground truth + rerank only.
    dim = 64
    n_clusters = max(1, args.rows // 100)
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((n_clusters, dim)).astype(np.float32)

    ON_DISK = args.rows >= 2_000_000
    CHUNK = 100_000

    def chunk_vectors(f: int, lo: int, hi: int) -> np.ndarray:
        crng = np.random.default_rng(9000 + f)
        assign = np.arange(lo, hi) % n_clusters
        return centers[assign] + crng.standard_normal(
            (hi - lo, dim), dtype=np.float32
        ) * np.float32(0.25)

    spark = get_spark(
        master="local[16]", shuffle_partitions=16,
        extra_conf={
            "spark.driver.memory": "24g" if ON_DISK else "8g",
            "spark.ui.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as pd

    if ON_DISK:
        import pyarrow as pa
        import pyarrow.parquet as papq

        corpus_dir = f"/tmp/tdigest_ann_recall_{args.rows}"
        n_files = (args.rows + CHUNK - 1) // CHUNK
        # cache validity = commit marker, not a bare file count: a crashed
        # prior generation can leave n_files with a truncated tail part,
        # and stray files over-count.  Pre-marker corpora are adopted only
        # after a metadata-level row-count audit (cheap: parquet footers).
        marker = os.path.join(corpus_dir, "_SUCCESS")
        part_files = (
            sorted(
                f for f in os.listdir(corpus_dir)
                if f.startswith("part") and f.endswith(".parquet")
            )
            if os.path.isdir(corpus_dir)
            else []
        )
        complete = os.path.isfile(marker) and len(part_files) == n_files
        if not complete and len(part_files) == n_files:
            try:
                total = sum(
                    papq.ParquetFile(os.path.join(corpus_dir, f)).metadata.num_rows
                    for f in part_files
                )
                if total == args.rows:
                    with open(marker, "w"):
                        pass
                    complete = True
            except Exception:
                complete = False
        if not complete:
            # rewrite the whole generation: a stale or stray part
            # file left in place would be read back with the new ones,
            # and a leftover marker would certify a half-rewritten cache
            for f in part_files:
                os.remove(os.path.join(corpus_dir, f))
            if os.path.isfile(marker):
                os.remove(marker)
            os.makedirs(corpus_dir, exist_ok=True)
        parts = []
        for f in range(n_files):
            lo, hi = f * CHUNK, min((f + 1) * CHUNK, args.rows)
            Xc = chunk_vectors(f, lo, hi)
            parts.append(Xc)
            path = os.path.join(corpus_dir, f"part{f:04d}.parquet")
            if not complete:
                t = pa.table({
                    "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                    "embedding": pa.FixedSizeListArray.from_arrays(
                        pa.array(Xc.reshape(-1)), dim
                    ),
                })
                papq.write_table(t, path)
        if not complete:
            with open(marker, "w"):
                pass
        X = np.concatenate(parts)
        del parts
        emb = spark.read.parquet(corpus_dir).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        n = emb.count()
    else:
        X = chunk_vectors(0, 0, args.rows)
        emb = spark.createDataFrame(
            pd.DataFrame(
                {"vec_id": np.arange(args.rows), "embedding": list(X)}
            )
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        emb = emb.repartition(32).persist()
        n = emb.count()

    qids = [int(i * (args.rows // args.n_queries)) for i in range(args.n_queries)]
    # ground truth in float64 chunks (the operators score the parquet
    # float32 values as doubles; float32 distance sums would misrank ties)
    gt: dict[int, set[int]] = {}
    Q64 = X[qids].astype(np.float64)
    best_d = np.full((len(qids), args.k), np.inf)
    best_i = np.full((len(qids), args.k), -1, dtype=np.int64)
    for lo in range(0, args.rows, CHUNK):
        hi = min(lo + CHUNK, args.rows)
        C = X[lo:hi].astype(np.float64)
        d2 = (
            (C * C).sum(axis=1)[None, :]
            - 2.0 * Q64 @ C.T
            + (Q64 * Q64).sum(axis=1)[:, None]
        )
        for qi, q in enumerate(qids):
            if lo <= q < hi:
                d2[qi, q - lo] = np.inf
            cd = np.concatenate([best_d[qi], d2[qi]])
            ci = np.concatenate([best_i[qi], np.arange(lo, hi)])
            order = np.lexsort((ci, cd))[: args.k]
            best_d[qi], best_i[qi] = cd[order], ci[order]
    for qi, q in enumerate(qids):
        gt[q] = set(int(i) for i in best_i[qi])

    queries = emb.filter(F.col("vec_id").isin(qids))

    RETRIEVE = max(args.retrieve)  # ADC retrieval depth; rerank cuts to k

    def recall(out_df) -> tuple[float, dict[int, float]]:
        """(recall@k of raw ADC top-k, {retrieve_depth: recall@k after
        exact rerank of the ADC top-depth}) — the rerank column is the
        deployed-system metric: m-byte codes generate candidates, full
        vectors rerank them.  One search at depth max(retrieve) serves
        every depth (a depth's candidate list is a prefix of a deeper
        one's)."""
        got: dict[int, list[tuple[int, int]]] = {}
        for r in out_df.collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        raw = []
        rr: dict[int, list[float]] = {d: [] for d in args.retrieve}
        for q in qids:
            cand = [n for _, n in sorted(got.get(q, []))]
            raw.append(len(set(cand[: args.k]) & gt[q]) / args.k)
            for depth in args.retrieve:
                cd = cand[:depth]
                if cd:
                    d2 = (
                        (X[cd].astype(np.float64) - X[q].astype(np.float64))
                        ** 2
                    ).sum(axis=1)
                    order = np.lexsort((np.array(cd), d2))
                    top = {cd[i] for i in order[: args.k]}
                else:
                    top = set()
                rr[depth].append(len(top & gt[q]) / args.k)
        return (
            float(np.mean(raw)),
            {d: float(np.mean(v)) for d, v in rr.items()},
        )

    results = []

    def record(name, rec, secs, **extra):
        raw, rr = rec
        row = {"config": name, "recall_at_k": round(raw, 4),
               "recall_at_k_reranked": round(rr[RETRIEVE], 4),
               "sec": round(secs, 2), "k": args.k, "rows": n, **extra}
        if len(args.retrieve) > 1:
            row["reranked_by_depth"] = {
                str(d): round(v, 4) for d, v in sorted(rr.items())
            }
        results.append(row)
        print(json.dumps(row), flush=True)

    # flat PQ (no pruning — quantization error only)
    books = pq_train(emb, n_sub=args.n_sub, ksub=args.ksub, iters=8, seed=3)
    if not args.skip_flat:
        t0 = time.time()
        codes = pq_encode(emb, books, lane="arrow").persist()
        codes.count()
        rec = recall(pq_topk(codes, queries, books, k=RETRIEVE, lane="numpy"))
        record("flat_pq", rec, time.time() - t0)
        codes.unpersist()

    cents = ivf_train(emb, n_cells=args.n_cells, iters=8, seed=3)

    for residual in (False, True):
        if residual and args.skip_residual:
            continue
        if residual:
            rbooks = pq_train(
                ivf_residual_frame(emb, cents),
                n_sub=args.n_sub, ksub=args.ksub, iters=8, seed=3,
            )
        else:
            rbooks = books
        t0 = time.time()
        cache_dir = (
            f"/tmp/tdigest_ann_index_{args.rows}_{args.n_cells}_"
            f"{args.n_sub}_{args.ksub}_{'res' if residual else 'plain'}"
            if args.cache_index else None
        )
        if cache_dir and os.path.isdir(cache_dir):
            index = spark.read.parquet(cache_dir).persist()
        else:
            index = ivf_pq_index(
                emb, cents, rbooks, lane="arrow", residual=residual
            )
            if cache_dir:
                index.write.mode("overwrite").parquet(cache_dir)
                index = spark.read.parquet(cache_dir).persist()
            else:
                index = index.persist()
        index.count()
        build_s = time.time() - t0
        for nprobe in args.nprobes:
            t0 = time.time()
            rec = recall(
                ivf_pq_topk(
                    index, queries, cents, rbooks,
                    k=RETRIEVE, nprobe=nprobe, residual=residual,
                    lane="numpy",
                )
            )
            record(
                f"ivfpq{'_residual' if residual else ''}_nprobe{nprobe}",
                rec, time.time() - t0,
                cells_scanned_frac=round(nprobe / args.n_cells, 4),
            )
        index.unpersist()
        print(json.dumps({"config": "index_build",
                          "residual": residual,
                          "sec": round(build_s, 2)}), flush=True)

    print(json.dumps({
        "metric": "ann_recall_suite",
        "rows": n, "k": args.k, "n_queries": args.n_queries,
        "n_cells": args.n_cells, "n_sub": args.n_sub, "ksub": args.ksub,
        "results": {r["config"]: [r["recall_at_k"], r["recall_at_k_reranked"]] for r in results},
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
