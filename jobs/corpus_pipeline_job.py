"""spark-submit entry point: the full training-data curation pipeline.

    zip -r tdigest_spark.zip tdigest_spark
    spark-submit --py-files tdigest_spark.zip jobs/corpus_pipeline_job.py \
        --input /data/webpages --output /data/curated

Stages (each a library operator; all narrow or KB-shuffle):
  1. extract_text(html)      — Arrow-batched byte-exact extraction
  2. quality filter          — stopword/alpha-ratio/token-count gates (JVM)
  2.5 (optional --line-dedup-min-docs N) RefinedWeb cross-corpus line
      dedup — boilerplate lines removed before doc-level dedup
  3. exact + MinHash-LSH dedup -> cluster resolution -> keep representatives
  3.5 (optional --benchmark) eval-set decontamination — broadcast n-gram join
  3.75 (optional --score) model-based quality columns — bigram-LM
      avg_nll_bits/oov + hashed-feature classifier logit
  4. profile                 — per-lang t-digest of text length, HLL of
                               distinct hosts, token-count KLL
  5. write curated parquet (partitioned by lang) + one JSON report line

Deterministic end to end: rerunning over the same input produces the
same curated set and byte-identical digests.

Resumable: with `--resume-dir`, the post-quality and post-dedup
boundary frames are checkpointed (data parquet first, params-stamped
marker after), and a re-run with the same args resumes from the last
completed boundary instead of re-scanning the corpus — the stage-level
counterpart of `tdigest_spark.checkpoint`'s split-level digest resume.
A marker whose recorded args differ from the re-run's aborts loudly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def build_parser():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=20)
    ap.add_argument("--min-stopword-ratio", type=float, default=0.05)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--verify", choices=("exact", "estimate"), default="exact",
                    help="candidate verification: 'exact' re-joins shingle "
                         "sets (bit-exact Jaccard; fine at normal dup "
                         "density), 'estimate' uses MinHash lane agreement "
                         "(constant bytes/pair; required for template-heavy "
                         "corpora where the shingle join explodes)")
    ap.add_argument("--n-hashes", type=int, default=8,
                    help="MinHash lanes (also the --verify estimate "
                         "granularity: thresholds round to 1/n_hashes)")
    ap.add_argument("--minhash-lane", choices=("md5", "rolling"),
                    default="md5",
                    help="signature hash lane: md5 (oracle-neutral) or "
                         "rolling (O(n) NumPy Rabin-Karp; recommended at "
                         "corpus scale)")
    ap.add_argument("--max-bucket", type=int, default=200,
                    help="LSH buckets above this are template clusters: "
                         "skipped pairwise, collapsed via exact dedup only")
    ap.add_argument("--delta", type=float, default=200.0)
    ap.add_argument("--benchmark", default=None,
                    help="optional parquet of held-out benchmark docs (text "
                         "column): curated docs sharing n-grams with it are "
                         "dropped (eval-set decontamination)")
    ap.add_argument("--decontam-ngram", type=int, default=8)
    ap.add_argument("--decontam-overlap", type=int, default=1)
    ap.add_argument("--decontam-lane", choices=("strings", "rolling"),
                    default="strings",
                    help="gram hash lane for decontamination: strings "
                         "(exact, oracle-neutral) or rolling (O(n) NumPy "
                         "— recommended at corpus scale)")
    ap.add_argument("--line-dedup-min-docs", type=int, default=0,
                    help="if > 0, RefinedWeb-style cross-corpus line dedup "
                         "before doc-level dedup: lines in >= N distinct "
                         "docs are removed everywhere (xxhash64 lane)")
    ap.add_argument("--span-dedup-k", type=int, default=0,
                    help="if > 0, ExactSubstr-style duplicate-SPAN removal "
                         "AFTER doc-level dedup (the operator's required "
                         "order: doc dedup first keeps the flagged fraction "
                         "small): any k-token window occurring >= 2 times "
                         "corpus-wide is removed everywhere (O(n) rolling "
                         "lane); 50 is the paper threshold")
    ap.add_argument("--score", action="store_true",
                    help="append model-based quality columns to the output: "
                         "bigram-LM avg_nll_bits/oov_bigrams (LM trained on "
                         "the curated en slice) and the hashed-feature "
                         "classifier logit")
    ap.add_argument("--classifier-buckets", type=int, default=1 << 20)
    ap.add_argument("--distill-classifier", action="store_true",
                    help="(requires --score) distill the bigram-LM quality "
                         "signal into the scan-stage hashed classifier: "
                         "weak label = doc's within-lang NLL percentile "
                         "<= 0.5 (percentile_enrich, zero-shuffle), train "
                         "train_hashed_logit on a 20%% hash slice, report "
                         "holdout agreement, save the model beside the "
                         "output — downstream corpora then get the LM-"
                         "quality verdict from pure scan-stage algebra")
    ap.add_argument("--distill-buckets", type=int, default=1 << 16)
    ap.add_argument("--distill-epochs", type=int, default=3)
    ap.add_argument("--resume-dir", default=None,
                    help="optional stage-boundary checkpoint dir: the "
                         "post-quality and post-dedup boundary frames are "
                         "saved here and a re-run with the same args "
                         "resumes from the last completed boundary "
                         "instead of re-scanning the corpus (stage-level "
                         "counterpart of tdigest_spark.checkpoint's "
                         "split-level resume)")
    return ap


def _validate(args) -> None:
    """Fail-fast argument rules, parser-free so the importable run()
    enforces them too (hitting these mid-pipeline would discard hours
    of upstream work)."""
    if args.span_dedup_k == 1:
        raise ValueError("--span-dedup-k must be 0 (off) or >= 2")
    if args.distill_classifier and not args.score:
        raise ValueError("--distill-classifier requires --score")


def validate_args(ap, args) -> None:
    try:
        _validate(args)
    except ValueError as e:
        # argparse-time face: usage + exit(2) BEFORE the Spark session
        ap.error(str(e))


def run(spark, args) -> dict:
    """The whole pipeline on a CALLER-provided session; returns the
    report dict main() prints.  Importable so a driver program (or a
    test) can run/resume the pipeline without a spark-submit JVM
    launch: ``run(spark, build_parser().parse_args([...]))``.
    Applies the same fail-fast argument rules main() does."""
    _validate(args)

    from pyspark import StorageLevel

    from tdigest_spark import sketches as SK
    from tdigest_spark.functions import kll_quantile_udf
    from tdigest_spark.kll import kll_by
    from tdigest_spark.operators import digest
    from tdigest_spark.operators.dedup import (
        apply_dedup,
        exact_dedup,
        ngram_jaccard_dedup,
    )
    from tdigest_spark.operators.text import quality_score
    from tdigest_spark.sources.webpages import extract_text_column

    report: dict = {}
    import time as _time
    _t0 = _time.perf_counter()
    _last = [_t0]

    def _mark(stage: str) -> None:
        now = _time.perf_counter()
        report[f"sec_{stage}"] = round(now - _last[0], 1)
        _last[0] = now

    # --- optional stage-boundary resume --------------------------------
    # A killed long run resumes from the last completed EXPENSIVE
    # boundary (post-quality, post-dedup) instead of re-scanning the
    # corpus.  Data parquet is written BEFORE the marker, so a crash
    # mid-checkpoint recomputes; a marker whose recorded args differ
    # from this run's aborts (resuming under different upstream args
    # would silently mix two configurations).  Marker existence goes
    # through the Hadoop FileSystem API so HDFS/S3 resume dirs work.
    def _hfs_exists(path: str) -> bool:
        jp = spark._jvm.org.apache.hadoop.fs.Path(path)
        return jp.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jp)

    def _stage_boundary(name: str, params: str, compute):
        if not args.resume_dir:
            return compute()
        data = f"{args.resume_dir}/{name}"
        marker = f"{data}__done"
        if _hfs_exists(marker):
            saved = spark.read.json(marker).collect()[0]["params"]
            if saved != params:
                raise SystemExit(
                    f"--resume-dir stage {name!r} was checkpointed under "
                    f"different args:\n  saved:    {saved}\n  this run: "
                    f"{params}\nuse a fresh --resume-dir or matching args"
                )
            report.setdefault("resumed_stages", []).append(name)
            out = spark.read.parquet(data)
            _mark(f"{name}_resume_load")
            return out
        out = compute()
        out.write.mode("overwrite").parquet(data)
        spark.createDataFrame([(params,)], "params string").coalesce(
            1
        ).write.mode("overwrite").json(marker)
        out.unpersist()  # downstream reads the checkpoint scan instead
        report.setdefault("checkpointed_stages", []).append(name)
        _mark(f"{name}_checkpoint_write")
        return spark.read.parquet(data)

    _q_params = (
        f"input={args.input}|min_tokens={args.min_tokens}"
        f"|min_stopword_ratio={args.min_stopword_ratio}"
        f"|line_dedup_min_docs={args.line_dedup_min_docs}"
    )
    _c_params = (
        f"{_q_params}|jaccard={args.jaccard}|verify={args.verify}"
        f"|n_hashes={args.n_hashes}|minhash_lane={args.minhash_lane}"
        f"|max_bucket={args.max_bucket}|span_dedup_k={args.span_dedup_k}"
    )

    def _build_quality():
        # 1-2. extract + quality gates
        raw = spark.read.parquet(args.input)
        docs = (
            extract_text_column(raw)
            .select(
                "url",
                "lang",
                F.col("extracted_text").alias("text"),
                F.xxhash64("url").alias("doc_id"),
            )
        )
        scored = quality_score(docs)
        kept = scored.filter(
            (F.col("n_tokens") >= args.min_tokens)
            & (F.col("stopword_ratio") >= args.min_stopword_ratio)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        report["n_input"] = raw.count()
        report["n_quality"] = kept.count()
        _mark("extract_quality")

        # 2.5 (optional) cross-corpus line dedup BEFORE doc-level dedup:
        #     boilerplate lines inflate near-dup similarity, so RefinedWeb
        #     removes them first.  Detection shuffles (hash, id) pairs; the
        #     rewrite join is the one corpus-wide shuffle by doc_id (inherent
        #     — per-line verdicts must meet the text somewhere).  Docs whose
        #     every line was boilerplate are dropped.
        if args.line_dedup_min_docs > 0:
            from tdigest_spark.operators.dedup import dedup_lines_corpus

            # persist the operator output so detection runs once: the stats
            # aggregate and the rewrite join both read the cached frame
            ld = dedup_lines_corpus(
                kept, "text", "doc_id",
                min_docs=args.line_dedup_min_docs, hash_fn="xxhash64",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            report["n_lines_removed"] = ld.agg(
                F.sum(F.col("n_lines") - F.col("n_lines_kept"))
            ).collect()[0][0]
            rewritten = (
                kept.drop("text")
                .join(
                    ld.filter(F.col("n_lines_kept") > 0).select(
                        "doc_id", F.col("clean_text").alias("text")
                    ),
                    "doc_id",
                )
                .filter(F.length("text") > 0)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            report["n_after_line_dedup"] = rewritten.count()
            kept.unpersist()
            ld.unpersist()
            kept = rewritten
            _mark("line_dedup")
        return kept

    kept = _stage_boundary("quality", _q_params, _build_quality)

    def _build_curated():
        # 3. dedup: exact first (cheap), then near-dup on the survivors
        exact = exact_dedup(kept, ("text",), "doc_id")
        exact_keep = exact.select(F.col("keep_id").alias("doc_id"))
        uniq = kept.join(exact_keep, "doc_id", "left_semi").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        report["n_exact_unique"] = uniq.count()
        _mark("exact_dedup")
        kept.unpersist()  # uniq is materialized; drop the pre-dedup blocks

        from tdigest_spark.operators.dedup import (
            estimated_jaccard_pairs,
            jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(
            uniq, "text", "doc_id", n_hashes=args.n_hashes,
            hash_fn=args.minhash_lane,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        cands = lsh_candidate_pairs(
            uniq, "text", "doc_id", n_hashes=args.n_hashes,
            max_bucket=args.max_bucket, sigs=sigs, hash_fn=args.minhash_lane,
        )
        if args.verify == "estimate":
            verified = estimated_jaccard_pairs(sigs, cands, "doc_id").filter(
                F.col("jaccard_est") >= args.jaccard
            )
        else:
            verified = jaccard_pairs(uniq, cands, "text", "doc_id").filter(
                F.col("jaccard") >= args.jaccard
            )
        # verified pairs are tiny; materialize them so cluster resolution's
        # iterations never re-run the verification join
        pairs = verified.select("id_a", "id_b").persist(StorageLevel.MEMORY_AND_DISK)
        report["n_near_dup_pairs"] = pairs.count()
        _mark("lsh_verify")
        # pairs is materialized — release the dedup operators' internal caches
        # (signatures, shingle sets) so their disk blocks don't outlive stage 3
        from tdigest_spark.operators.dedup import release_cached

        release_cached()
        sigs.unpersist()
        curated = apply_dedup(uniq, pairs, "doc_id").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        report["n_curated"] = curated.count()
        _mark("cluster_resolve")
        uniq.unpersist()
        pairs.unpersist()

        # 3.4 (optional) corpus-global duplicate-SPAN removal, AFTER doc-level
        #     dedup (required order: with whole-doc dups already collapsed the
        #     flagged fraction stays small and the rewrite is cheap).  Rolling
        #     lane: O(n) NumPy Rabin-Karp window hashing; ids never ride the
        #     corpus-wide shuffle (bare 8-byte hash count pass).  Docs whose
        #     every token was boilerplate are dropped; n_tokens is refreshed
        #     so the profile stage sees post-rewrite counts.
        if args.span_dedup_k > 0:
            from tdigest_spark.operators.dedup import dedup_spans_corpus

            sd = dedup_spans_corpus(
                curated, "text", "doc_id",
                k=args.span_dedup_k, min_count=2, hash_fn="rolling",
            ).persist(StorageLevel.MEMORY_AND_DISK)
            report["n_span_tokens_removed"] = sd.agg(
                F.sum(F.col("n_tokens") - F.col("n_tokens_kept"))
            ).collect()[0][0]
            despanned = (
                curated.drop("text", "n_tokens")
                .join(
                    sd.filter(F.col("n_tokens_kept") > 0).select(
                        "doc_id",
                        F.col("clean_text").alias("text"),
                        F.col("n_tokens_kept").alias("n_tokens"),
                    ),
                    "doc_id",
                )
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            report["n_after_span_dedup"] = despanned.count()
            curated.unpersist()
            sd.unpersist()
            release_cached()  # the operator's internal hashed-frame persist
            curated = despanned
            _mark("span_dedup")
        return curated

    curated = _stage_boundary("curated", _c_params, _build_curated)

    # 3.5 (optional) benchmark decontamination: drop curated docs whose
    #     text collides with the held-out eval set (broadcast n-gram join
    #     — the corpus text never shuffles)
    if args.benchmark:
        from tdigest_spark.operators.dedup import decontaminate, ngram_contamination

        bench = spark.read.parquet(args.benchmark)
        flags = ngram_contamination(
            curated, bench, "text", "doc_id",
            n=args.decontam_ngram, min_overlap=args.decontam_overlap,
            gram_lane=args.decontam_lane,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        report["n_contaminated"] = flags.filter("contaminated").count()
        clean = decontaminate(curated, contamination=flags).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        report["n_decontaminated"] = clean.count()
        curated.unpersist()
        flags.unpersist()
        curated = clean
        _mark("decontaminate")

    # 3.75 (optional) model-based quality columns: bigram-LM NLL (LM
    #     trained on the curated en slice — the cleanest text available
    #     by this stage) and the hashed-feature classifier logit.  The
    #     classifier is scan-stage algebra; the LM join shuffles (prefix,
    #     word) count rows and doc ids, never text.
    if args.score:
        from tdigest_spark.operators.scoring import (
            bigram_nll_bits,
            hashed_logit,
            train_bigram_lm,
        )

        lm = train_bigram_lm(curated.filter(F.col("lang") == "en"))
        nll = bigram_nll_bits(curated, lm).select(
            "doc_id", "avg_nll_bits", "oov_bigrams"
        )
        logit = hashed_logit(
            curated, n_buckets=args.classifier_buckets
        ).select("doc_id", "logit")
        scored_out = (
            curated.join(nll, "doc_id", "left")
            .join(logit, "doc_id", "left")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        row = scored_out.agg(
            F.avg("avg_nll_bits"), F.avg("logit"), F.count("avg_nll_bits")
        ).collect()[0]
        report["mean_avg_nll_bits"] = round(row[0], 4) if row[0] is not None else None
        report["mean_logit"] = round(row[1], 6) if row[1] is not None else None
        report["n_lm_scored"] = row[2]
        curated.unpersist()
        curated = scored_out
        _mark("score")

    # 3.8 (optional) distill the LM quality signal into the scan-stage
    #     classifier: the LM join is the expensive scorer (model join +
    #     per-bigram algebra); the hashed classifier is free at inference
    #     (pure scan-stage fold).  Weak labels come from each doc's
    #     within-lang NLL percentile — percentile_enrich appends it with
    #     ZERO shuffle (broadcast digest side channel), so labeling costs
    #     one scan.  Train on the mod-5==0 hash slice, report agreement
    #     on the disjoint mod-5==1 holdout, save the model blob beside
    #     the output for downstream corpora.
    if args.distill_classifier:
        from tdigest_spark.operators.digest import percentile_enrich
        from tdigest_spark.operators.scoring import (
            apply_hashed_logit,
            logit_model_to_bytes,
            train_hashed_logit,
        )

        base = curated.filter(F.col("avg_nll_bits").isNotNull())
        # persist: train (feature pass), holdout, and the agreement join
        # all read this frame — unpersisted, each re-runs the enrich scan
        # AND the digest side-channel job (measured 139.7 s -> ~30 s)
        labeled = (
            percentile_enrich(
                base.select("doc_id", "lang", "text", "avg_nll_bits"),
                "avg_nll_bits",
                by=["lang"],
                delta=args.delta,
                out_col="nll_pct",
            )
            .withColumn("label", (F.col("nll_pct") <= 0.5).cast("double"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        slice_ = F.pmod(F.xxhash64("doc_id", F.lit("distill")), F.lit(5))
        train = labeled.filter(slice_ == 0).select("label", "text")
        model = train_hashed_logit(
            train,
            epochs=args.distill_epochs,
            n_buckets=args.distill_buckets,
            lr=2.0,
        )
        report["distill_n_train"] = model["n_docs"]
        report["distill_loss_first"] = round(model["history"][0], 4)
        report["distill_loss_final"] = round(model["final_loss"], 4)
        holdout = labeled.filter(slice_ == 1).select("doc_id", "label", "text")
        preds = apply_hashed_logit(holdout, model).select("doc_id", "p")
        agree = (
            holdout.select("doc_id", "label")
            .join(preds, "doc_id")
            .agg(
                F.avg(
                    ((F.col("p") >= 0.5) == (F.col("label") == 1.0)).cast("double")
                ),
                F.count("*"),
            )
            .collect()[0]
        )
        report["distill_holdout_agreement"] = (
            round(agree[0], 4) if agree[0] is not None else None
        )
        report["distill_n_holdout"] = agree[1]
        # serialized now, written AFTER the stage-5 overwrite-mode output
        # write (which clears the target dir)
        distill_blob = logit_model_to_bytes(model)
        labeled.unpersist()
        _mark("distill")
    else:
        distill_blob = None

    # 4. profile the curated corpus — text length AND token count per
    #    lang from ONE scan (build_partials_multi shares the pass)
    prof_in = curated.select(
        "lang",
        F.length("text").cast("double").alias("text_len"),
        F.col("n_tokens").cast("double").alias("n_tokens_d"),
    )
    d = digest.digest_profile(
        prof_in, ["text_len", "n_tokens_d"], by=["lang"], delta=args.delta
    )
    qs = digest.quantiles_of(d, (0.5, 0.9, 0.99), by=["lang", "col"]).collect()
    report["text_len_quantiles"] = {
        f"{r['lang']}@{r['q']}": r["quantile"]
        for r in qs
        if r["col"] == "text_len"
    }
    report["token_quantiles"] = {
        f"{r['lang']}@{r['q']}": r["quantile"]
        for r in qs
        if r["col"] == "n_tokens_d"
    }
    hll = SK.hll_by(curated, F.col("url"), by=(), p=12)
    report["distinct_urls_est"] = round(
        hll.select(SK.hll_estimate_col("registers", 12)).collect()[0][0], 1
    )
    kll = kll_by(curated, F.col("n_tokens").cast("double"), by=(), k=200)
    report["token_p99"] = kll.select(
        kll_quantile_udf(F.col("kll"), F.lit(0.99))
    ).collect()[0][0]
    _mark("profile")

    # 5. write curated output (plus the model-score columns when enabled)
    #    — observed write: the data-quality manifest (rows, null counts,
    #    numeric ranges) is computed by the write job itself, no second
    #    scan, and certifies write completeness for downstream stages
    from tdigest_spark.sources.manifest import write_observed

    out_cols = ["url", "lang", "text"]
    if args.score:
        out_cols += ["avg_nll_bits", "oov_bigrams", "logit"]
    manifest = write_observed(
        curated.select(*out_cols), args.output, partition_by=["lang"]
    )
    report["manifest_rows"] = manifest["rows"]
    if distill_blob is not None:
        # Hadoop FS, not builtin open(): --output may be hdfs://, s3a://,
        # ... — a local-only write would crash the job at the very last
        # step and lose the model plus the report
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(args.output, "_classifier.bin")
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.create(path, True)
        try:
            stream.write(distill_blob)
        finally:
            stream.close()
    _mark("write")
    report["sec_total"] = round(_time.perf_counter() - _t0, 1)
    report["output"] = args.output
    return report


def main() -> None:
    ap = build_parser()
    args = ap.parse_args()
    validate_args(ap, args)
    spark = (
        SparkSession.builder.appName("tdigest-corpus-pipeline")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        # local-mode default; a cluster submit overrides via --conf/--driver-memory
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        # every stage is a deterministic, task-commit-protected transform,
        # so speculation is safe — and it is the mitigation for the rare
        # python-runner socket wedge observed once at 4M docs (one task of
        # 64 deadlocked with both socket directions full while its 63
        # peers finished in ~98 s; a speculative copy completes the stage
        # and Spark kills the wedged original)
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        .getOrCreate()
    )
    report = run(spark, args)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
