"""The north-star submit path: `spark-submit --py-files tdigest_spark.zip`
must run the checkpointed quantiles job with the package imported FROM
THE ZIP (no repo checkout on the path) — the exact cluster deployment
shape."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_job(name):
    """Import a jobs/<name>.py module by path (jobs/ is not a package);
    gives tests the importable run(spark, args) face so job LOGIC runs
    on the shared session while the CLI shape is proven once per file
    by a real subprocess."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.slow
def test_spark_submit_py_files_zip(spark, tmp_path):
    # tiny deterministic webpages table
    from tdigest_spark.sources.webpages import write_webpages

    inp = str(tmp_path / "wp")
    write_webpages(spark, 300, inp)

    # package the library exactly as the docstring instructs
    zpath = str(tmp_path / "tdigest_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(os.path.join(REPO, "tdigest_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    # copy the job OUT of the repo so its sys.path fallback cannot find
    # the checkout — the import must resolve from --py-files
    job = str(tmp_path / "job.py")
    shutil.copy(os.path.join(REPO, "jobs", "webpages_quantiles_job.py"), job)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "2g"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zpath,
            job,
            "--input", inp,
            "--checkpoint", str(tmp_path / "ckpt"),
            "--delta", "100",
            "--qs", "0.5,0.9",
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == 300
    assert out["splits_built"] >= 1
    assert out["quantiles"]["0.5"] > 0


@pytest.mark.slow
def test_corpus_pipeline_stage_resume(spark, tmp_path):
    """--resume-dir: run 1 checkpoints the post-quality and post-dedup
    boundaries; run 2 with the same args resumes BOTH (no upstream
    recompute) and produces the identical curated output; a run with
    different upstream args refuses to resume."""
    from tdigest_spark.sources.webpages import write_webpages

    inp = str(tmp_path / "wp")
    write_webpages(spark, 200, inp)
    resume = str(tmp_path / "resume")

    def run(outdir, extra=()):
        """CLI subprocess — proves the spark-submit entry shape."""
        env = dict(os.environ)
        env["SPARK_DRIVER_MEM"] = "2g"
        proc = subprocess.run(
            [
                "python", os.path.join(REPO, "jobs", "corpus_pipeline_job.py"),
                "--input", inp, "--output", str(tmp_path / outdir),
                "--verify", "estimate", "--span-dedup-k", "6",
                "--resume-dir", resume, *extra,
            ],
            capture_output=True, text=True, timeout=420, cwd=REPO, env=env,
        )
        return proc

    def run_inproc(outdir, extra=()):
        """Same pipeline via the importable run(spark, args) face on the
        shared session — resume-logic coverage without a JVM launch."""
        job = load_job("corpus_pipeline_job")
        args = job.build_parser().parse_args([
            "--input", inp, "--output", str(tmp_path / outdir),
            "--verify", "estimate", "--span-dedup-k", "6",
            "--resume-dir", resume, *extra,
        ])
        return job.run(spark, args)

    p1 = run("out1")
    assert p1.returncode == 0, p1.stderr[-3000:]
    r1 = json.loads(p1.stdout.strip().splitlines()[-1])
    assert r1["checkpointed_stages"] == ["quality", "curated"]
    assert "resumed_stages" not in r1

    r2 = run_inproc("out2")
    assert r2["resumed_stages"] == ["quality", "curated"]
    # skipped sections never ran: their counters are absent from run 2
    assert "n_exact_unique" not in r2 and "n_near_dup_pairs" not in r2
    # identical curated output either way
    a = spark.read.parquet(str(tmp_path / "out1"))
    b = spark.read.parquet(str(tmp_path / "out2"))
    ids = lambda df: sorted(r["url"] for r in df.select("url").collect())
    assert ids(a) == ids(b)
    assert len(ids(a)) > 0

    # changed upstream args must refuse the stale checkpoint
    with pytest.raises(SystemExit, match="different args"):
        run_inproc("out3", extra=("--min-tokens", "25"))


@pytest.mark.slow
def test_incremental_crawl_job_two_months(spark, tmp_path):
    """Two monthly increments: month 1 seeds the index (within-increment
    dedup applies); month 2 diffs against month 1's snapshot, drops
    unchanged urls, dedups the changed/new remainder against the
    standing index, and appends only survivors' signatures."""
    t_a = "alpha bravo charlie delta echo foxtrot golf hotel india"
    t_b = "juliet kilo lima mike november oscar papa quebec romeo"
    t_c = "sierra tango uniform victor whiskey xray yankee zulu one"
    t_d = "two three four five six seven eight nine ten eleven twelve"

    m1 = str(tmp_path / "m1")
    spark.createDataFrame(
        [("u1", t_a), ("u2", t_a), ("u3", t_b)],  # u2 dups u1 within month 1
        "url string, text string",
    ).write.mode("overwrite").parquet(m1)

    m2 = str(tmp_path / "m2")
    spark.createDataFrame(
        [
            ("u1", t_a),            # unchanged -> dropped by the diff
            ("u3", t_c),            # changed   -> proceeds, unique
            ("u9", t_a),            # new url, dups the INDEXED u1
            ("u5", t_d),            # new, unique
        ],
        "url string, text string",
    ).write.mode("overwrite").parquet(m2)

    index_dir = str(tmp_path / "idx")

    def run(new, prev, outdir):
        """CLI subprocess — proves the spark-submit entry shape."""
        env = dict(os.environ)
        env["SPARK_DRIVER_MEM"] = "2g"
        env["SPARK_GRAFT_CPUS"] = "8"
        cmd = [
            "python", os.path.join(REPO, "jobs", "incremental_crawl_job.py"),
            "--new-snapshot", new, "--index-dir", index_dir,
            "--output", str(tmp_path / outdir),
        ]
        if prev:
            cmd += ["--prev-snapshot", prev]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, timeout=420, cwd=REPO, env=env
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def run_inproc(new, prev, outdir):
        """Same job via the importable run(spark, args) face on the shared
        session — job LOGIC coverage without a ~12 s JVM launch each."""
        job = load_job("incremental_crawl_job")
        argv = [
            "--new-snapshot", new, "--index-dir", index_dir,
            "--output", str(tmp_path / outdir),
        ]
        if prev:
            argv += ["--prev-snapshot", prev]
        return job.run(spark, job.build_parser().parse_args(argv))

    r1 = run(m1, None, "out1")
    assert r1["n_increment"] == 3
    assert r1["n_dropped_within"] == 1          # u2 dups u1 (min url wins)
    assert r1["n_emitted"] == 2 == r1["manifest_rows"]
    out1 = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out1")).collect()
    )
    assert out1 == ["u1", "u3"]

    # rerun idempotence: resubmitting the SAME increment must not dedup
    # against its own previously-appended signatures (that would emit an
    # empty output over the good one) — the snapshot-derived batch id
    # self-excludes on the index read
    r1b = run_inproc(m1, None, "out1b")
    assert r1b["n_emitted"] == 2 == r1b["manifest_rows"]
    out1b = sorted(
        r["url"]
        for r in spark.read.parquet(str(tmp_path / "out1b")).collect()
    )
    assert out1b == ["u1", "u3"]

    r2 = run_inproc(m2, m1, "out2")
    assert r2["diff_counts"] == {"same": 1, "changed": 1, "new": 2, "gone": 1}
    assert r2["n_increment"] == 3               # u3 changed, u9 + u5 new
    assert r2["n_dropped_vs_index"] == 1        # u9 dups indexed u1
    assert r2["n_emitted"] == 2 == r2["manifest_rows"]
    out2 = sorted(
        r["url"] for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    )
    assert out2 == ["u3", "u5"]

    idx = spark.read.parquet(f"{index_dir}/*__dir")
    rows = {(r["url"], r["batch_id"]) for r in idx.collect()}
    # batch ids = monotone sequence number (high 16 bits) over a
    # snapshot-identity hash (low 48, the rerun-idempotence key): month 1
    # holds {u1, u3}, month 2 {u3, u5}, and month 2's id sorts HIGHER so
    # compact_stream_index's keep_last retains the most recent batches
    by_batch: dict[int, set[str]] = {}
    for url, bid in rows:
        by_batch.setdefault(bid, set()).add(url)
    assert sorted(by_batch.values(), key=sorted) == [
        {"u1", "u3"},
        {"u3", "u5"},
    ]
    (id1, urls1), (id2, urls2) = sorted(by_batch.items())
    assert urls1 == {"u1", "u3"} and urls2 == {"u3", "u5"}
    assert (id2 >> 48) == (id1 >> 48) + 1

    # full-snapshot identity sidecars: batch-id reuse is verified against
    # the complete snapshot string, not just its 48-bit hash (a suffix
    # collision between different snapshots would otherwise silently
    # reuse/overwrite the earlier batch)
    for bid, snap in ((id1, m1), (id2, m2)):
        side = os.path.join(index_dir, f"batch={bid:020d}__dir", "_snapshot")
        assert os.path.isfile(side), side
        assert open(side).read() == snap


def test_incremental_crawl_batch_id_reuse_rule():
    """Batch-id reuse by 48-bit suffix: a sidecar-verified candidate wins
    wherever it sorts; an unverified (pre-sidecar) one is reused only as
    the sole unverified candidate; two unverified give no reuse."""
    choose = load_job("incremental_crawl_job").reusable_batch_id
    snap = "/data/crawl_2026_01"
    sidecars = {3: b"/data/other", 2: snap.encode(), 1: None, 5: None, 4: None}
    read = sidecars.get
    assert choose([], read, snap) == (None, False)
    assert choose([1, 2, 3], read, snap) == (2, True)
    assert choose([1], read, snap) == (1, False)
    assert choose([1, 3], read, snap) == (1, False)   # 3 is foreign
    assert choose([3], read, snap) == (None, False)
    assert choose([1, 5], read, snap) == (None, False)
    assert choose([4, 5, 3], read, snap) == (None, False)


@pytest.mark.slow
def test_corpus_pipeline_distill_classifier(spark, tmp_path):
    """--distill-classifier: weak labels from the within-lang NLL
    percentile, classifier trained on the mod-5 hash slice, holdout
    agreement reported, model blob saved beside the output and loadable."""
    from tdigest_spark.sources.webpages import write_webpages

    inp = str(tmp_path / "wp")
    write_webpages(spark, 400, inp)
    outdir = str(tmp_path / "out")
    # in-process via run(spark, args): the pipeline's CLI subprocess shape
    # is proven by test_corpus_pipeline_stage_resume's first run
    job = load_job("corpus_pipeline_job")
    rep = job.run(spark, job.build_parser().parse_args([
        "--input", inp, "--output", outdir,
        "--verify", "estimate", "--score", "--distill-classifier",
        "--distill-buckets", "4096", "--distill-epochs", "2",
    ]))
    assert rep["distill_n_train"] > 0 and rep["distill_n_holdout"] > 0
    # at 400-doc test scale the loss delta can vanish in the 4-decimal
    # report rounding; non-increase is the honest invariant here (the
    # monotone-decrease property is pinned at real scale in
    # tests/test_scoring.py and the 4M BENCH run).  distill_loss_final
    # measures the SHIPPED weights (one extra pass), not epoch-start.
    assert rep["distill_loss_final"] <= rep["distill_loss_first"]
    assert 0.0 <= rep["distill_holdout_agreement"] <= 1.0
    # model blob sits beside the parquet output and round-trips
    from tdigest_spark.operators.scoring import logit_model_from_bytes

    blob = open(os.path.join(outdir, "_classifier.bin"), "rb").read()
    m = logit_model_from_bytes(blob)
    assert m["n_buckets"] == 4096 and m["n_docs"] == rep["distill_n_train"]
    # --distill-classifier without --score refuses at argparse time
    ap = job.build_parser()
    with pytest.raises(SystemExit):
        job.validate_args(ap, ap.parse_args([
            "--input", inp, "--output", str(tmp_path / "out2"),
            "--distill-classifier",
        ]))


def test_job_lane_choices_match_operators(spark):
    """Every --minhash-lane / --decontam-lane choice is a lane its
    operator accepts, and neither offers the removed xxhash64 lane — a
    CLI offering a deleted lane would otherwise fail only mid-job."""
    from tdigest_spark.operators import dedup as D

    df = spark.createDataFrame([(0, "a b c d")], "url long, text string")
    operator = {
        "--minhash-lane": lambda lane: D.minhash_signatures(
            df, "text", "url", hash_fn=lane
        ),
        "--decontam-lane": lambda lane: D.ngram_contamination(
            df, df, "text", "url", gram_lane=lane
        ),
    }
    seen = []
    for name in ("corpus_pipeline_job", "incremental_crawl_job"):
        for act in load_job(name).build_parser()._actions:
            for flag in set(act.option_strings) & set(operator):
                seen.append(flag)
                for lane in act.choices:
                    operator[flag](lane)
                with pytest.raises(ValueError):
                    operator[flag]("xxhash64")
                assert "xxhash64" not in act.choices
    assert sorted(seen) == [
        "--decontam-lane", "--minhash-lane", "--minhash-lane"
    ]
