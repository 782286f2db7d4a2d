"""Physical-plan audits: the plans the operators promise are the plans
Catalyst actually produces (pushdown, pruning, broadcast, shuffle shape).

These are string-level assertions on `explain` output — deliberately so:
a regression that adds a shuffle or drops pushdown should fail loudly.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators import digest, histogram_ops
from tdigest_spark.plans import explain_str

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_filter_pushdown_and_column_pruning(docs):
    q = docs.filter(F.col("lang") == "en").select("n_chars")
    plan = explain_str(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # pruned read schema: only the referenced columns reach the scan
    assert "n_chars" in plan.split("ReadSchema")[1][:200]
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_grouped_digest_map_combine_no_raw_shuffle(docs):
    """The grouped digest path (digest_by) never shuffles raw rows:
    stage 1 is the JVM kernel's MapPartitions with zero upstream
    exchanges; the single exchange in the full plan carries only (group,
    digest) partial rows into the merge."""
    merged = digest.digest_by(docs, "n_chars", by=["lang"], delta=500.0)
    simple = explain_str(merged, "simple")
    assert simple.count("MapPartitions") == 1
    assert "MapInArrow" not in simple
    # exactly one exchange in the WHOLE plan: the KB-row merge groupBy
    assert simple.count("Exchange") == 1
    # nothing between the scan and the build stage shuffles
    before_build = simple.split("MapPartitions")[1]
    assert "Exchange" not in before_build
    read = explain_str(merged).split("ReadSchema")[1][:200]
    assert "lang" in read and "n_chars" in read and "text" not in read


@pytest.mark.parametrize("by", [["lang"], ["lang", "doc_id"], []])
def test_map_build_input_is_keys_and_value_only(docs, by):
    """The JVM build reads only the key columns and the value: no
    partition-id column (the partition id comes from the task) and no
    string-helper copies of integer keys."""
    partials = digest.build_partials_grouped(docs, "n_chars", by=by)
    simple = explain_str(partials, "simple")
    assert simple.count("MapPartitions") == 1
    build = [
        line for line in simple.splitlines() if "DeserializeToObject" in line
    ]
    assert len(build) == 1
    assert "__pid" not in build[0] and "__gk_" not in build[0]
    fields = [f.split(",")[0] for f in build[0].split("StructField(")[1:]]
    assert sorted(fields) == sorted([*by, "__td_value"])


def test_grouped_kll_map_combine_no_raw_shuffle(lineitem):
    """kll_by's map-side-combine build: same zero-raw-shuffle shape
    as the digest build."""
    from tdigest_spark.kll import kll_by

    sk = kll_by(lineitem, "l_extendedprice", by=["l_returnflag"], k=200)
    simple = explain_str(sk, "simple")
    assert simple.count("MapInArrow") == 1
    assert simple.count("Exchange") == 1
    assert "Exchange" not in simple.split("MapInArrow")[1]


def test_partition_digest_no_shuffle(lineitem):
    """The per-partition JVM build makes partials with NO exchange at all
    — only digest rows ever shuffle (in the separate merge stage)."""
    partials = digest.build_partials_grouped(lineitem, "l_extendedprice", ())
    plan = explain_str(partials)
    assert "Exchange" not in plan
    assert "MapPartitions" in plan


def test_merge_shuffles_digest_rows_only(lineitem):
    partials = digest.build_partials_grouped(lineitem, "l_extendedprice", ())
    merged = digest.merge_partials(partials, by=())
    # one exchange for the merge groupBy; its input is the partials
    # projection (digest binary + bookkeeping), not the data columns
    assert explain_str(merged, "simple").count("Exchange") == 1
    assert "l_extendedprice" in explain_str(merged).split("ReadSchema")[1][:200]


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas",
                 "FlatMapGroupsIn", "Python")


@pytest.mark.parametrize(
    "face", ["digest_by", "merge_partials_stages2", "digest_profile", "quantiles_of", "cdfs_of"]
)
def test_digest_merge_and_queries_start_no_python(docs, face):
    """Build, merge (one stage or with the fan-in stage) and the
    quantile/cdf queries all run in the JVM kernel: no Python node in the
    plan, and the merge is the kernel's sorted group map."""
    by = ["lang"]
    d = digest.digest_by(docs, "n_chars", by=by, delta=500.0)
    frame = {
        "digest_by": d,
        "merge_partials_stages2": digest.merge_partials(
            digest.build_partials_grouped(docs, "n_chars", by), by=by, fanin=4, stages=2
        ),
        "digest_profile": digest.digest_profile(docs, ["n_chars", "doc_id"], by=by),
        "quantiles_of": digest.quantiles_of(d, [0.1, 0.5], by=by),
        "cdfs_of": digest.cdfs_of(d, [100.0], by=by),
    }[face]
    plan = explain_str(frame, "simple")
    for node in _PYTHON_NODES:
        assert node not in plan, (face, node)
    assert plan.count("MapGroups") == (2 if face == "merge_partials_stages2" else 1)


def test_estimated_jaccard_verification_reads_no_text(docs):
    """The scale-path verification joins only signature rows: the plan
    must contain no shingle/token machinery (no array_intersect, no
    tokenization transform) and must not read the text column."""
    from tdigest_spark.operators.dedup import (
        estimated_jaccard_pairs,
        minhash_signatures,
        release_cached,
    )

    sigs = minhash_signatures(docs, "text", "doc_id").persist()
    pairs = docs.sparkSession.createDataFrame(
        [(0, 1), (1, 2)], "id_a long, id_b long"
    )
    est = estimated_jaccard_pairs(sigs, pairs, "doc_id")
    plan = explain_str(est)
    assert "zip_with" in plan
    assert "array_intersect" not in plan
    # sigs is persisted: verification reads the InMemoryRelation, and
    # nothing downstream of it touches text or shingles
    down = plan.split("InMemoryRelation")[0]
    assert "split(text" not in down and "array_intersect" not in down
    sigs.unpersist()
    release_cached()


def test_repetition_stats_narrow_join_no_text(docs):
    """repetition_stats joins only (id) ⨝ (id, two doubles): the text
    column feeds the metric-aggregation scan and never crosses an
    Exchange or the join, and no inferred generate-filter re-inlines the
    token split (the O(tokens²)-per-doc pitfall)."""
    from tdigest_spark.operators.text import repetition_stats

    plan = explain_str(repetition_stats(docs))
    # the id-projection scan reads doc_id only
    read_schemas = [s.split("\n")[0] for s in plan.split("ReadSchema")[1:]]
    assert any("text" not in s for s in read_schemas)
    # formatted mode lists each node's attributes: no Exchange and no
    # join node may carry the text column
    for block in plan.split("\n\n"):
        head = block.lstrip().split("\n")[0]
        if head.startswith("(") and ("Exchange" in head or "Join" in head):
            assert "text#" not in block, head
    # InferFiltersFromGenerate would inline the token split per shingle
    # index; explode_outer suppresses it
    assert "slice(filter(split" not in plan


def test_gopher_repetition_plan(docs):
    """gopher_repetition jvm lane: the raw text column feeds the tagged
    explode inside the scan stage and never crosses an Exchange or a
    join (the shuffles carry (id, n, gram) count rows); no inferred
    generate-filter re-inlines the token split.  The pandas lane is a
    single mapInPandas scan with NO Exchange at all."""
    from tdigest_spark.operators.text import gopher_repetition

    plan = explain_str(gopher_repetition(docs))
    read_schemas = [s.split("\n")[0] for s in plan.split("ReadSchema")[1:]]
    assert any("text" not in s for s in read_schemas)
    for block in plan.split("\n\n"):
        head = block.lstrip().split("\n")[0]
        if head.startswith("(") and ("Exchange" in head or "Join" in head):
            assert "text#" not in block, head
    assert "slice(filter(split" not in plan

    pplan = explain_str(gopher_repetition(docs, lane="pandas"), "simple")
    assert "Exchange" not in pplan
    assert "MapInPandas" in pplan


def test_asof_global_carry_no_nested_loop(spark):
    """asof_join_global's carry-in is a running window over the KB-sized
    per-bucket summary — O(B log B); the inequality-join alternative
    plans as a BroadcastNestedLoopJoin, O(B²) in bucket count."""
    from tdigest_spark.operators.joins import asof_join_global

    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("event_id", "ts")
    right = ev.select("ts", "value")
    j = asof_join_global(left, right, "ts", bucket="1 hour")
    plan = explain_str(j, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_broadcast_join_used(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    )
    plan = explain_str(j)
    assert "BroadcastHashJoin" in plan


def test_histogram_merge_is_jvm_side(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    h = histogram_ops.histogram_by(ev, "value", 0.01, 500.0, by=["event_type"])
    plan = explain_str(h, "simple")
    # python appears exactly once (stage-1 mapInArrow partial build, no
    # shuffle of raw rows); the merge is posexplode + sum, all JVM
    assert plan.count("MapInArrow") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "posexplode" in plan
    # the only exchanges carry (group, pos, cnt) partial rows
    before_python = plan.split("MapInArrow")[1]
    assert "Exchange" not in before_python


def test_wholestage_codegen_on_text_ops(docs):
    from tdigest_spark.operators.text import token_stats

    plan = explain_str(token_stats(docs).select("doc_id", "n_tokens"), "simple")
    assert "*(1)" in plan  # whole-stage-codegen marker
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_webpages_partition_pruning(spark, tmp_path):
    """The Iceberg-style month-partitioned layout prunes partitions when
    filtered on the partition column."""
    from tdigest_spark.sources.webpages import write_webpages

    path = str(tmp_path / "wp")
    write_webpages(spark, 500, path)
    df = spark.read.parquet(path)
    q = df.filter(F.col("crawl_month") == "2024-03").select("url")
    plan = explain_str(q)
    assert "PartitionFilters" in plan
    assert "crawl_month" in plan.split("PartitionFilters")[1][:200]
    # non-partition columns pruned from the read schema
    assert "html" not in plan.split("ReadSchema")[1][:150]


def test_theta_setops_single_union_binding(spark):
    """The set-algebra projection binds the union sketch ONCE (Catalyst
    would otherwise inline sort+union+slice into every reference), and
    both crossJoin sides read the persisted sketch table instead of
    re-running the raw aggregation."""
    from tdigest_spark import queries as Q

    df = Q.q_theta_users_setops(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("array_sort") == 1
    assert plan.count("InMemoryTableScan") == 2


def test_rollup_coarse_grain_reads_cached_digests(spark):
    """Sketch re-aggregation: after the fine digest table materializes,
    the coarse (per-type) grain derives from the cache — its plan shows
    an InMemoryTableScan feeding merge_partials, and the raw events scan
    appears only in the cached relation's definition."""
    from pyspark.sql import functions as F  # noqa: F811

    from tdigest_spark.operators import digest as D

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    fine = D.digest_by(ev, "value", by=["event_type", "day"], delta=4000.0).persist()
    fine.count()  # materialize the cache
    partials = fine.withColumn(
        D._SALT, F.datediff(F.col("day"), F.lit("1970-01-01")).cast("int")
    )
    coarse = D.merge_partials(partials, by=["event_type"])
    plan = coarse._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    fine.unpersist()


def test_ngram_contamination_broadcasts_benchmark_no_text_shuffle(docs):
    """Decontamination plan: the benchmark n-gram set broadcasts (the
    corpus side never shuffles its text/grams — gram matching happens in
    the scan stage), and every Exchange carries only (doc_id, count)
    aggregation rows."""
    from tdigest_spark.operators.dedup import ngram_contamination

    bench = docs.filter(F.col("doc_id") % 13 == 0).select("text")
    out = ngram_contamination(docs, bench, "text", "doc_id", n=8)
    simple = explain_str(out, "simple")
    assert "BroadcastHashJoin" in simple
    assert "SortMergeJoin" not in simple
    # no shuffle ever moves the text column
    for seg in simple.split("Exchange")[1:]:
        spec = seg.split("\n")[0]
        assert "text" not in spec, spec
    # exactly one exchange carries gram strings: the BENCHMARK side's
    # distinct() feeding the BroadcastExchange (small by contract).  The
    # corpus side of a BroadcastHashJoin needs no exchange, so a second
    # __g-partitioned shuffle would mean corpus grams are moving.
    assert simple.count("hashpartitioning(__g") == 1
    assert "BroadcastExchange" in simple


def test_histogram_by_keeps_null_group_keys(spark):
    """SQL GROUP BY keeps NULL keys; the pre-fix mask formulation
    (gkey == g) never matched NaN keys so those rows vanished."""
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("g1", 3.0)], "k string, v double"
    )
    out = {r["k"]: r["n_rows"] for r in
           histogram_ops.histogram_by(df, "v", 0.1, 10.0, by=["k"]).collect()}
    assert out == {None: 2, "g1": 1}


def test_hll_build_partial_aggregation(spark):
    """hll_by's two groupBys both partial-aggregate (map-side combine):
    the shuffle carries (keys, bucket, maxrho) partials — at most
    groups x 2^p rows per input partition — never the raw value stream."""
    from tdigest_spark import sketches as SK

    ev = spark.read.parquet(f"{SF}/events.parquet")
    h = SK.hll_by(ev, "user_id", by=["event_type"], p=8)
    plan = explain_str(h, "simple")
    # all-JVM: no Python stage anywhere
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    # both aggregates split into partial + final around their exchange
    assert plan.count("HashAggregate") >= 4
    assert plan.count("Exchange") == 2


def test_pii_and_clean_lines_stay_in_scan_stage(docs):
    """PII redaction and line cleaning are pure scalar/array expressions:
    whole-stage codegen, no Python, no Exchange — they ride the scan."""
    from tdigest_spark.operators.text import clean_lines, pii_redact

    for op in (pii_redact, clean_lines):
        plan = explain_str(op(docs), "simple")
        assert "*(1)" in plan, op.__name__
        assert "BatchEvalPython" not in plan, op.__name__
        assert "Exchange" not in plan, op.__name__


def test_lsh_incremental_pairs_equi_join_only(docs):
    """Incremental dedup joins new and index band keys with a hash/merge
    equi-join — never a nested loop or cartesian — and the index-side
    bucket guard is a partial aggregation (count before any join)."""
    from tdigest_spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs)
    plan = explain_str(lsh_incremental_pairs(sigs, sigs), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # map-side-combined bucket-size guard


def test_similarity_join_equi_join_no_text_shuffle(docs):
    """The two-table fuzzy join (round-5 driver face): banded candidates
    via hash/merge equi-joins only, index-side bucket guard as a partial
    aggregation, and the text column itself never crosses an Exchange
    or a Join — only signatures and band keys move."""
    from pyspark.sql import functions as F

    from tdigest_spark.operators.dedup import similarity_join

    left = docs.select(
        F.col("doc_id").alias("query_id"),
        F.expr("substring(text, 1, n_chars - 20)").alias("text"),
    )
    out = similarity_join(left, docs, left_id="query_id", right_id="doc_id")
    plan = explain_str(out)  # formatted: each node's full attribute block
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # index-side bucket guard, map-combined
    # text feeds only scan-stage hashing: it may appear in scans and
    # projections but never in a HASH-partitioned Exchange's or a Join
    # node's attribute block (same audit shape as
    # test_repetition_stats_narrow_join_no_text — simple-mode one-liners
    # print only keys, which made an earlier version of this assertion
    # vacuous).  The ONE allowed text-carrying Exchange shape is
    # ensure_parallelism's round-robin REPARTITION_BY_NUM: it fires only
    # when the input has fewer partitions than cores (true for this
    # single-file sf0.001 fixture, a no-op at corpus scale) — anything
    # else moving text is a real regression.
    checked = 0
    for block in plan.split("\n\n"):
        head = block.lstrip().split("\n")[0]
        if not head.startswith("(") or not ("Exchange" in head or "Join" in head):
            continue
        checked += 1
        if "Exchange" in head and "REPARTITION_BY_NUM" in block \
                and "RoundRobinPartitioning" in block:
            continue
        assert "text#" not in block, block.splitlines()[:3]
    assert checked >= 3  # the banded join + verify joins must be present


def test_chunk_tokens_scan_stage_only(docs):
    """Chunking is tokens -> sequence/transform/slice -> one posexplode:
    no shuffle, no Python — linear in text bytes."""
    from tdigest_spark.operators.text import chunk_tokens

    plan = explain_str(chunk_tokens(docs, budget=16), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_frequent_ngram_flags_no_text_shuffle(docs):
    """Document-frequency flags shuffle only (gram) and (id, count)
    streams; the text column never crosses an Exchange or a Join, and
    both aggregations are map-side partial."""
    from tdigest_spark.operators.dedup import frequent_ngram_flags

    plan = explain_str(frequent_ngram_flags(docs))
    for block in plan.split("\n\n"):
        head = block.lstrip().split("\n")[0]
        if head.startswith("(") and ("Exchange" in head or "Join" in head):
            if "RoundRobinPartitioning" in block:
                # ensure_parallelism's local small-file splitter — a
                # documented no-op at scale (input splits >> cores)
                continue
            assert "text#" not in block, head
    assert "partial_count" in explain_str(frequent_ngram_flags(docs), "simple")


def test_hashed_logit_no_shuffle(docs):
    """The hashed-feature classifier is pure scan-stage column algebra:
    no Exchange, no join, no Python stage anywhere in the plan."""
    from tdigest_spark.operators.scoring import hashed_logit

    plan = explain_str(hashed_logit(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_line_dedup_detection_shuffles_no_text(docs):
    """Cross-corpus line dedup: the dup-key detection branch (everything
    feeding the per-doc dup-key aggregate) shuffles only (hash, id)
    pairs — the text column is projected away before the first
    Exchange.  Text appears only on the final rewrite join's base side."""
    from tdigest_spark.operators.dedup import dedup_lines_corpus

    out = dedup_lines_corpus(docs, min_docs=2)
    plan = explain_str(out, "formatted")
    # every Exchange node's attributes are hashes/ids, never text: the
    # narrow dup-key side broadcasts into the rewrite join at this scale
    n_exchanges = 0
    for node in plan.split("\n\n"):
        if node.strip().startswith("(") and "Exchange" in node.split("\n")[0]:
            n_exchanges += 1
            assert "text" not in node.lower(), node
    assert n_exchanges >= 2  # the detection groupBys actually shuffled
    # the rewrite is array algebra: no posexplode/collect_list round trip
    assert "collect_list" not in plan


def test_dsir_scoring_broadcasts_model_no_text_shuffle(docs):
    """DSIR scoring: the dense bucket model is explicitly broadcast and
    every Exchange carries hashes/ids/partial counts — the text column
    never shuffles (gram->bucket hashing happens in the scan stage)."""
    from tdigest_spark.operators.scoring import dsir_logratio

    out = dsir_logratio(docs, docs.filter(F.col("lang") == "en"), n_buckets=512)
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    for node in plan.split("\n\n"):
        if node.strip().startswith("(") and node.split("\n")[0].count("Exchange"):
            assert "text" not in node.lower(), node


def test_ivf_assign_literal_path_no_exchange(spark):
    """Small quantizers are embedded as literal (−cos, cid) structs and
    resolved with least() in the scan stage: assignment adds NO join and
    NO Exchange (the old join+window path shuffled corpus × n_cells
    rows).  semantic_dedup's only corpus shuffle is then the in-cell
    self-join itself."""
    from tdigest_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    out = ivf_assign(emb, cents)
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_span_dedup_detection_shuffles_no_text(docs):
    """Duplicate-span dedup: same shuffle audit as line dedup — the
    count pass exchanges bare window hashes, the flag pass exchanges
    (id, position) aggregates, and no Exchange carries the text."""
    from tdigest_spark.operators.dedup import dedup_spans_corpus

    out = dedup_spans_corpus(docs, k=6, min_count=2)
    plan = explain_str(out, "formatted")
    n_exchanges = 0
    for node in plan.split("\n\n"):
        if node.strip().startswith("(") and "Exchange" in node.split("\n")[0]:
            # ensure_parallelism's round-robin rescue of a one-split
            # local file may carry text; it is a no-op at scale (splits
            # >> cores) — only KEYED exchanges are scale shuffles
            if "REPARTITION_BY_NUM" in node:
                continue
            n_exchanges += 1
            assert "text" not in node.lower(), node
    assert n_exchanges >= 2
    assert "collect_list" not in plan


def test_mixture_sample_scan_stage_only(docs):
    """Mixture up-weighting is a literal copy-array explode + scalar
    predicate in the scan stage: no Exchange, no join, no Python."""
    from tdigest_spark.operators.sampling import mixture_sample

    out = mixture_sample(docs, "doc_id", "lang", {"en": 2.4, "de": 0.5})
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_quantile_filter_broadcasts_cutoffs(docs):
    """The adaptive quantile gate joins KB-sized per-group cutoffs back
    onto the corpus via broadcast — never a sort-merge shuffle of the
    big side."""
    from tdigest_spark.operators import digest

    out = digest.quantile_filter(
        docs, "n_chars", 0.25, by=["lang"], delta=500.0
    )
    plan = explain_str(out, "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_freeze_to_budget_narrow_lane_and_semi_join(docs):
    """Token-budget freeze: the boundary range's exact cumsum and the
    kept-id semi-join move only (id, len) lanes — the text column never
    crosses an Exchange — and the kept ids come back as a broadcast
    left-semi join, not a shuffle join."""
    from tdigest_spark.operators.sampling import freeze_to_budget

    out = freeze_to_budget(docs, "doc_id", "n_chars", budget=50_000)
    plan = explain_str(out, "formatted")
    for node in plan.split("\n\n"):
        head = node.lstrip().split("\n")[0]
        if head.startswith("(") and "Exchange" in head:
            assert "text#" not in node, head
    assert "SortMergeJoin" not in plan


def test_pq_encode_literal_lane_scan_stage_only(spark):
    """PQ encode (literal lane): codebook embedded as literal arrays,
    per-subspace argmin resolved with least() over (dist, j) structs —
    a pure projection with NO Exchange, NO Join, NO Python stage; at
    100 TB the encode pass is exactly one scan."""
    from tdigest_spark.operators.similarity import (
        pq_codebooks_from_vectors,
        pq_encode,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cb = [r["embedding"] for r in emb.filter(F.col("vec_id") < 4).collect()]
    out = pq_encode(emb, pq_codebooks_from_vectors(cb, 4))
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_pq_topk_shuffles_codes_not_vectors(spark):
    """PQ ADC search: the query side (with its distance LUTs) broadcasts;
    every Exchange carries only (query_id, neighbor ids, codes, adc) —
    the embedding column never rides a shuffle, and the corpus side of
    the plan never even materializes vectors past the encode scan."""
    from tdigest_spark.operators.similarity import (
        pq_codebooks_from_vectors,
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cb = [r["embedding"] for r in emb.filter(F.col("vec_id") < 4).collect()]
    books = pq_codebooks_from_vectors(cb, 4)
    codes = pq_encode(emb, books)
    out = pq_topk(codes, emb.filter(F.col("vec_id") % 50 == 0), books, k=5)
    plan = explain_str(out, "formatted")
    assert "BroadcastExchange" in plan
    for node in plan.split("\n\n"):
        head = node.split("\n")[0]
        if node.strip().startswith("(") and "Exchange" in head and "Broadcast" not in head:
            assert "embedding" not in node, node


def test_ivf_pq_index_build_is_one_scan(spark):
    """IVFPQ index build (literal lanes): cell assignment AND code
    quantization both live in the scan stage — the entire corpus-sized
    index materializes in ONE pass with no Exchange, Join, or Python."""
    from tdigest_spark.operators.similarity import (
        ivf_pq_index,
        pq_codebooks_from_vectors,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    cb = [r["embedding"] for r in emb.filter(F.col("vec_id") < 4).collect()]
    out = ivf_pq_index(emb, cents, pq_codebooks_from_vectors(cb, 4))
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_random_project_scan_stage_only(spark):
    """JL projection: out_dim literal +-1 folds in the scan stage — no
    Exchange, no Join, no Python; the pre-step that shrinks every
    downstream similarity shuffle stays free of shuffles itself."""
    from tdigest_spark.operators.similarity import random_project

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = random_project(emb, 8, dim=64)
    plan = explain_str(out)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_ivf_pq_residual_build_no_corpus_shuffle(spark):
    """Residual IVFPQ index build: the centroid subtraction is a
    BROADCAST join + zip_with — the corpus itself still never
    exchanges (the only Exchange allowed is the broadcast)."""
    from tdigest_spark.operators.similarity import (
        ivf_pq_index,
        pq_codebooks_from_vectors,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = emb.filter(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    cb = [r["embedding"] for r in emb.filter(F.col("vec_id") < 4).collect()]
    out = ivf_pq_index(
        emb, cents, pq_codebooks_from_vectors(cb, 4), residual=True
    )
    plan = explain_str(out, "formatted")
    assert "BroadcastHashJoin" in plan
    for node in plan.split("\n\n"):
        head = node.split("\n")[0]
        if node.strip().startswith("(") and "Exchange" in head:
            assert "Broadcast" in head, node


def test_shuffle_totals_measures_exchange_volume(spark, docs):
    """shuffle_totals: a groupBy moves bytes, a pure projection moves
    none — the measured counterpart of every string-level plan audit
    in this file."""
    import time

    from tdigest_spark.plans import shuffle_totals

    def settled() -> int:
        # the app-status store ingests task metrics ASYNCHRONOUSLY: a
        # snapshot taken right after collect() can under-read and the
        # missing bytes then land between two later snapshots (this bit
        # as a full-suite order-dependent flake).  Poll until two
        # consecutive reads agree.
        prev, _ = shuffle_totals(spark)
        for _ in range(50):
            time.sleep(0.1)
            cur, _ = shuffle_totals(spark)
            if cur == prev:
                return cur
            prev = cur
        return prev

    w0 = settled()
    docs.groupBy("lang").count().collect()
    w1 = settled()
    assert w1 > w0
    docs.select((F.col("n_chars") + 1).alias("x")).limit(5).collect()
    w2 = settled()
    assert w2 == w1  # narrow projection + CollectLimit: zero shuffle


def test_percentile_enrich_no_corpus_shuffle(docs):
    """percentile_enrich's scoring stage is ONE JVM UDF (the Janino
    `CdfScorer`) directly over the scan: the digest table travels as a
    JVM broadcast, so the returned plan has no Exchange, no Join (the
    corpus never shuffles and no KB digest blob is copied per row) and no
    Python node at all (no row crosses to Python).  The scorer's inputs
    are exactly the key and value columns."""
    from tdigest_spark.operators import digest_by, percentile_enrich

    def assert_jvm_only(plan):
        for node in ("Exchange", "Join", "ArrowEvalPython", "BatchEvalPython",
                     "MapInArrow", "MapInPandas", "Python"):
            assert node not in plan, node

    d = digest_by(docs, "n_chars", by=["lang"], delta=24000.0)
    out = percentile_enrich(docs, "n_chars", by=["lang"], digests=d)
    assert_jvm_only(explain_str(out, "simple"))
    for by in (["lang"], ["lang", "doc_id"], []):
        keyed = percentile_enrich(docs, "n_chars", by=by, delta=24000.0)
        plan = explain_str(keyed, "simple")
        assert_jvm_only(plan)
        calls = re.findall(r"percentile_enrich\((.*)\) AS percentile#", plan)
        assert len(calls) == 1, plan
        assert re.findall(r"(\w+)#\d+", calls[0]) == [*by, "n_chars"]


def test_bm25_score_scan_stage_no_explode_no_python(docs):
    """The literal BM25 lane is two corpus scans and nothing else: stats
    fold into a 1-row broadcast (the plan's only Exchange is that
    aggregate's), scoring is scan-stage array algebra — no Generate
    (explode), no Python stage, and no Exchange carries the text/token
    columns."""
    from tdigest_spark.operators.scoring import bm25_score

    plan = explain_str(bm25_score(docs, ["spark", "vector", "merge"]))
    assert "Generate" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # the 1-row stats frame broadcasts into the cross join
    assert "Broadcast" in plan
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "text#" not in block and "__t#" not in block


def test_bm25_topk_no_text_in_exchange_broadcast_terms(docs, spark):
    """The retrieval lane's wide movement is narrow (id, dl, term, tf)
    rows: the term vocabulary joins as a broadcast in the scan stage and
    no Exchange carries the text column."""
    from tdigest_spark.operators.scoring import bm25_topk

    q = spark.createDataFrame(
        [("q1", ["spark", "vector"])], "query_id string, terms array<string>"
    )
    plan = explain_str(bm25_topk(docs, q, k=5))
    assert "BroadcastHashJoin" in plan  # term-table filter join
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert "text#" not in block
