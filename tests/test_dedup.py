"""Dedup operators (operators/dedup.py): exact, MinHash-LSH, Jaccard,
SimHash, embedding cosine — on constructed corpora with known duplicates."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators import dedup as D


def _words(rng, n):
    return " ".join(
        "".join(chr(97 + rng.integers(0, 26)) for _ in range(4)) for _ in range(n)
    )


@pytest.fixture(scope="module")
def corpus(spark):
    """60 random docs + near-dup twins of the first 10 (drop last 3 words)
    + exact dups of docs 10-14."""
    rng = np.random.default_rng(7)
    base = [(i, _words(rng, 40)) for i in range(60)]
    twins = [(1000 + i, " ".join(t.split()[:-3])) for i, t in base[:10]]
    exact = [(2000 + i, t) for i, t in base[10:15]]
    return spark.createDataFrame(base + twins + exact, "doc_id long, text string")


def test_exact_dedup(corpus):
    out = D.exact_dedup(corpus, ("text",), "doc_id").collect()
    dups = {r["keep_id"]: r["n_copies"] for r in out if r["n_copies"] > 1}
    assert dups == {i: 2 for i in range(10, 15)}
    assert len(out) == 70  # 75 rows, 5 exact dups


def test_minhash_identical_docs_equal_sig(corpus):
    sigs = {r["doc_id"]: tuple(r["minhash_sig"])
            for r in D.minhash_signatures(corpus).collect()}
    for i in range(10, 15):
        assert sigs[i] == sigs[2000 + i]
    # lane values are 8-hex-char strings
    assert all(len(v) == 8 for v in sigs[0])


def test_minhash_lane_semantics(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    sig = D.minhash_signatures(df, n_hashes=8).collect()[0]["minhash_sig"]
    shingles = ["a b c", "b c d"]
    h = [
        hashlib.md5(f"0:{s}".encode()).hexdigest()
        + hashlib.md5(f"1:{s}".encode()).hexdigest()
        for s in shingles
    ]
    exp = [min(x[j * 8 : j * 8 + 8] for x in h) for j in range(8)]
    assert list(sig) == exp


def test_lsh_finds_near_dups(corpus):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.lsh_candidate_pairs(corpus).collect()
    }
    # every exact dup must be found; near-dup twins (jaccard ~0.92) nearly
    # always share a band — require at least 8/10
    for i in range(10, 15):
        assert (i, 2000 + i) in pairs
    found_twins = sum((i, 1000 + i) in pairs for i in range(10))
    assert found_twins >= 8


def test_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d f")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    j = D.jaccard_pairs(df, pairs).collect()[0]["jaccard"]
    # shingle sets: {abc,bcd,cde} vs {abc,bcd,cdf}: inter 2, union 4
    assert j == 0.5


def test_ngram_jaccard_dedup_pipeline(corpus):
    out = D.ngram_jaccard_dedup(corpus, threshold=0.8)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    for i in range(10, 15):
        assert got.get((i, 2000 + i)) == 1.0
    # twins have jaccard (37-3)/38 > 0.8 for 40-word docs
    assert sum((i, 1000 + i) in got for i in range(10)) >= 8


def test_estimated_jaccard_pairs(spark, corpus):
    # exact dups must estimate 1.0 (identical signatures); the estimate
    # must equal the hand-computed lane-agreement fraction for all pairs
    sigs = D.minhash_signatures(corpus, n_hashes=8)
    pairs = spark.createDataFrame(
        [(i, 2000 + i) for i in range(10, 15)] + [(0, 1000 + 0), (0, 7)],
        "id_a long, id_b long",
    )
    est = {(r["id_a"], r["id_b"]): r["jaccard_est"]
           for r in D.estimated_jaccard_pairs(sigs, pairs).collect()}
    assert len(est) == 7
    for i in range(10, 15):
        assert est[(i, 2000 + i)] == 1.0
    sig_map = {r["doc_id"]: r["minhash_sig"] for r in sigs.collect()}
    for (a, b), v in est.items():
        expect = sum(x == y for x, y in zip(sig_map[a], sig_map[b])) / 8.0
        assert v == expect
    # a twin (37/40 shared words) should look similar, an unrelated
    # random pair should not
    assert est[(0, 1000)] >= 0.5
    assert est[(0, 7)] <= 0.25


def test_release_cached_unpersists_intermediates(corpus):
    # the pipeline persists internal intermediates (signatures, shingle
    # sets, candidate pairs); release_cached must drop every one so a
    # long-running job's disk-persisted blocks don't accumulate
    out = D.ngram_jaccard_dedup(corpus, threshold=0.8)
    out.count()
    assert D._CACHED, "pipeline should have tracked persisted intermediates"
    tracked = list(D._CACHED)
    D.release_cached()
    assert not D._CACHED
    assert all(not t.storageLevel.useMemory and not t.storageLevel.useDisk for t in tracked)


def test_simhash_properties(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash64(corpus).collect()}
    assert all(len(v) == 16 for v in sh.values())
    for i in range(10, 15):
        assert sh[i] == sh[2000 + i]

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    # twins: small hamming; unrelated: ~32
    twin_d = [ham(sh[i], sh[1000 + i]) for i in range(10)]
    rand_d = [ham(sh[i], sh[i + 20]) for i in range(10)]
    assert np.mean(twin_d) < 10
    assert np.mean(rand_d) > 20


def test_simhash_near_pairs(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(corpus, max_hamming=3).collect()
    }
    for i in range(10, 15):
        assert pairs.get((i, 2000 + i)) == 0


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(3)
    vecs = [(i, int(i % 4), rng.standard_normal(16).tolist()) for i in range(40)]
    twins = [(100 + i, b, [x * 1.01 for x in v]) for i, b, v in vecs[:8]]
    emb = spark.createDataFrame(
        vecs + twins, "vec_id long, label int, embedding array<double>"
    )
    out = D.embedding_near_dup(emb, "vec_id", "embedding", "label", threshold=0.95)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert set(got) == {(i, 100 + i) for i in range(8)}
    assert all(c > 0.999999 for c in got.values())


def test_embedding_near_dup_unblocked_requires_opt_in(spark):
    """block_col=None is an all-pairs crossJoin — must raise without an
    explicit allow_quadratic=True, and behave identically with it."""
    rng = np.random.default_rng(7)
    vecs = [(i, rng.standard_normal(8).tolist()) for i in range(6)]
    twins = [(100 + i, [x * 1.01 for x in v]) for i, v in vecs[:2]]
    emb = spark.createDataFrame(
        vecs + twins, "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="allow_quadratic"):
        D.embedding_near_dup(emb, "vec_id", "embedding", block_col=None)
    out = D.embedding_near_dup(
        emb, "vec_id", "embedding", block_col=None, threshold=0.95,
        allow_quadratic=True,
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(i, 100 + i) for i in range(2)}


def test_dot_col_sequential_order(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    d = df.select(D.dot_col("a", "b").alias("d")).collect()[0]["d"]
    assert d == ((0.0 + 1.0 * 4.0) + 2.0 * 5.0) + 3.0 * 6.0


def test_resolve_dup_clusters_and_apply(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.resolve_dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 5, 10, 11, 20, 21, 22, 99]],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in D.apply_dedup(docs, pairs).collect())
    assert kept == [1, 5, 10, 20, 99]


def test_resolve_dup_clusters_long_chain(spark):
    """A 300-hop chain must resolve to ONE component: star rounds double
    label reach per round (O(log n)), where plain min-label propagation
    under a 10-round cap would silently split the chain."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.resolve_dup_clusters(pairs).collect()}
    assert len(got) == 301
    assert set(got.values()) == {0}


def test_resolve_dup_clusters_random_vs_union_find(spark):
    """Randomized graphs: cluster labels must equal a driver-side
    union-find's component minima exactly."""
    rng = np.random.default_rng(17)
    n, m = 200, 150
    edges = [(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2)) if a != b]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expect = {x: find(x) for x in touched}
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"] for r in D.resolve_dup_clusters(pairs).collect()}
    assert got == expect


def test_full_dedup_pipeline_end_to_end(spark, corpus):
    """LSH near-dups -> clusters -> deduped corpus drops the twins and
    exact copies but keeps every distinct base doc."""
    pairs = D.ngram_jaccard_dedup(corpus, threshold=0.8).select("id_a", "id_b")
    deduped = D.apply_dedup(corpus, pairs)
    ids = {r["doc_id"] for r in deduped.collect()}
    assert set(range(60)) <= ids          # all base docs kept
    assert not any(2000 + i in ids for i in range(10, 15))  # exact copies gone


def test_simhash_near_pairs_rejects_wide_radius(corpus):
    """4-chunk pigeonhole blocking is only complete for hamming <= 3."""
    import pytest

    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_near_pairs(corpus, max_hamming=4)


def test_simhash_near_pairs_hot_chunk_guard(spark):
    """A template cluster (hundreds of identical docs sharing every chunk)
    is excluded from pairwise expansion by max_bucket; normal pairs
    survive."""
    rows = [(i, "the same boilerplate page body " * 3) for i in range(60)]
    rows += [(1000, "alpha beta gamma delta unique one"),
             (2000, "alpha beta gamma delta unique one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(df, max_bucket=50).collect()
    }
    # the 60-doc identical cluster (60 > max_bucket buckets) produced no pairs
    assert all(a >= 1000 for a, _ in out)
    assert out.get((1000, 2000)) == 0


def test_rolling_lane_pipeline(corpus):
    """The rolling production lane end to end: long-array signatures,
    xxhash64 band keys, hash-agnostic exact verification — same recall
    contract as the md5 lane on the twin corpus."""
    sigs = D.minhash_signatures(corpus, hash_fn="rolling")
    row = sigs.first()
    assert len(row["minhash_sig"]) == 8
    assert all(isinstance(v, int) for v in row["minhash_sig"])

    out = D.ngram_jaccard_dedup(corpus, threshold=0.8, hash_fn="rolling")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    for i in range(10, 15):
        assert got.get((i, 2000 + i)) == 1.0  # exact dups always bucket together
    assert sum((i, 1000 + i) in got for i in range(10)) >= 8

    # estimated verification is signature-type-agnostic: exact dups agree
    # on every long lane
    pairs = corpus.sparkSession.createDataFrame(
        [(10, 2010)], "id_a long, id_b long"
    )
    est = D.estimated_jaccard_pairs(sigs, pairs).collect()[0]["jaccard_est"]
    assert est == 1.0


def test_ngram_contamination_counts(spark):
    """Known-overlap corpus: doc 0 shares exactly its benchmark half,
    doc 1 shares nothing, NULL-text doc keeps its row with 0 overlap."""
    corpus = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j k l"),   # 12 tokens
            (1, "z y x w v u t s r q p o"),   # disjoint
            (2, None),                          # NULL text survives
        ],
        "doc_id long, text string",
    )
    # benchmark = first 9 tokens of doc 0 -> 8-grams: positions 1..2
    # benchmark includes NULL and empty rows: their degenerate \'\'
    # shingle must NOT contaminate NULL/empty-text corpus docs
    bench = spark.createDataFrame(
        [("a b c d e f g h i",), (None,), ("",)], "text string"
    )
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in D.ngram_contamination(
            corpus, bench, n=8, min_overlap=1
        ).collect()
    }
    # doc 0 contains both benchmark 8-grams; doc 1 and the NULL doc none
    assert out == {0: (2, True), 1: (0, False), 2: (0, False)}


def test_ngram_contamination_threshold_and_decontaminate(spark):
    corpus = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),  # shares 3 distinct 8-grams
            (1, "a b c d e f g h z z"),  # shares exactly 1 (the first)
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c d e f g h i j",)], "text string")
    out = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in D.ngram_contamination(
            corpus, bench, n=8, min_overlap=2
        ).collect()
    }
    assert out == {0: (3, True), 1: (1, False)}
    clean = D.decontaminate(corpus, bench, n=8, min_overlap=2)
    assert [r["doc_id"] for r in clean.collect()] == [1]


def test_ngram_contamination_shuffle_lane_matches_broadcast(spark, corpus):
    """The xxhash64 shuffle fallback (oversized benchmark sets) produces
    the same flags as the exact string-keyed broadcast lane."""
    bench = corpus.filter(F.col("doc_id") % 7 == 0).select("text")
    a = D.ngram_contamination(corpus, bench, n=5, min_overlap=1)
    b = D.ngram_contamination(
        corpus, bench, n=5, min_overlap=1, broadcast_benchmark=False
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_decontaminate_precomputed_flags(spark):
    """Reporting pipelines compute flags once (ngram_contamination) and
    drop through decontaminate(contamination=...) — same result as the
    benchmark-driven path, and benchmark/contamination are mutually
    validated."""
    corpus = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "z y x w v u t s r q")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([("a b c d e f g h i j",)], "text string")
    flags = D.ngram_contamination(corpus, bench, n=8)
    via_flags = D.decontaminate(corpus, contamination=flags)
    via_bench = D.decontaminate(corpus, bench, n=8)
    assert (
        [r["doc_id"] for r in via_flags.collect()]
        == [r["doc_id"] for r in via_bench.collect()]
        == [1]
    )
    with pytest.raises(ValueError):
        D.decontaminate(corpus)


# ------------------------------------------------------------- incremental


@pytest.fixture(scope="module")
def incr(spark):
    """A standing index of 30 docs and a NEW increment: near-dup twins of
    index docs 0-4, an exact copy of index doc 5, and 5 novel docs.  New
    ids deliberately collide with index ids (separate namespaces)."""
    rng = np.random.default_rng(21)
    index = [(i, _words(rng, 40)) for i in range(30)]
    new = (
        [(i, " ".join(t.split()[:-3])) for i, t in index[:5]]  # twins, ids 0-4
        + [(5, index[5][1])]                                    # exact, id 5
        + [(100 + i, _words(rng, 40)) for i in range(5)]        # novel
    )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(index), mk(new)


def test_lsh_incremental_pairs_finds_twins(incr):
    index_df, new_df = incr
    isigs = D.minhash_signatures(index_df)
    nsigs = D.minhash_signatures(new_df)
    pairs = {
        (r["new_id"], r["index_id"])
        for r in D.lsh_incremental_pairs(nsigs, isigs).collect()
    }
    # every twin/copy is candidate-paired with its original
    for i in range(6):
        assert (i, i) in pairs
    # novel docs pair with nothing (random 4-char word soup)
    assert not any(n >= 100 for n, _ in pairs)


def test_estimated_jaccard_two_namespaces(incr):
    index_df, new_df = incr
    isigs = D.minhash_signatures(index_df)
    nsigs = D.minhash_signatures(new_df)
    pairs = D.lsh_incremental_pairs(nsigs, isigs)
    est = {
        (r["new_id"], r["index_id"]): r["jaccard_est"]
        for r in D.estimated_jaccard_two(
            pairs, nsigs, isigs, "new_id", "index_id"
        ).collect()
    }
    assert est[(5, 5)] == 1.0  # exact copy agrees on every lane
    for i in range(5):
        assert est[(i, i)] >= 0.5  # truncated twins


def test_dedup_against_index_keeps_only_novel(incr):
    index_df, new_df = incr
    isigs = D.minhash_signatures(index_df)
    kept = sorted(
        r["doc_id"]
        for r in D.dedup_against_index(new_df, isigs, threshold=0.5).collect()
    )
    assert kept == [100 + i for i in range(5)]
    D.release_cached()


def test_lsh_incremental_index_bucket_guard(spark):
    """A template cluster in the INDEX (many identical docs) is excluded
    from the join by max_bucket, so a hot band key cannot fan out."""
    template = "x y z w v u t s r q p o"
    index_df = spark.createDataFrame(
        [(i, template) for i in range(10)], "doc_id long, text string"
    )
    new_df = spark.createDataFrame([(0, template)], "doc_id long, text string")
    isigs = D.minhash_signatures(index_df)
    nsigs = D.minhash_signatures(new_df)
    assert D.lsh_incremental_pairs(nsigs, isigs, max_bucket=5).count() == 0
    assert D.lsh_incremental_pairs(nsigs, isigs, max_bucket=1000).count() == 10


# --------------------------------------------------------- frequent n-grams


def test_frequent_ngram_flags(spark):
    shared = "one two three four five"
    docs = [
        (0, shared + " alpha beta"),      # shares the 5-gram with 1 and 2
        (1, shared + " gamma delta"),
        (2, shared),                       # only the shared gram
        (3, "six seven eight nine ten"),   # unique grams only
        (4, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.frequent_ngram_flags(df, n=5, min_df=2).collect()
    }
    # doc 2 is exactly the shared 5-gram: 1 gram, 1 frequent
    assert (out[2]["n_grams"], out[2]["n_frequent_grams"]) == (1, 1)
    assert out[2]["frequent_frac"] == 1.0
    # docs 0/1: 3 grams each (7 tokens), the shared one is frequent;
    # 'two three four five alpha' etc. are unique
    assert out[0]["n_grams"] == 3 and out[0]["n_frequent_grams"] == 1
    assert out[1]["n_grams"] == 3 and out[1]["n_frequent_grams"] == 1
    # doc 3: nothing frequent
    assert (out[3]["n_grams"], out[3]["n_frequent_grams"]) == (1, 0)
    assert out[3]["frequent_frac"] == 0.0
    # NULL text keeps its row with NULL metrics
    assert out[4]["n_grams"] is None and out[4]["n_frequent_grams"] is None
    assert len(out) == 5


# ---------------------------------------------------------------- line dedup


def test_dedup_lines_corpus_removes_frequent_lines(spark):
    boiler = "Subscribe to our newsletter"
    rows = [
        (0, f"unique zero line\n{boiler}\nclosing zero"),
        (1, f"unique one line\n{boiler}\nclosing one"),
        (2, f"unique two line\n{boiler}\nclosing two"),
        (3, "all original content\nnothing shared here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=3).collect()}
    assert out[0]["n_lines"] == 3 and out[0]["n_lines_kept"] == 2
    assert out[0]["clean_text"] == "unique zero line\nclosing zero"
    assert out[3]["n_lines_kept"] == 2  # untouched doc
    assert out[3]["clean_text"] == rows[3][1]


def test_dedup_lines_corpus_threshold_and_normalization(spark):
    rows = [
        (0, "SHARED LINE\nalpha"),
        (1, "  shared line  \nbeta"),  # same after lower+trim
        (2, "gamma\ndelta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_docs=2: the normalized 'shared line' spans docs 0 and 1 -> removed
    out = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=2).collect()}
    assert out[0]["clean_text"] == "alpha"
    assert out[1]["clean_text"] == "beta"
    # min_docs=3: below threshold -> kept verbatim (original casing/spacing)
    out3 = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=3).collect()}
    assert out3[0]["clean_text"] == "SHARED LINE\nalpha"
    assert out3[1]["clean_text"] == "  shared line  \nbeta"
    # normalize=False: different raw lines -> not duplicates
    outr = {
        r["doc_id"]: r
        for r in D.dedup_lines_corpus(df, min_docs=2, normalize=False).collect()
    }
    assert outr[0]["clean_text"] == "SHARED LINE\nalpha"


def test_dedup_lines_corpus_within_doc_repeats_count_once(spark):
    rows = [
        (0, "echo line\necho line\nown words"),  # 2 occurrences, 1 doc
        (1, "other text\nmore text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=2).collect()}
    # distinct-doc frequency is 1 < 2: kept, both occurrences
    assert out[0]["clean_text"] == rows[0][1]
    # but at min_docs=1 every non-exempt line is "duplicate": all removed
    out1 = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=1).collect()}
    assert out1[0]["n_lines_kept"] == 0 and out1[0]["clean_text"] == ""


def test_dedup_lines_corpus_blank_exempt_and_null_text(spark):
    rows = [
        (0, "shared\n\nkeep zero"),
        (1, "shared\n\nkeep one"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_lines_corpus(df, min_docs=2).collect()}
    # blank line appears in 2 docs but is exempt; 'shared' is removed
    assert out[0]["clean_text"] == "\nkeep zero"
    assert out[0]["n_lines"] == 3 and out[0]["n_lines_kept"] == 2
    # NULL text survives with NULL outputs (enrichment contract)
    assert out[2]["n_lines"] is None and out[2]["clean_text"] is None
    assert len(out) == 3


def test_dedup_spans_corpus_cross_doc_removal(spark):
    rows = [
        (0, "a b c d e f unique tail zero"),
        (1, "prefix one a b c d e f and more"),
        (2, "totally distinct words nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=6, min_count=2).collect()}
    # the shared 6-token span is removed from BOTH docs
    assert out[0]["clean_text"] == "unique tail zero"
    assert out[1]["clean_text"] == "prefix one and more"
    assert (out[0]["n_tokens"], out[0]["n_tokens_kept"]) == (9, 3)
    # untouched doc reassembles verbatim (single-space token join)
    assert out[2]["clean_text"] == rows[2][1]
    assert out[2]["n_tokens_kept"] == out[2]["n_tokens"]


def test_dedup_spans_corpus_within_doc_repeats_count(spark):
    # same 6-token run twice in ONE doc: occurrences (not distinct docs)
    # reach min_count=2, both occurrences removed (paper semantics)
    rows = [
        (0, "solo repeated x y z q r s middle x y z q r s end"),
        (1, "other document with its own words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=6, min_count=2).collect()}
    assert out[0]["clean_text"] == "solo repeated middle end"
    # at min_count=3 the double occurrence is below threshold: kept
    out3 = {
        r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=6, min_count=3).collect()
    }
    assert out3[0]["clean_text"] == rows[0][1]


def test_dedup_spans_corpus_long_run_fully_covered(spark):
    # a duplicated run LONGER than k is covered end-to-end by its
    # overlapping k-windows (run of m tokens -> m-k+1 flagged windows)
    shared = "one two three four five six seven eight"  # 8 tokens, k=5
    rows = [(0, f"head {shared} tail"), (1, f"{shared} coda words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=5, min_count=2).collect()}
    assert out[0]["clean_text"] == "head tail"
    assert out[1]["clean_text"] == "coda words"


def test_dedup_spans_corpus_short_null_and_edges(spark):
    rows = [
        (0, "short doc"),  # < k tokens: no windows, kept whole
        (1, None),  # NULL text: NULL outputs, row kept
        (2, "x y z exactly five tok"),
        (3, "x y z exactly five tok"),  # exact twin of 2, n == k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=6, min_count=2).collect()}
    assert out[0]["clean_text"] == "short doc"
    assert out[1]["n_tokens"] is None and out[1]["clean_text"] is None
    # twins of exactly k tokens are one flagged window each: fully removed
    assert out[2]["clean_text"] == "" and out[2]["n_tokens_kept"] == 0
    assert out[3]["clean_text"] == ""
    assert len(out) == 4


def test_dedup_spans_corpus_whitespace_normalization(spark):
    # token-granular contract: reassembly single-spaces; duplicated spans
    # match across differing whitespace
    rows = [(0, "a  b   c d e f tail0"), (1, "a b c d e f tail1")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.dedup_spans_corpus(df, k=6, min_count=2).collect()}
    assert out[0]["clean_text"] == "tail0" and out[1]["clean_text"] == "tail1"


def test_dedup_spans_corpus_rolling_lane_same_verdicts(spark):
    # the O(n) NumPy Rabin-Karp production lane must produce identical
    # kept text to the md5 oracle lane (span verdicts are
    # hash-independent): overlapping dups (interval merge), within-doc
    # repeats, a doc shorter than k, NULL text, a doc sharing nothing,
    # multi-space tokenization alignment (Python split must mirror
    # tokens_col)
    rows = [
        (0, "a b c d e f g h unique tail zero"),
        (1, "pre a b c d e f g h post and c d e f g h i j k end"),
        (2, "c d e f g h i j k other words entirely here now"),
        (3, "short doc"),
        (4, None),
        (5, "spaced  a b   c d e f g h  tail"),
        (6, "a b c d e f unique tail zero"),
        (7, "prefix one a b c d e f and more"),
        (8, "totally distinct words nothing shared here at all"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    md5 = D.dedup_spans_corpus(df, k=6, min_count=2, hash_fn="md5")
    roll = D.dedup_spans_corpus(df, k=6, min_count=2, hash_fn="rolling")
    ms = sorted(map(tuple, md5.collect()))
    rs = sorted(map(tuple, roll.collect()))
    assert ms == rs
    # sanity: something was actually removed (shared 6-gram runs), and
    # the doc sharing nothing kept every token
    assert any(r[1] is not None and r[2] < r[1] for r in ms)
    assert ms[8][1:3] == (8, 8)


def test_rolling_span_hashes_no_false_window_collisions(spark):
    # 2k distinct 4-token windows over a 16-word alphabet: every window
    # hash must be distinct (polynomial+fmix64 lane, non-adversarial)
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(16)]
    rows = [(i, " ".join(rng.choice(words) for _ in range(40))) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = D.rolling_hashed_frame(df, "text", "doc_id", 4)
    from collections import defaultdict

    by_hash = defaultdict(set)
    texts = dict(rows)
    win = {
        (i, j): " ".join(texts[i].split()[j : j + 4])
        for i in range(60)
        for j in range(37)
    }
    for r in hashed.select("doc_id", "__wh").collect():
        for j, h in enumerate(r["__wh"]):
            by_hash[h].add(win[(r["doc_id"], j)])
    assert all(len(v) == 1 for v in by_hash.values())


def test_rolling_minhash_lane_semantics(spark):
    # the O(n) NumPy signature lane must mirror the md5 lane's doc
    # coverage and MinHash statistics: exact dups agree on every lane,
    # near-dups on most, distinct docs on none; short docs get a
    # whole-doc shingle; empty/whitespace/NULL docs share one "" shingle
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j extra tail words here"),
        (3, "completely different content with no overlap at all present"),
        (4, "sh"),
        (5, ""),
        (6, "   "),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    roll = {
        r.doc_id: tuple(r.minhash_sig)
        for r in D.minhash_signatures(df, hash_fn="rolling").collect()
    }
    md5 = {
        r.doc_id: tuple(r.minhash_sig)
        for r in D.minhash_signatures(df, hash_fn="md5").collect()
    }
    assert sorted(roll) == sorted(md5)  # identical doc coverage
    assert roll[0] == roll[1] and roll[0] != roll[3]
    assert roll[5] == roll[6] == roll[7]  # shared empty shingle
    assert md5[5] == md5[6] == md5[7]  # ...mirroring the md5 lane
    agree_near = sum(a == b for a, b in zip(roll[0], roll[2]))
    agree_far = sum(a == b for a, b in zip(roll[0], roll[3]))
    assert agree_near >= 4 and agree_far <= 1
    # partitioning invariance
    roll2 = {
        r.doc_id: tuple(r.minhash_sig)
        for r in D.minhash_signatures(
            df.repartition(7), hash_fn="rolling"
        ).collect()
    }
    assert roll2 == roll


def test_rolling_minhash_lane_feeds_lsh_stack(spark):
    # signature-type-agnostic consumers: banding + candidate pairs +
    # estimated verify all run on the rolling lane and find the planted
    # dups without pairing distinct docs
    rows = [(i, f"shared prefix tokens one two three four five six doc {i}")
            for i in range(6)]
    rows += [(10, "totally unrelated words appear only here nowhere else")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(df, hash_fn="rolling")
    cands = D.lsh_candidate_pairs(df, sigs=sigs, hash_fn="rolling")
    est = D.estimated_jaccard_pairs(sigs, cands, "doc_id")
    pairs = {(r.id_a, r.id_b) for r in est.filter("jaccard_est >= 0.5").collect()}
    assert all(a < 10 and b < 10 for a, b in pairs)
    assert len(pairs) > 0


def test_ngram_contamination_rolling_lane_parity(spark):
    # the O(n) rolling gram lane must flag exactly what the string lane
    # flags: full n-gram overlap, partial overlap, none, the short-doc
    # whole-text gram, and the empty/NULL gram exemption
    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, "alpha beta gamma delta epsilon zeta eta theta different end"),
            (2, "nothing in common with the benchmark text at all here"),
            (3, "tiny doc"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            ("alpha beta gamma delta epsilon zeta eta theta iota kappa x",),
            ("tiny doc",),
        ],
        "text string",
    )
    s = {
        r.doc_id: (r.n_overlap, r.contaminated)
        for r in D.ngram_contamination(corpus, bench, n=8).collect()
    }
    for kw in ({}, {"broadcast_benchmark": False}):
        r = {
            x.doc_id: (x.n_overlap, x.contaminated)
            for x in D.ngram_contamination(
                corpus, bench, n=8, gram_lane="rolling", **kw
            ).collect()
        }
        assert r == s, (kw, r, s)
    with pytest.raises(ValueError):
        D.ngram_contamination(corpus, bench, gram_lane="sha1")


def test_dedup_spans_corpus_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.dedup_spans_corpus(df, k=1)
    with pytest.raises(ValueError):
        D.dedup_spans_corpus(df, hash_fn="sha1")


def test_removed_xxhash64_lane_rejected_everywhere():
    # every operator taking `hash_fn` rejects the removed lane up front
    # (before touching a frame), naming both surviving lanes
    import inspect

    from tdigest_spark.streaming import streaming_incremental_dedup as sid

    for f, n_frames in (
        (D.minhash_signatures, 1), (D.lsh_candidate_pairs, 1),
        (D.ngram_jaccard_dedup, 1), (D.dedup_spans_corpus, 1),
        (D.dedup_against_index, 2), (D.similarity_join, 2), (sid, 3),
    ):
        with pytest.raises(ValueError, match="'md5' or 'rolling'"):
            f(*[None] * n_frames, hash_fn="xxhash64")
    assert "hash_fn" not in inspect.signature(D.span_hashes).parameters


def test_dedup_spans_corpus_nondefault_paths_same_output(spark):
    # the at-scale fallbacks must not change results: forced shuffle
    # join (broadcast_verdicts=False), uncached double-hash pass
    # (cache_hashes=False), and the adaptive default forced into its
    # shuffle branch via max_broadcast_dups=0
    rows = [
        (0, "a b c d e f g h unique tail zero"),
        (1, "pre a b c d e f g h post"),
        (2, "unrelated words only in this document here"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, D.dedup_spans_corpus(df, k=6).collect()))
    for kw in (
        {"broadcast_verdicts": False},
        {"cache_hashes": False},
        {"max_broadcast_dups": 0},
    ):
        got = sorted(map(tuple, D.dedup_spans_corpus(df, k=6, **kw).collect()))
        assert got == base, kw


def test_dedup_lines_corpus_xxhash_lane_same_verdicts(spark):
    rows = [
        (0, "common footer\nunique a"),
        (1, "common footer\nunique b"),
        (2, "solo doc\nno shared lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    md5 = D.dedup_lines_corpus(df, min_docs=2, hash_fn="md5")
    xx = D.dedup_lines_corpus(df, min_docs=2, hash_fn="xxhash64")
    assert sorted(map(tuple, md5.collect())) == sorted(map(tuple, xx.collect()))


def test_rolling_batch_fns_empty_batch_arrow_castable():
    # a zero-row Arrow batch through any rolling lane must yield a
    # frame Arrow can cast to (id bigint, list<bigint>) — a bare empty
    # python list infers float64 and the cast throws (the bug the
    # minhash lane's guard fixed; the span lane shared it untested)
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"),
         "text": pd.Series([], dtype="object")}
    )
    zs = np.array(D._MINHASH_Z[:4], dtype=np.uint64)
    for out, col in (
        (D._span_batch(np, pd, empty, "text", "doc_id", 5), "__wh"),
        (D._minhash_batch(np, pd, empty, "text", "doc_id", 3, zs),
         "minhash_sig"),
        (D._gram_batch(np, pd, empty, "text", "doc_id", 8), "__gh"),
    ):
        assert len(out) == 0
        tbl = pa.Table.from_pandas(
            out,
            schema=pa.schema(
                [("doc_id", pa.int64()), (col, pa.list_(pa.int64()))]
            ),
            preserve_index=False,
        )
        assert tbl.num_rows == 0


def test_rolling_batch_fns_null_and_short_doc_semantics():
    # NULL text: span lane -> NULL array; minhash -> shared "" shingle
    # signature (same for empty-after-split); gram lane -> no grams.
    # Short docs (< k tokens): span -> empty; minhash/gram -> ONE
    # whole-doc window
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": pd.Series([0, 1, 2, 3], dtype="int64"),
         "text": ["a b c d e", None, "  ", "a b"]}
    )
    span = D._span_batch(np, pd, pdf, "text", "doc_id", 3)
    assert len(span["__wh"][0]) == 3          # 5 tokens, k=3 -> 3 windows
    assert span["__wh"][1] is None            # NULL text -> NULL array
    assert span["__wh"][2] == []              # 0 tokens -> no windows
    assert span["__wh"][3] == []              # 2 tokens < k -> no windows

    zs = np.array(D._MINHASH_Z[:4], dtype=np.uint64)
    mh = D._minhash_batch(np, pd, pdf, "text", "doc_id", 3, zs)
    assert all(len(s) == 4 for s in mh["minhash_sig"])
    assert mh["minhash_sig"][1] == mh["minhash_sig"][2]  # NULL == empty
    assert mh["minhash_sig"][3] != mh["minhash_sig"][1]  # whole-doc shingle

    gr = D._gram_batch(np, pd, pdf, "text", "doc_id", 3)
    assert len(gr["__gh"][0]) == 3
    assert gr["__gh"][1] == [] and gr["__gh"][2] == []   # empty exemption
    assert len(gr["__gh"][3]) == 1                       # whole-doc gram


def test_crawl_diff_statuses(spark):
    from tdigest_spark.operators.dedup import crawl_diff

    old = spark.createDataFrame(
        [("a", "one"), ("b", "two"), ("c", "three"), ("d", None),
         ("e", "five"), ("e", "five-dup")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("a", "one"), ("b", "two CHANGED"), ("d", None), ("f", "new doc"),
         ("e", "five-dup"), ("e", "five")],
        "url string, text string",
    )
    got = {r["url"]: r["status"] for r in crawl_diff(old, new).collect()}
    assert got == {
        "a": "same",       # identical content
        "b": "changed",    # content differs
        "c": "gone",       # only in old
        "d": "same",       # NULL vs NULL
        "f": "new",        # only in new
        "e": "same",       # dup keys collapse to min hash on both sides
    }
    # NULL vs text is 'changed', not 'same'
    old2 = spark.createDataFrame([("x", None)], "url string, text string")
    new2 = spark.createDataFrame([("x", "now real")], "url string, text string")
    assert crawl_diff(old2, new2).collect()[0]["status"] == "changed"


def test_crawl_diff_shuffles_hashes_not_text(spark):
    from tdigest_spark.operators.dedup import crawl_diff
    from tdigest_spark.plans import explain_str

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = crawl_diff(docs, docs, key_col="doc_id")
    plan = explain_str(out, "formatted")
    for node in plan.split("\n\n"):
        head = node.split("\n")[0]
        if node.strip().startswith("(") and "Exchange" in head:
            assert "text" not in node, node


def test_similarity_join_two_tables(spark):
    from tdigest_spark.operators.dedup import similarity_join

    corpus = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel"),
         (2, "india juliet kilo lima mike november oscar papa"),
         (3, "quebec romeo sierra tango uniform victor whiskey xray")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo foxtrot golf hotel"),  # == 1
         (2, "totally different words here nothing matches at all"),
         (3, "india juliet kilo lima mike november oscar papa")],   # == 2
        "doc_id long, text string",
    )
    out = similarity_join(queries, corpus, threshold=0.8)
    got = sorted((r["doc_id_l"], r["doc_id_r"]) for r in out.collect())
    assert got == [(1, 1), (3, 2)]
    assert all(r["jaccard_est"] >= 0.8 for r in out.collect())
    # distinct id column names pass through unrenamed
    out2 = similarity_join(
        queries.withColumnRenamed("doc_id", "qid"), corpus,
        left_id="qid", right_id="doc_id", threshold=0.8,
    )
    assert sorted((r["qid"], r["doc_id"]) for r in out2.collect()) == [(1, 1), (3, 2)]
