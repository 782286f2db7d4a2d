"""ANN operators (operators/similarity.py) vs NumPy brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.operators import similarity as S

DIM = 16


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(80)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), rows


def _np_topk(rows, qid, k):
    M = np.array([v for _, v in rows])
    ids = np.array([i for i, _ in rows])
    q = M[list(ids).index(qid)]
    cos = M @ q / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(float(-c), int(i)) for c, i in zip(cos, ids) if i != qid]
    )[:k]
    return [i for _, i in order]


def test_cosine_topk_matches_numpy(emb):
    df, rows = emb
    queries = df.filter(F.col("vec_id").isin([0, 7, 33]))
    out = S.cosine_topk(df, queries, k=5)
    got: dict[int, list[int]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid in (0, 7, 33):
        assert got[qid] == _np_topk(rows, qid, 5)


def test_hyperplanes_deterministic():
    a = S.hyperplanes(4, DIM, seed=42)
    b = S.hyperplanes(4, DIM, seed=42)
    c = S.hyperplanes(4, DIM, seed=43)
    assert a == b and a != c
    assert all(len(p) == DIM and set(p) <= {-1, 1} for p in a)


def test_lsh_bucket_consistency(emb):
    df, _ = emb
    planes = S.hyperplanes(6, DIM, seed=1)
    b = df.select(
        "vec_id", S.lsh_bucket_col("embedding", planes).alias("bucket")
    ).collect()
    assert all(len(r["bucket"]) == 6 and set(r["bucket"]) <= {"0", "1"} for r in b)
    # identical vector -> identical bucket (query side uses same expr)
    again = df.select(
        "vec_id", S.lsh_bucket_col("embedding", planes).alias("bucket")
    ).collect()
    assert {r["vec_id"]: r["bucket"] for r in b} == {
        r["vec_id"]: r["bucket"] for r in again
    }


def test_lsh_cosine_topk_subset_of_bucket(emb):
    df, rows = emb
    queries = df.filter(F.col("vec_id") == 0)
    out = S.lsh_cosine_topk(df, queries, k=5, n_planes=4, seed=42, dim=DIM)
    got = [r["neighbor_id"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    # approximate: all results must be true vectors ranked consistently with
    # exact cosine *within* the returned set
    M = {i: np.array(v) for i, v in rows}
    q = M[0]
    cos = lambda i: float(M[i] @ q / (np.linalg.norm(M[i]) * np.linalg.norm(q)))  # noqa: E731
    assert got == sorted(got, key=lambda i: (-cos(i), i))


def test_ivf_assign(spark):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, centroid array<double>"
    )
    vecs = spark.createDataFrame(
        [(0, [5.0, 0.1]), (1, [0.1, 9.0]), (2, [1.0, 0.9])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["ivf_cell"] for r in S.ivf_assign(vecs, cents).collect()}
    assert out == {0: 0, 1: 1, 2: 0}  # (1,0.9) closer in cosine to (1,0)


def test_ivf_train_and_topk_recall(spark):
    """Clustered data: IVF with nprobe=2 recovers most of the exact top-k."""
    rng = np.random.default_rng(21)
    centers = rng.standard_normal((4, DIM)) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.standard_normal(DIM) * 0.5).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.ivf_train(emb, n_cells=4, iters=8)
    assert cents.count() == 4

    queries = emb.filter(F.col("vec_id").isin([0, 1, 2, 3]))
    approx = S.ivf_topk(emb, queries, cents, k=5, nprobe=2)
    exact = S.cosine_topk(emb, queries, k=5)
    ax = {}
    for r in approx.collect():
        ax.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(ax[q] & ex[q]) / 5 for q in ex]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ivf_train_sample_is_bounded(spark):
    """The trainer hard-caps the driver-side collect regardless of corpus
    size: training on a corpus far larger than the cap works and returns
    exactly n_cells centroids of the right width."""
    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(5000)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.ivf_train(emb, n_cells=4, iters=2, max_sample_per_cell=10)
    got = cents.collect()
    assert len(got) == 4
    assert all(len(r["centroid"]) == 8 for r in got)


def test_lsh_topk_requires_dim(spark):
    import pytest

    rows = [(i, [float(i), 0.0]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dim"):
        S.lsh_cosine_topk(emb, emb, k=1)


def test_ivf_refine_improves_quantizer(spark):
    """Distributed Lloyd refinement over the full corpus must tighten the
    coarse quantizer trained on a tiny bounded sample, and its plan must
    move only per-cell partials (no shuffle of vectors)."""
    import numpy as np
    from tdigest_spark.operators.similarity import (
        ivf_assign, ivf_refine, ivf_train,
    )

    rng = np.random.default_rng(5)
    true_means = rng.normal(0, 1, (4, 8)) * 5
    rows = []
    for i in range(2000):
        c = i % 4
        v = true_means[c] + rng.normal(0, 0.4, 8)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # deliberately poor init: sample cap of 8 vectors total
    init = ivf_train(emb, n_cells=4, max_sample_per_cell=2, seed=1)
    refined = ivf_refine(emb, init, iters=3)

    def quantizer_cost(cents):
        # mean best-cosine over the corpus (higher = tighter quantizer)
        a = ivf_assign(emb, cents)
        from tdigest_spark.operators.dedup import dot_col
        from tdigest_spark.operators.similarity import norm_col
        from pyspark.sql import functions as F
        scored = a.join(
            cents.select(
                F.col("centroid_id").alias("ivf_cell"),
                F.col("centroid").alias("cv"),
            ),
            "ivf_cell",
        ).select(
            (dot_col("embedding", "cv")
             / (norm_col(F.col("embedding")) * norm_col(F.col("cv")))
             ).alias("cos")
        )
        return scored.agg(F.avg("cos")).first()[0]

    c0 = quantizer_cost(init)
    c1 = quantizer_cost(refined)
    assert c1 >= c0 - 1e-9, (c0, c1)
    assert c1 > 0.9  # tight clusters: refined quantizer must fit well

    # refined centroids sit near the true cluster means (up to permutation)
    C = np.vstack([np.asarray(r["centroid"]) for r in refined.collect()])
    for tm in true_means:
        d = np.linalg.norm(C - tm, axis=1).min()
        assert d < 0.5, d


# ---------------------------------------------------------------- SemDeDup


def _sem_centroids(spark):
    # two orthogonal cells
    rows = [(0, [1.0] + [0.0] * (DIM - 1)), (1, [0.0, 1.0] + [0.0] * (DIM - 2))]
    return spark.createDataFrame(rows, "centroid_id int, centroid array<double>")


def test_semantic_dedup_removes_in_cell_near_dups(spark):
    e1 = np.eye(DIM)[0]
    e2 = np.eye(DIM)[1]
    rows = [
        (10, e1.tolist()),                         # kept (smallest in cell)
        (11, (e1 * 2.0).tolist()),                 # cosine 1.0 to 10 -> removed
        (12, e2.tolist()),                         # other cell, kept
        (13, (e1 * 1.0 + e2 * 1.3).tolist()),      # cell 1, cos to 12 = .79 -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in S.semantic_dedup(df, _sem_centroids(spark)).collect()}
    assert out[10]["keep"] and not out[11]["keep"]
    assert out[12]["keep"] and out[13]["keep"]
    assert out[10]["ivf_cell"] == 0 and out[13]["ivf_cell"] == 1
    assert len(out) == 4


def test_semantic_dedup_exists_not_component_semantics(spark):
    # chain a~b~c inside one cell with cos(a,c) < threshold: b removed by
    # a, c removed by b (EXISTS against ANY smaller id, kept or not)
    a = np.eye(DIM)[0]
    rot = np.eye(DIM)[2] * 0.35
    b = a + rot
    c = a + 2 * rot
    cos = lambda x, y: float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
    th = 0.93
    assert cos(a, b) >= th and cos(b, c) >= th and cos(a, c) < th
    rows = [(1, a.tolist()), (2, b.tolist()), (3, c.tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_dedup(df, _sem_centroids(spark), threshold=th).collect()
    }
    assert out == {1: True, 2: False, 3: False}


def test_semantic_dedup_partitioning_invariant(spark):
    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(DIM).tolist()) for i in range(60)]
    # plant twins so the dedup actually fires
    rows += [(100 + i, (np.array(v) * 1.01).tolist()) for i, v in rows[:7]]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = sorted(map(tuple, S.semantic_dedup(df, _sem_centroids(spark)).collect()))
    rep = sorted(
        map(tuple, S.semantic_dedup(df.repartition(13), _sem_centroids(spark)).collect())
    )
    assert base == rep
    removed = {t[0] for t in base if not t[2]}
    assert {100 + i for i, _ in rows[:7]} <= removed


def test_semantic_dedup_max_cell_guard(spark):
    # 6 identical vectors in cell 0 (a degenerate pile) + a twin pair in
    # cell 1; max_cell=5 excludes the pile from pairing (all kept) while
    # the small cell still dedups
    e1 = np.eye(DIM)[0]
    e2 = np.eye(DIM)[1]
    rows = [(i, e1.tolist()) for i in range(6)]
    rows += [(10, e2.tolist()), (11, (e2 * 3.0).tolist())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_dedup(df, _sem_centroids(spark), max_cell=5).collect()
    }
    assert all(out[i] for i in range(6))  # pile excluded from pairing
    assert out[10] and not out[11]        # small cell still dedups
    assert len(out) == 8
    # without the guard the pile collapses to its min id
    out2 = {
        r["vec_id"]: r["keep"]
        for r in S.semantic_dedup(df, _sem_centroids(spark)).collect()
    }
    assert out2[0] and not any(out2[i] for i in range(1, 6))


# ---------------------------------------------------------------- PQ


def _np_pq_encode(X, books):
    """Reference PQ encode: direct squared-L2 argmin per subspace."""
    n_sub = len(books)
    dsub = len(books[0][0])
    codes = np.empty((len(X), n_sub), dtype=int)
    for s in range(n_sub):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = np.asarray(books[s])
        d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    return codes


def test_pq_codebooks_from_vectors_shape():
    vecs = [[float(i * 10 + d) for d in range(8)] for i in range(3)]
    books = S.pq_codebooks_from_vectors(vecs, 4)
    assert len(books) == 4 and len(books[0]) == 3 and len(books[0][0]) == 2
    assert books[1][2] == [22.0, 23.0]  # subspace 1 of vector 2
    with pytest.raises(ValueError):
        S.pq_codebooks_from_vectors(vecs, 3)  # 8 % 3 != 0


def test_pq_encode_lanes_agree_and_match_numpy(emb):
    df, rows = emb
    X = np.array([v for _, v in rows])
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:4]], 4)
    expect = {i: list(c) for (i, _), c in zip(rows, _np_pq_encode(X, books))}
    lit = {
        r["vec_id"]: list(r["pq_code"])
        for r in S.pq_encode(df, books, lane="literal").collect()
    }
    arw = {
        r["vec_id"]: list(r["pq_code"])
        for r in S.pq_encode(df.repartition(7), books, lane="arrow").collect()
    }
    assert lit == expect
    assert arw == expect


def test_pq_encode_literal_guard():
    books = [[[0.0] * 64 for _ in range(256)] for _ in range(4)]
    with pytest.raises(ValueError, match="literal"):
        S.pq_encode(None, books, lane="literal")
    with pytest.raises(ValueError, match="lane"):
        S.pq_encode(None, [[[0.0]]], lane="bogus")
    # both encode faces reject any other lane up front, naming the two
    with pytest.raises(ValueError, match="'literal' or 'arrow'"):
        S.pq_encode(None, [[[0.0]]], lane="numpy")
    with pytest.raises(ValueError, match="'literal' or 'arrow'"):
        S.ivf_pq_index(None, None, [[[0.0]]], lane="numpy")


def test_pq_topk_matches_numpy_adc(emb):
    df, rows = emb
    X = np.array([v for _, v in rows])
    ids = [i for i, _ in rows]
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:6]], 4)
    codes = S.pq_encode(df, books, lane="literal")
    queries = df.filter(F.col("vec_id").isin([0, 13, 55]))
    out = S.pq_topk(codes, queries, books, k=4)
    got: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    np_codes = _np_pq_encode(X, books)
    n_sub = len(books)
    dsub = len(books[0][0])
    for qid in (0, 13, 55):
        q = X[ids.index(qid)]
        luts = [
            ((q[s * dsub : (s + 1) * dsub][None, :] - np.asarray(books[s])) ** 2).sum(
                axis=1
            )
            for s in range(n_sub)
        ]
        adc = {
            i: float(sum(luts[s][np_codes[k][s]] for s in range(n_sub)))
            for k, i in enumerate(ids)
            if i != qid
        }
        order = sorted(adc.items(), key=lambda t: (t[1], t[0]))[:4]
        want = [(i, d) for i, d in order]
        assert [n for n, _ in got[qid]] == [n for n, _ in want]
        for (gn, gd), (wn, wd) in zip(got[qid], want):
            assert gd == pytest.approx(wd, rel=1e-9)


def test_pq_train_encode_topk_recall(spark):
    # clustered, normalized vectors: PQ's squared-L2 ranking on the unit
    # sphere is monotone in cosine, so ADC top-k should mostly agree
    # with exact cosine top-k
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((6, DIM)) * 4
    rows = []
    for i in range(240):
        v = centers[i % 6] + rng.standard_normal(DIM) * 0.3
        v = v / np.linalg.norm(v)
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = S.pq_train(df, n_sub=4, ksub=16, iters=8, seed=3)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == DIM // 4
    codes = S.pq_encode(df, books, lane="arrow")
    queries = df.filter(F.col("vec_id") < 5)
    approx = S.pq_topk(codes, queries, books, k=10)
    # quantization can't resolve fine WITHIN-cluster ranks (that's the
    # point — 4 code bytes per vector), so the contract tested is
    # neighborhood recovery: top-k neighbors come from the query's true
    # cluster, like exact search's do
    a: dict[int, list[int]] = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], []).append(r["neighbor_id"])
    same_cluster = np.mean(
        [np.mean([n % 6 == q % 6 for n in ns]) for q, ns in a.items()]
    )
    assert same_cluster >= 0.9, same_cluster
    # and coarse agreement with exact top-k is well above chance (10/239)
    exact = S.cosine_topk(df, queries, k=10)
    e: dict[int, set[int]] = {}
    for r in exact.collect():
        e.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recall = np.mean([len(set(a[q]) & e[q]) / 10 for q in e])
    assert recall >= 0.3, recall


def test_pq_encode_partitioning_invariant(emb):
    df, rows = emb
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:4]], 2)
    one = sorted(map(tuple, S.pq_encode(df, books, lane="arrow").collect()))
    many = sorted(
        map(tuple, S.pq_encode(df.repartition(17), books, lane="arrow").collect())
    )
    assert [(i, list(c)) for i, c in one] == [(i, list(c)) for i, c in many]


def test_ivf_pq_index_and_topk(spark, emb):
    df, rows = emb
    cents = df.filter(F.col("vec_id") % 9 == 1).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:6]], 4)
    codes = S.ivf_pq_index(df, cents, books)
    assert set(codes.columns) == {"vec_id", "ivf_cell", "pq_code"}
    queries = df.filter(F.col("vec_id").isin([0, 13, 55]))
    n_cells = cents.count()
    # probing EVERY cell makes IVFPQ == flat PQ exactly (same ADC algebra)
    full = S.ivf_pq_topk(codes, queries, cents, books, k=4, nprobe=n_cells)
    flat = S.pq_topk(
        codes.select("vec_id", "pq_code"), queries, books, k=4
    )
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, flat.collect()))
    assert a == b
    # nprobe=1: every neighbor lies in its query's own nearest cell
    one = S.ivf_pq_topk(codes, queries, cents, books, k=4, nprobe=1)
    cell_of = {r["vec_id"]: r["ivf_cell"] for r in codes.collect()}
    X = {i: np.asarray(v) for i, v in rows}
    C = {r["centroid_id"]: np.asarray(r["centroid"]) for r in cents.collect()}
    def best_cell(v):
        sims = {
            cid: float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
            for cid, c in C.items()
        }
        return max(sorted(sims), key=lambda cid: (sims[cid], -cid))
    for r in one.collect():
        assert cell_of[r["neighbor_id"]] == best_cell(X[r["query_id"]])


# ---------------------------------------------------------------- JL projection


def test_random_project_matches_numpy(emb):
    df, rows = emb
    out = S.random_project(df, 6, dim=DIM, seed=7)
    got = {r["vec_id"]: np.asarray(r["projected"]) for r in out.collect()}
    P = np.asarray(S.hyperplanes(6, DIM, seed=7), dtype=float)
    for i, v in rows:
        want = P @ np.asarray(v) / np.sqrt(6)
        assert np.allclose(got[i], want, rtol=1e-12), i
    assert all(len(p) == 6 for p in got.values())


def test_random_project_preserves_distances_loosely(emb):
    # JL with a +-1 matrix: squared distances are unbiased; at
    # out_dim=12 of 16 the relative error stays moderate on average
    df, rows = emb
    out = {r["vec_id"]: np.asarray(r["projected"])
           for r in S.random_project(df, 12, dim=DIM, seed=3).collect()}
    X = {i: np.asarray(v) for i, v in rows}
    rng = np.random.default_rng(0)
    errs = []
    for _ in range(200):
        a, b = rng.choice(80, size=2, replace=False)
        d_true = ((X[a] - X[b]) ** 2).sum()
        d_proj = ((out[a] - out[b]) ** 2).sum()
        errs.append(abs(d_proj - d_true) / d_true)
    assert np.mean(errs) < 0.5, np.mean(errs)


def test_random_project_requires_dim(emb):
    df, _ = emb
    with pytest.raises(ValueError, match="dim"):
        S.random_project(df, 4)


def test_pq_encode_arrow_lane_matches_numpy(emb):
    df, rows = emb
    X = np.array([v for _, v in rows])
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:5]], 4)
    expect = sorted(
        (i, tuple(c)) for (i, _), c in zip(rows, _np_pq_encode(X, books))
    )
    arw = sorted(
        (r["vec_id"], tuple(r["pq_code"]))
        for r in S.pq_encode(df.repartition(5), books, lane="arrow").collect()
    )
    assert arw == expect
    # extra_cols pass through the arrow lane too
    df2 = df.withColumn("tag", F.col("vec_id") % 3)
    out = S.pq_encode(df2, books, lane="arrow", extra_cols=["tag"]).collect()
    assert all(r["tag"] == r["vec_id"] % 3 for r in out)


def test_pq_encode_arrow_lane_rejects_nulls_and_ragged(spark):
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # dim 4
    bad_null = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="non-null"):
        S.pq_encode(bad_null, books, lane="arrow").collect()
    bad_ragged = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="uniform width"):
        S.pq_encode(bad_ragged, books, lane="arrow").collect()


def test_pq_encode_arrow_lane_rejects_null_elements(spark):
    # [5, NULL, 5, 5] against centroids [0,0]/[5,5]: the NULL would turn
    # into NaN and its subspace would silently get code 0
    books = [[[0.0, 0.0], [5.0, 5.0]], [[0.0, 0.0], [5.0, 5.0]]]  # dim 4
    df = spark.createDataFrame(
        [(0, [5.0, 5.0, 5.0, 5.0]), (1, [5.0, None, 5.0, 5.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="without NULL elements"):
        S.pq_encode(df, books, lane="arrow").collect()
    # the literal lane has no such check: the NULL subspace's distances
    # are all NULL and the least() of its (d, j) candidates picks j = 0
    got = {r["vec_id"]: r["pq_code"] for r in S.pq_encode(df, books).collect()}
    assert got == {0: [1, 1], 1: [0, 1]}


def test_pq_encode_arrow_lane_rejects_compensating_widths(spark):
    # widths dim-1 and dim+1 in ONE batch hold n*dim values in total: a
    # total-length check passes them and reshapes row 0 into [1,2,3,4]
    books = [[[0.0, 0.0]], [[0.0, 0.0]]]  # dim 4
    short, long_ = [1.0, 2.0, 3.0], [4.0, 5.0, 6.0, 7.0, 8.0]
    for vecs in ((short, long_), (long_, short)):
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        ).coalesce(1)
        with pytest.raises(Exception, match="uniform width"):
            S.pq_encode(df, books, lane="arrow").collect()


def test_lsh_multiprobe_recall_monotone(emb):
    """Multi-probe LSH: candidate sets grow monotonically with n_probes
    (own bucket ⊆ +1-bit flips ⊆ ...), so results converge toward exact
    top-k; at n_probes = n_planes+1 with few planes the probed space is
    most of the corpus."""
    df, rows = emb
    queries = df.filter(F.col("vec_id").isin([0, 7, 33]))

    def hits(n_probes):
        out = S.lsh_cosine_topk(
            df, queries, k=5, n_planes=4, seed=42, dim=DIM, n_probes=n_probes
        )
        got: dict[int, set[int]] = {}
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return got

    exact = {q: set(_np_topk(rows, q, 5)) for q in (0, 7, 33)}
    r1 = hits(1)
    r5 = hits(5)
    rec1 = sum(len(r1.get(q, set()) & exact[q]) for q in exact)
    rec5 = sum(len(r5.get(q, set()) & exact[q]) for q in exact)
    assert rec5 >= rec1
    # every returned pair is unique (no dup candidates from probing)
    out5 = S.lsh_cosine_topk(
        df, queries, k=100, n_planes=4, seed=42, dim=DIM, n_probes=5
    ).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in out5]
    assert len(pairs) == len(set(pairs))
    with pytest.raises(ValueError, match="n_probes"):
        S.lsh_cosine_topk(df, queries, k=5, n_planes=4, dim=DIM, n_probes=6)


def test_ivf_pq_residual_matches_numpy(spark):
    """Residual IVFPQ vs a NumPy reference of the full rule: assign by
    cosine, quantize x - centroid, ADC-rank with per-cell query
    residual LUTs."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((3, DIM)) * 4
    rows = [
        (i, (centers[i % 3] + rng.standard_normal(DIM) * 0.4).tolist())
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_rows = [(c, centers[c].tolist()) for c in range(3)]
    cents = spark.createDataFrame(
        cents_rows, "centroid_id int, centroid array<double>"
    )
    res = S.ivf_residual_frame(df, cents)
    books = S.pq_train(res, n_sub=4, ksub=8, iters=6, seed=2)
    codes = S.ivf_pq_index(df, cents, books, lane="arrow", residual=True)
    queries = df.filter(F.col("vec_id").isin([0, 11]))
    out = S.ivf_pq_topk(
        codes, queries, cents, books, k=4, nprobe=3, residual=True
    )

    # NumPy reference
    X = {i: np.asarray(v) for i, v in rows}
    C = np.vstack([c for _, c in cents_rows])

    def cell_of(v):
        cos = (C @ v) / (np.linalg.norm(C, axis=1) * np.linalg.norm(v))
        return int(np.lexsort((np.arange(3), -cos))[0])

    cells = {i: cell_of(v) for i, v in X.items()}
    R = {i: X[i] - C[cells[i]] for i in X}
    np_codes = {
        i: _np_pq_encode(R[i][None, :], books)[0] for i in X
    }
    dsub = DIM // 4
    got: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["adc"]))
    for qid in (0, 11):
        q = X[qid]
        adc = {}
        for i in X:
            if i == qid:
                continue
            qr = q - C[cells[i]]  # nprobe=3 probes every cell
            d = 0.0
            for s in range(4):
                cb = np.asarray(books[s][np_codes[i][s]])
                d += ((qr[s * dsub : (s + 1) * dsub] - cb) ** 2).sum()
            adc[i] = d
        want = sorted(adc.items(), key=lambda t: (t[1], t[0]))[:4]
        assert [n for n, _ in got[qid]] == [n for n, _ in want], qid
        for (gn, gd), (wn, wd) in zip(got[qid], want):
            assert gd == pytest.approx(wd, rel=1e-9)


def test_ivf_pq_residual_tightens_quantization(spark):
    """Residual quantization reconstructs vectors strictly better than
    raw quantization at equal code budget on clustered data (the reason
    FAISS quantizes residuals)."""
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, DIM)) * 6
    rows = [
        (i, (centers[i % 4] + rng.standard_normal(DIM) * 0.5).tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(c, centers[c].tolist()) for c in range(4)],
        "centroid_id int, centroid array<double>",
    )
    X = np.vstack([v for _, v in rows])

    def mse(codes_df, books, use_residual):
        cells = {r["vec_id"]: r["ivf_cell"] for r in codes_df.collect()}
        codes = {r["vec_id"]: list(r["pq_code"]) for r in codes_df.collect()}
        dsub = DIM // len(books)
        tot = 0.0
        for i, v in rows:
            rec = np.concatenate(
                [np.asarray(books[s][codes[i][s]]) for s in range(len(books))]
            )
            if use_residual:
                rec = rec + centers[cells[i]]
            tot += ((np.asarray(v) - rec) ** 2).sum()
        return tot / len(rows)

    raw_books = S.pq_train(df, n_sub=4, ksub=8, iters=6, seed=2)
    raw_codes = S.ivf_pq_index(df, cents, raw_books, lane="arrow")
    res_books = S.pq_train(
        S.ivf_residual_frame(df, cents), n_sub=4, ksub=8, iters=6, seed=2
    )
    res_codes = S.ivf_pq_index(df, cents, res_books, lane="arrow", residual=True)
    assert mse(res_codes, res_books, True) < mse(raw_codes, raw_books, False)


def test_pq_topk_numpy_lane_identical(emb):
    df, rows = emb
    books = S.pq_codebooks_from_vectors([v for _, v in rows[:6]], 4)
    codes = S.pq_encode(df, books, lane="literal")
    queries = df.filter(F.col("vec_id").isin([0, 13, 55]))
    a = sorted(map(tuple, S.pq_topk(codes, queries, books, k=4).collect()))
    b = sorted(
        map(tuple, S.pq_topk(
            codes.repartition(7), queries, books, k=4, lane="numpy"
        ).collect())
    )
    assert a == b  # exact, adc doubles included
    with pytest.raises(ValueError, match="lane"):
        S.pq_topk(codes, queries, books, lane="bogus")


def test_ivf_pq_topk_numpy_lane_identical(emb, spark):
    df, rows = emb
    cents = df.filter(F.col("vec_id") % 9 == 1).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    queries = df.filter(F.col("vec_id").isin([0, 13, 55]))
    for residual in (False, True):
        if residual:
            books = S.pq_codebooks_from_vectors(
                [r["embedding"] for r in
                 S.ivf_residual_frame(df, cents).filter(F.col("vec_id") < 6)
                 .orderBy("vec_id").collect()], 4,
            )
        else:
            books = S.pq_codebooks_from_vectors([v for _, v in rows[:6]], 4)
        codes = S.ivf_pq_index(df, cents, books, residual=residual)
        a = sorted(map(tuple, S.ivf_pq_topk(
            codes, queries, cents, books, k=4, nprobe=2, residual=residual
        ).collect()))
        b = sorted(map(tuple, S.ivf_pq_topk(
            codes.repartition(5), queries, cents, books,
            k=4, nprobe=2, residual=residual, lane="numpy",
        ).collect()))
        assert a == b, residual


def test_rerank_exact_recovers_true_topk(spark):
    """ADC top-C + exact rerank == exact L2 top-k (clustered data where
    raw ADC ranks are scrambled within clusters)."""
    rng = np.random.default_rng(23)
    centers = rng.standard_normal((4, DIM)) * 5
    rows = [
        (i, (centers[i % 4] + rng.standard_normal(DIM) * 0.3).tolist())
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = S.pq_train(df, n_sub=4, ksub=16, iters=6, seed=2)
    codes = S.pq_encode(df, books, lane="arrow")
    queries = df.filter(F.col("vec_id") < 3)
    cands = S.pq_topk(codes, queries, books, k=60, lane="numpy")
    out = S.rerank_exact(cands, df, queries, k=5)
    got: dict[int, list[int]] = {}
    for r in sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    X = {i: np.asarray(v) for i, v in rows}
    for qid in (0, 1, 2):
        d2 = {i: ((X[i] - X[qid]) ** 2).sum() for i in X if i != qid}
        want = [i for i, _ in sorted(d2.items(), key=lambda t: (t[1], t[0]))[:5]]
        assert got[qid] == want, qid


def test_semantic_contamination_flags_twins(spark):
    import numpy as np

    from tdigest_spark.operators.similarity import semantic_contamination

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # bench: scaled copies of vectors 0..4 -> those five are contaminated
    bench = spark.createDataFrame(
        [(100 + i, [float(x * 1.01) for x in vecs[i]]) for i in range(5)],
        "bench_id long, embedding array<double>",
    )
    out = semantic_contamination(corpus, bench, threshold=0.99).collect()
    flags = {r["vec_id"]: r for r in out}
    assert len(flags) == 40
    for i in range(5):
        r = flags[i]
        assert r["contaminated"] and r["nearest_bench_id"] == 100 + i
        assert r["bench_cosine"] > 0.999999
    # random 8-dim gaussians essentially never hit cosine 0.99
    assert not any(flags[i]["contaminated"] for i in range(5, 40))
    assert set(out[0].asDict()) == {
        "vec_id", "nearest_bench_id", "bench_cosine", "contaminated",
    }


def test_semantic_contamination_scan_stage_plan(spark):
    import numpy as np

    from tdigest_spark.operators.similarity import semantic_contamination
    from tdigest_spark.plans import explain_str

    rng = np.random.default_rng(12)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "bench_id long, embedding array<double>"
    )
    plan = explain_str(semantic_contamination(corpus, bench), "simple")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ivf_assign_sim_col_both_paths(spark):
    """sim_col returns the winning cosine identically on the literal and
    the broadcast+window fallback paths."""
    import numpy as np

    from tdigest_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(13)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(j, [float(x) for x in rng.standard_normal(6)]) for j in range(4)],
        "centroid_id int, centroid array<double>",
    )
    lit = ivf_assign(emb, cents, sim_col="s").orderBy("vec_id").collect()
    win = (
        ivf_assign(emb, cents, sim_col="s", max_literal_cells=0)
        .orderBy("vec_id")
        .collect()
    )
    assert [r["ivf_cell"] for r in lit] == [r["ivf_cell"] for r in win]
    for a, b in zip(lit, win):
        assert abs(a["s"] - b["s"]) < 1e-12
        assert -1.0 <= a["s"] <= 1.0


def test_semantic_contamination_numpy_lane_matches_jvm(spark):
    import numpy as np

    from tdigest_spark.operators.similarity import semantic_contamination

    rng = np.random.default_rng(31)
    vecs = rng.standard_normal((60, 8))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)]
        + [(999, [0.0] * 8)],  # zero vector
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame(
        [(100 + i, [float(x * 1.01) for x in vecs[i]]) for i in range(6)],
        "bench_id long, embedding array<double>",
    )
    jvm = {
        r["vec_id"]: r
        for r in semantic_contamination(corpus, bench, threshold=0.99).collect()
    }
    np_lane = {
        r["vec_id"]: r
        for r in semantic_contamination(
            corpus.repartition(5), bench, threshold=0.99, lane="numpy"
        ).collect()
    }
    assert len(jvm) == len(np_lane) == 61
    for i in list(range(60)) + [999]:
        a, b = jvm[i], np_lane[i]
        assert a["nearest_bench_id"] == b["nearest_bench_id"], i
        assert a["contaminated"] == b["contaminated"], i
        assert abs(a["bench_cosine"] - b["bench_cosine"]) < 1e-12, i
    # the zero vector: cosine exactly 0.0, lowest bench id, unflagged —
    # identical on BOTH lanes (no ANSI divide-by-zero abort)
    for lane in (jvm, np_lane):
        z = lane[999]
        assert z["bench_cosine"] == 0.0 and not z["contaminated"]
        assert z["nearest_bench_id"] == 100


def test_semantic_contamination_numpy_lane_validation(spark):
    import pytest as _pt

    from tdigest_spark.operators.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    empty = corpus.filter("vec_id < 0").withColumnRenamed("vec_id", "bench_id")
    with _pt.raises(ValueError, match="empty benchmark"):
        semantic_contamination(corpus, empty, lane="numpy")
    with _pt.raises(ValueError, match="unknown lane"):
        semantic_contamination(corpus, corpus.withColumnRenamed("vec_id", "bench_id"), lane="bogus")


# -------------------------------------------------------- zero-norm contract


class TestZeroNormContract:
    """A zero embedding must score cosine exactly 0.0 everywhere (never
    NaN, which Spark sorts above every real similarity, and never an
    ANSI 0/0 abort) — the repo-wide `safe_norm` contract."""

    def _emb(self, spark):
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero vector
            (3, [0.0, 1.0]),
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_cosine_topk_zero_corpus_and_query(self, spark):
        from tdigest_spark.operators.similarity import cosine_topk

        emb = self._emb(spark)
        out = cosine_topk(emb, emb, k=3).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = r
        # zero corpus vector scores exactly 0.0 for every query and never
        # outranks a strictly-positive neighbor (ties at 0.0 break by id)
        for qid in (0, 1, 3):
            assert by_q[qid][2]["cosine"] == 0.0
            for r in by_q[qid].values():
                if r["cosine"] > 0.0:
                    assert r["rank"] < by_q[qid][2]["rank"]
        # vs query 1 every other neighbor is strictly positive -> last
        assert by_q[1][2]["rank"] == 3
        # zero QUERY: all-0.0 scores, deterministic id tie-break ordering
        zq = sorted(by_q[2].values(), key=lambda r: r["rank"])
        assert [r["cosine"] for r in zq] == [0.0, 0.0, 0.0]
        assert [r["neighbor_id"] for r in zq] == [0, 1, 3]

    def test_embedding_near_dup_zero_vector_never_pairs(self, spark):
        from tdigest_spark.operators.dedup import embedding_near_dup

        emb = self._emb(spark).withColumn("label", F.lit("b"))
        pairs = embedding_near_dup(
            emb, "vec_id", "embedding", block_col="label", threshold=0.5
        ).collect()
        ids_in_pairs = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        assert 2 not in ids_in_pairs  # the zero vector pairs with nothing
        assert any(r["id_a"] == 0 and r["id_b"] == 1 for r in pairs)

    def test_ivf_search_zero_vector_ranks_last(self, spark):
        from tdigest_spark.operators.similarity import ivf_topk

        emb = self._emb(spark)
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "centroid_id int, centroid array<double>",
        )
        out = ivf_topk(emb, emb.filter(F.col("vec_id") == 0), cents,
                       k=4, nprobe=2).collect()
        zero_rows = [r for r in out if r["neighbor_id"] == 2]
        assert zero_rows and zero_rows[0]["cosine"] == 0.0
        # never above a strictly-positive neighbor (orthogonal 0.0 ties
        # break by id)
        for r in out:
            if r["cosine"] > 0.0:
                assert r["rank"] < zero_rows[0]["rank"]

    def test_semantic_dedup_zero_vectors_dont_mass_delete(self, spark):
        from tdigest_spark.operators.similarity import semantic_dedup

        # one zero vector sharing a cell with distinct real vectors: the
        # real vectors must survive (cosine vs zero is 0.0, not NaN)
        rows = [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.70710678, 0.70710678]),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).withColumn("cell", F.lit(7))
        cents = spark.createDataFrame(
            [(7, [1.0, 0.0])], "centroid_id int, centroid array<double>"
        )
        kept = semantic_dedup(
            emb, cents, "vec_id", "embedding", threshold=0.9
        )
        kept_ids = {r["vec_id"] for r in kept.collect()}
        assert kept_ids == {0, 1, 2}  # nothing within 0.9 of anything
