"""End-to-end Spark digest tests: distributed build+merge equals a local
digest over the same values (byte-identical in the canonical path), and
quantiles match the exact oracle in the singleton regime."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.core import MergingDigest
from tdigest_spark.operators import (
    digest_by,
    digest_of,
    merge_partials,
    quantiles_of,
)
from tdigest_spark.operators.digest import build_partials_grouped

from .conftest import SF_DIR
from .util import quantile_ref


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").cache()


def test_global_digest_matches_oracle(spark, lineitem):
    vals = np.array([r[0] for r in lineitem.select("l_quantity").collect()])
    d = digest_of(lineitem, "l_quantity", delta=100)
    assert d.total_weight == len(vals)
    sv = np.sort(vals)
    for q in [0.01, 0.5, 0.99]:
        est = d.quantile(q)
        rank = np.searchsorted(sv, est, side="right") / sv.size
        assert abs(rank - q) <= 0.02, (q, est, rank)
    assert d.quantile(0.0) == sv[0]
    assert d.quantile(1.0) == sv[-1]
    assert d.check_weights()


def test_grouped_digest_singleton_exact(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    digests = digest_by(docs, "n_chars", by=["lang"], delta=500)
    rows = {r["lang"]: r for r in digests.collect()}
    pdf = docs.select("lang", "n_chars").toPandas()
    for lang, grp in pdf.groupby("lang"):
        d = MergingDigest.from_bytes(bytes(rows[lang]["digest"]))
        vals = grp["n_chars"].to_numpy(dtype=float)
        assert d.total_weight == len(vals)
        for q in [0.1, 0.5, 0.9]:
            assert d.quantile(q) == quantile_ref(vals, q), (lang, q)


def test_map_combine_multi_key_with_date(spark):
    """Map-combine grouping over a (string, date) composite key round-trips
    key types through Arrow and matches per-group exact quantiles."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    out = digest_by(ev, "value", by=["event_type", "day"], delta=5000).collect()
    pdf = ev.select("event_type", "day", "value").toPandas()
    assert len(out) == len(pdf.groupby(["event_type", "day"]))
    for r in out[:10]:
        grp = pdf[(pdf["event_type"] == r["event_type"]) & (pdf["day"] == r["day"])]
        vals = grp["value"].to_numpy(dtype=float)
        d = MergingDigest.from_bytes(bytes(r["digest"]))
        assert d.total_weight == len(vals)
        assert d.quantile(0.5) == quantile_ref(vals, 0.5)


def test_quantiles_of_table(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    digests = digest_by(docs, "n_chars", by=["lang"], delta=500)
    out = quantiles_of(digests, [0.5, 0.9], by=["lang"]).collect()
    langs = {r["lang"] for r in out}
    assert len(out) == 2 * len(langs)
    pdf = docs.select("lang", "n_chars").toPandas()
    for r in out:
        grp = pdf[pdf["lang"] == r["lang"]]["n_chars"].to_numpy(dtype=float)
        assert r["quantile"] == quantile_ref(grp, r["q"])


def test_sql_registration(spark):
    from tdigest_spark.functions import register_sql_functions

    register_sql_functions(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    digest_by(docs, "n_chars", by=["lang"], delta=500).createOrReplaceTempView(
        "doc_digests"
    )
    rows = spark.sql(
        """SELECT lang, tdigest_quantile(digest, 0.5) AS p50,
                  tdigest_cdf(digest, 1000.0) AS cdf_1k,
                  tdigest_total_weight(digest) AS n,
                  tdigest_min(digest) AS mn, tdigest_max(digest) AS mx
           FROM doc_digests"""
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["mn"] <= r["p50"] <= r["mx"]
        assert 0.0 <= r["cdf_1k"] <= 1.0
        assert r["n"] > 0


def test_two_stage_merge_equals_single_stage(spark, lineitem):
    partials = build_partials_grouped(lineitem, "l_extendedprice", (), delta=100)
    partials = partials.cache()
    one = merge_partials(partials, by=(), stages=1).collect()[0]
    two = merge_partials(partials, by=(), fanin=4, stages=2).collect()[0]
    d1 = MergingDigest.from_bytes(bytes(one["digest"]))
    d2 = MergingDigest.from_bytes(bytes(two["digest"]))
    assert d1.total_weight == d2.total_weight == one["n_rows"] == two["n_rows"]
    # different merge trees: invariants + error-bound equivalence
    assert d1.check_weights() and d2.check_weights()
    for q in [0.01, 0.5, 0.99]:
        assert abs(d1.quantile(q) - d2.quantile(q)) <= max(
            0.02 * abs(d1.quantile(q)), 1e-6
        )


def test_deterministic_across_runs(spark, lineitem):
    a = digest_by(lineitem, "l_extendedprice", by=["l_returnflag"], delta=100)
    b = digest_by(lineitem, "l_extendedprice", by=["l_returnflag"], delta=100)
    da = {r["l_returnflag"]: bytes(r["digest"]) for r in a.collect()}
    db = {r["l_returnflag"]: bytes(r["digest"]) for r in b.collect()}
    assert da == db


def test_nulls_ignored(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (1, None), (1, 2.0), (2, None)], "k int, v double"
    )
    out = digest_by(df, "v", by=["k"], delta=100).collect()
    rows = {r["k"]: r for r in out}
    assert rows[1]["n_rows"] == 2
    d1 = MergingDigest.from_bytes(bytes(rows[1]["digest"]))
    assert d1.total_weight == 2
    d2 = MergingDigest.from_bytes(bytes(rows[2]["digest"]))
    assert d2.total_weight == 0


def test_histogram_by(spark, lineitem):
    from tdigest_spark.histogram import LogHistogram
    from tdigest_spark.operators import histogram_by

    out = histogram_by(
        lineitem, "l_extendedprice", 900.0, 110_000.0, by=["l_returnflag"]
    ).collect()
    pdf = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for r in out:
        grp = pdf[pdf["l_returnflag"] == r["l_returnflag"]][
            "l_extendedprice"
        ].to_numpy(dtype=float)
        h = LogHistogram(900.0, 110_000.0)
        h.add(grp[grp > 0])
        assert list(h.counts) == list(r["counts"]), r["l_returnflag"]
        assert r["n_rows"] == (grp > 0).sum()


#: (registered name, expression over the __sql_nulls view, its argument
#: columns) — one case per function the two register_* helpers register
_SQL_NULL_CASES = [
    ("tdigest_agg", "tdigest_quantile(tdigest_agg(v), 0.5d)", ["v"]),
    ("tdigest_quantile", "tdigest_quantile(d, q1)", ["q1"]),
    ("tdigest_cdf", "tdigest_cdf(d, v)", ["v"]),
    ("tdigest_trimmed_mean", "tdigest_trimmed_mean(d, q1, q2)", ["q1", "q2"]),
    ("tdigest_total_weight", "tdigest_total_weight(d)", []),
    ("tdigest_min", "tdigest_min(d)", []),
    ("tdigest_max", "tdigest_max(d)", []),
    ("tdigest_centroid_count", "tdigest_centroid_count(d)", []),
    ("kll_quantile", "kll_quantile(kll, q1)", ["q1"]),
    ("kll_stored_weight", "kll_stored_weight(kll)", []),
    ("hll_estimate", "hll_estimate(regs)", []),
    ("kmv_estimate", "kmv_estimate(kmv, k)", ["k"]),
]


@pytest.mark.parametrize(
    "name,expr,args", _SQL_NULL_CASES, ids=[c[0] for c in _SQL_NULL_CASES]
)
def test_sql_functions_null_in_null_out(spark, monkeypatch, name, expr, args):
    """NULL in -> NULL out for every registered SQL function: next to a
    valid row, a NULL sketch (row 1), NULL arguments (row 2) and NaN
    double arguments (row 3) give NULL, and the valid row gives what it
    gives alone.  For the aggregate, NULL/NaN values are skipped, so an
    all-NULL or all-NaN group is an empty digest, whose quantile is
    NULL."""
    from tdigest_spark import functions
    from tdigest_spark.functions import (
        register_sketch_sql_functions, register_sql_functions,
    )
    from tdigest_spark.kll import KLL

    class Names:  # records what the register_* helpers register
        def __init__(self):
            self.udf, self.names = self, []

        def register(self, fname, _f):
            self.names.append(fname)

    rec = Names()
    with monkeypatch.context() as m:  # the JVM queries register in Java
        m.setattr(functions, "_register_query", lambda s, cdf: s.udf.register(
            "tdigest_cdf" if cdf else "tdigest_quantile", None))
        register_sql_functions(rec)
    register_sketch_sql_functions(rec)
    assert sorted(rec.names) == sorted(c[0] for c in _SQL_NULL_CASES)
    register_sql_functions(spark)
    register_sketch_sql_functions(spark)

    td = MergingDigest(100)
    td.add(np.arange(1.0, 51.0))
    kll = KLL(200)
    kll.add(np.arange(1.0, 51.0))
    sketches = [
        td.to_bytes(),
        kll.to_bytes(),
        [i % 5 for i in range(256)],  # HLL registers, some zero
        [f"{i:015x}" for i in (3, 70, 900, 4000, 123456)],  # KMV at k=3
    ]
    nan = float("nan")
    rows = [
        (0, *sketches, 0.25, 0.75, 20.0, 3),
        (1, *[None] * 4, 0.25, 0.75, 20.0, 3),
        (2, *sketches, None, None, None, None),
        (3, *sketches, nan, nan, nan, 3),
    ]
    spark.createDataFrame(
        rows,
        "id int, d binary, kll binary, regs array<int>, kmv array<string>, "
        "q1 double, q2 double, v double, k int",
    ).createOrReplaceTempView("__sql_nulls")
    group = " GROUP BY id" if name == "tdigest_agg" else ""
    sql = f"SELECT id, {expr} AS out FROM __sql_nulls"
    got = dict(spark.sql(sql + group).collect())
    alone = spark.sql(f"{sql} WHERE id = 0{group}").collect()[0]["out"]

    assert alone is not None
    # the aggregate's row 1 has a valid value: it takes no sketch input
    null_sketch = alone if name == "tdigest_agg" else None
    null_args = None if args else alone
    nan_args = None if set(args) - {"k"} else alone
    assert got == {0: alone, 1: null_sketch, 2: null_args, 3: nan_args}


def test_query_arguments_checked_on_driver(spark):
    """quantiles_of / quantile_filter reject a q outside [0,1], and
    cdfs_of / digest_drift an infinite x, with the core's message before
    any job runs; the SQL names fail the job with the same message, and a
    NaN argument gives NULL."""
    from tdigest_spark.functions import register_sql_functions
    from tdigest_spark.operators.digest import cdfs_of, digest_drift, quantile_filter

    sc = spark.sparkContext
    df = spark.createDataFrame([("a", float(v)) for v in range(1, 51)], "g string, v double")
    d = digest_by(df, "v", by=["g"])
    calls = [
        (lambda: quantiles_of(d, [0.5, 1.5], by=["g"]), r"q should be in \[0,1\], got 1.5"),
        (lambda: quantiles_of(d, [-0.25], by=["g"]), r"q should be in \[0,1\], got -0.25"),
        (lambda: quantile_filter(df, "v", 1.01, by=["g"]), r"got 1.01"),
        (lambda: cdfs_of(d, [1.0, float("inf")], by=["g"]), "Invalid value: inf"),
        (lambda: digest_drift(d, d, [float("-inf")], by=["g"]), "Invalid value: -inf"),
    ]
    sc.setJobGroup("driver_checks", "argument checks")
    try:
        for call, msg in calls:
            with pytest.raises(ValueError, match=msg):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("driver_checks")) == []

    nan = float("nan")
    assert [r["quantile"] for r in quantiles_of(d, [nan], by=["g"]).collect()] == [None]
    assert [r["cdf"] for r in cdfs_of(d, [nan], by=["g"]).collect()] == [None]
    register_sql_functions(spark)
    d.createOrReplaceTempView("__arg_checks")
    for sql, msg in [
        ("tdigest_quantile(digest, 1.5d)", r"q should be in \[0,1\], got 1.5"),
        ("tdigest_cdf(digest, CAST('-inf' AS DOUBLE))", "Invalid value: -inf"),
    ]:
        with pytest.raises(Exception, match=msg):
            spark.sql(f"SELECT {sql} FROM __arg_checks").collect()


def test_tdigest_agg_sql_aggregate(spark):
    """Grouped-agg Arrow UDF surface: tdigest as a SQL AGGREGATE."""
    from tdigest_spark.functions import register_sql_functions
    from tdigest_spark import MergingDigest
    import numpy as np

    register_sql_functions(spark)
    # keep groups < delta so the serialization-time compress keeps all
    # singletons (exact rank semantics)
    rows = [("a", float(v)) for v in range(80)] + [("b", float(v * 3)) for v in range(50)]
    spark.createDataFrame(rows, "k string, v double").createOrReplaceTempView("t_agg")
    out = {
        r["k"]: r
        for r in spark.sql(
            "SELECT k, tdigest_agg(v) AS d, "
            "tdigest_quantile(tdigest_agg(v), 0.5d) AS p50 FROM t_agg GROUP BY k"
        ).collect()
    }
    assert MergingDigest.from_bytes(bytes(out["a"]["d"])).total_weight == 80
    assert out["a"]["p50"] == 40.0  # rank oracle: sorted[floor(0.5*80)]
    assert out["b"]["p50"] == 75.0


def test_digest_by_empty_and_nan(spark):
    """Edge inputs: empty frame -> empty result; all-NaN group -> zero-weight
    digest row that queries to NaN."""
    import math
    from tdigest_spark.operators import digest
    from tdigest_spark import MergingDigest

    empty = spark.createDataFrame([], "k string, v double")
    assert digest.digest_by(empty, "v", by=["k"]).count() == 0

    rows = [("a", float("nan")), ("a", float("nan")), ("b", 1.0)]
    d = digest.digest_by(spark.createDataFrame(rows, "k string, v double"), "v", by=["k"])
    got = {r["k"]: r for r in d.collect()}
    assert got["a"]["n_rows"] == 0
    assert got["b"]["n_rows"] == 1
    da = MergingDigest.from_bytes(bytes(got["a"]["digest"]))
    assert da.total_weight == 0 and math.isnan(da.quantile(0.5))


def test_grouped_multi_column_profile_matches_per_column(spark, tmp_path):
    """digest_profile(by=...) — one scan, k columns per group — produces
    BIT-IDENTICAL digests to k separate grouped builds (same per-(group,
    partition) partial structure, same canonical merge order).  The input
    lives in parquet files so both jobs see identical partitions
    (repartition() round-robin is NOT stable across separate actions)."""
    import numpy as np

    from tdigest_spark.core import MergingDigest
    from tdigest_spark.operators import digest as D

    rng = np.random.default_rng(31)
    rows = [
        (["x", "y", "z"][int(rng.integers(0, 3))], float(rng.uniform(0, 100)),
         float(rng.uniform(-5, 5)))
        for _ in range(5000)
    ]
    src = str(tmp_path / "profile_src")
    spark.createDataFrame(rows, "g string, a double, b double").repartition(
        8
    ).write.parquet(src)
    df = spark.read.parquet(src)

    prof = {
        (r["g"], r["col"]): bytes(r["digest"])
        for r in D.digest_profile(df, ["a", "b"], by=["g"], delta=200.0).collect()
    }
    for col in ("a", "b"):
        single = {
            r["g"]: bytes(r["digest"])
            for r in D.digest_by(df, col, by=["g"], delta=200.0).collect()
        }
        for g, blob in single.items():
            assert prof[(g, col)] == blob, (g, col)
    # sanity: quantiles readable
    d = MergingDigest.from_bytes(prof[("x", "a")])
    assert 0.0 <= d.quantile(0.5) <= 100.0


def test_quantile_filter_per_group_cutoff(spark):
    from tdigest_spark.operators import digest

    rows = [("en", float(i)) for i in range(1, 101)] + [
        ("de", float(i)) for i in range(1, 41)
    ]
    df = spark.createDataFrame(rows, "lang string, v double")
    kept = digest.quantile_filter(
        df, "v", 0.25, by=["lang"], delta=500.0, keep="ge", cutoff_col="cut"
    ).collect()
    # singleton regime -> exact rank statistic: cutoff = 25th of 100 / 10th of 40
    cuts = {r["lang"]: r["cut"] for r in kept}
    en = sorted(r["v"] for r in kept if r["lang"] == "en")
    de = sorted(r["v"] for r in kept if r["lang"] == "de")
    assert en[0] == cuts["en"] and de[0] == cuts["de"]
    assert en == [float(i) for i in range(int(cuts["en"]), 101)]
    assert de == [float(i) for i in range(int(cuts["de"]), 41)]


def test_quantile_filter_keep_modes_and_nulls(spark):
    import pytest as _pytest

    from tdigest_spark.operators import digest

    rows = [(None if i % 7 == 0 else "g", float(i) if i % 5 else None) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "lang string, v double")
    ge = digest.quantile_filter(df, "v", 0.5, by=["lang"], keep="ge")
    lt = digest.quantile_filter(df, "v", 0.5, by=["lang"], keep="lt")
    n_nonnull = df.filter(F.col("v").isNotNull()).count()
    # ge + lt partition the non-null-value rows exactly (NULL v always dropped)
    assert ge.count() + lt.count() == n_nonnull
    # NULL lang is a group like any other: some of its rows survive
    assert ge.filter(F.col("lang").isNull()).count() > 0
    with _pytest.raises(ValueError):
        digest.quantile_filter(df, "v", 0.5, keep="between")


def test_quantile_filter_global_no_groups(spark):
    from tdigest_spark.operators import digest

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "v double")
    out = digest.quantile_filter(df, "v", 0.9, keep="gt")
    vals = sorted(r["v"] for r in out.collect())
    assert vals == [float(i) for i in range(91, 101)]


def test_digest_drift_zero_for_identical_snapshots(spark):
    from tdigest_spark.operators import digest_drift

    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    d = digest_by(df, "v", by=["g"], delta=5000.0)
    out = digest_drift(d, d, (10.0, 48.5, 90.0), by=["g"]).collect()
    assert len(out) == 3
    assert all(r["cdf_drift"] == 0.0 for r in out)


def test_digest_drift_matches_numpy_two_sample(spark):
    """Singleton regime: per-point gaps equal the exact empirical
    two-sample CDF gaps (mid-rank tie convention), and the reduced drift
    is their max."""
    from tdigest_spark.operators import digest_drift

    rng = np.random.default_rng(12)
    va = rng.integers(0, 200, 3000).astype(float)
    vb = (rng.integers(0, 200, 2500) + 30).astype(float)  # shifted
    a = spark.createDataFrame([(float(x),) for x in va], "v double")
    b = spark.createDataFrame([(float(x),) for x in vb], "v double")
    da = digest_by(a.withColumn("g", F.lit("k")), "v", by=["g"], delta=50000.0)
    db = digest_by(b.withColumn("g", F.lit("k")), "v", by=["g"], delta=50000.0)
    # interior probes only: at x == a sample's MAX the reference cdf is
    # 1 - 0.5/n regardless of tie mass (core.cdf boundary rule), which
    # matches the plain mid-tie formula only for a unique max — same
    # exposure the driver's cdf oracles accept (probe grids sit well
    # inside every group's range).
    xs = (25.0, 50.0, 100.0, 150.0, 180.0)

    def ecdf(vals, x):
        return (np.sum(vals < x) + np.sum(vals == x) / 2.0) / vals.size

    pts = {
        r["x"]: (r["cdf_a"], r["cdf_b"], r["cdf_gap"])
        for r in digest_drift(da, db, xs, by=["g"], per_point=True).collect()
    }
    exp_gaps = []
    for x in xs:
        ea, eb = ecdf(va, x), ecdf(vb, x)
        ca, cb, gap = pts[x]
        assert ca == ea and cb == eb, (x, ca, ea, cb, eb)
        assert gap == abs(ea - eb)
        exp_gaps.append(abs(ea - eb))
    drift = digest_drift(da, db, xs, by=["g"]).collect()[0]["cdf_drift"]
    assert drift == max(exp_gaps)
    assert drift > 0.1  # the shift is visible


def test_digest_drift_inner_join_drops_one_sided_groups(spark):
    from tdigest_spark.operators import digest_drift

    a = spark.createDataFrame([("x", 1.0), ("y", 2.0)], "g string, v double")
    b = spark.createDataFrame([("x", 1.0)], "g string, v double")
    da = digest_by(a, "v", by=["g"], delta=100.0)
    db = digest_by(b, "v", by=["g"], delta=100.0)
    out = digest_drift(da, db, (1.5,), by=["g"]).collect()
    assert [r["g"] for r in out] == ["x"]


# ----------------------------------------------------- percentile_enrich

def test_percentile_enrich_matches_scalar_cdf(spark):
    """Every row's percentile equals the scalar cdf of its value on the
    SAME collected digest — exactly (the operator rides cdf_batch, which
    is bit-identical to cdf)."""
    from tdigest_spark.operators import percentile_enrich

    rng = np.random.default_rng(42)
    rows = [
        (int(i), ["en", "de", "fr"][i % 3], float(v))
        for i, v in enumerate(rng.integers(0, 50, size=3000))
    ]
    df = spark.createDataFrame(rows, "id long, lang string, v double").repartition(7)
    d = digest_by(df, "v", by=["lang"], delta=100.0)  # ties force compaction
    local = {
        r["lang"]: MergingDigest.from_bytes(bytes(r["digest"]))
        for r in d.collect()
    }
    out = percentile_enrich(df, "v", by=["lang"], delta=100.0, digests=d)
    for r in out.collect():
        assert r["percentile"] == local[r["lang"]].cdf(r["v"]), r


def test_percentile_enrich_edge_semantics(spark):
    """Exact branch values: min, tied interior, tied-or-not max, all-equal
    group, single-row group, NULL group key, NULL value."""
    from tdigest_spark.operators import percentile_enrich

    rows = [("en", 10.0), ("en", 20.0), ("en", 20.0), ("en", 30.0),
            (None, 5.0), (None, 5.0), ("de", 7.0), ("de", None),
            ("solo", 42.0)]
    df = spark.createDataFrame(rows, "lang string, v double").repartition(3)
    got = {
        (r["lang"], r["v"]): r["percentile"]
        for r in percentile_enrich(df, "v", by=["lang"], delta=1000.0).collect()
    }
    assert got[("en", 10.0)] == 0.125       # ==min: w_le/2/n
    assert got[("en", 20.0)] == 0.5         # tied interior run
    assert got[("en", 30.0)] == 0.875       # ==max: 1 - 0.5/n
    assert got[(None, 5.0)] == 0.5          # all-equal group (min precedence)
    assert got[("de", 7.0)] == 0.5          # n==1 digest
    assert got[("de", None)] is None        # NULL value -> NULL
    assert got[("solo", 42.0)] == 0.5


def test_percentile_enrich_frozen_snapshot(spark):
    """Scoring against a FROZEN digest table: groups absent from the
    snapshot yield NULL; present groups score against the snapshot's
    distribution, not the current frame's."""
    from tdigest_spark.operators import percentile_enrich

    snap_src = spark.createDataFrame(
        [("en", float(v)) for v in range(1, 101)], "lang string, v double"
    )
    snap = digest_by(snap_src, "v", by=["lang"], delta=1000.0)
    cur = spark.createDataFrame(
        [("en", 50.0), ("new", 1.0)], "lang string, v double"
    )
    got = {
        r["lang"]: r["percentile"]
        for r in percentile_enrich(cur, "v", by=["lang"], digests=snap).collect()
    }
    assert got["en"] == (49 + 0.5) / 100.0  # rank in the SNAPSHOT
    assert got["new"] is None


def test_percentile_enrich_global_no_groups(spark):
    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 9)], "v double"
    ).repartition(3)
    got = sorted(
        (r["v"], r["percentile"])
        for r in percentile_enrich(df, "v", delta=1000.0).collect()
    )
    assert got[0] == (1.0, 0.5 / 8)
    assert got[-1] == (8.0, 1 - 0.5 / 8)


def test_percentile_enrich_max_groups_guard(spark):
    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(
        [(i, str(i), float(i)) for i in range(50)],
        "id long, k string, v double",
    )
    with pytest.raises(ValueError, match="max_groups"):
        percentile_enrich(df, "v", by=["k"], max_groups=10)
    # at or under the cap it works
    out = percentile_enrich(df, "v", by=["k"], max_groups=50).collect()
    assert len(out) == 50 and all(r["percentile"] == 0.5 for r in out)


def test_percentile_enrich_rejects_duplicate_digest_keys(spark):
    """Unmerged partials hold several digests per group: scoring against
    whichever came last would be silently wrong, so it raises and names
    the group.  Two NaN keys are one group, so they are duplicates too."""
    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(
        [("en", float(i)) for i in range(40)], "lang string, v double"
    ).repartition(4)
    partials = build_partials_grouped(df, "v", by=["lang"])
    assert partials.filter("lang = 'en'").count() > 1
    with pytest.raises(ValueError, match=r"more than one row for group \('en',\)"):
        percentile_enrich(df, "v", by=["lang"], digests=partials)
    nan = spark.createDataFrame([(float("nan"), 1.0)], "g double, v double")
    d = digest_by(nan, "v", by=["g"])
    with pytest.raises(ValueError, match=r"more than one row for group \(nan,\)"):
        percentile_enrich(nan, "v", by=["g"], digests=d.unionAll(d))
    # one merged row per group is accepted and scores every row
    # (collect the scores: count() would prune the unread UDF column)
    out = percentile_enrich(df, "v", by=["lang"], digests=merge_partials(partials, by=["lang"]))
    scores = sorted(r["percentile"] for r in out.collect())
    assert scores == [(i + 0.5) / 40 for i in range(40)]


def test_percentile_enrich_rejects_existing_out_col(spark):
    """An out_col that is already a column of df raises instead of
    appending an ambiguous second column of the same name.  Names match
    as Spark resolves them: in any letter case, unless
    spark.sql.caseSensitive is true."""
    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(
        [("en", 1.0, 0.3)], "lang string, v double, percentile double"
    )
    for out_col in ("percentile", "Percentile", "v", "lang"):
        with pytest.raises(ValueError, match="already a column"):
            percentile_enrich(df, "v", by=["lang"], out_col=out_col)
    out = percentile_enrich(df, "v", by=["lang"], out_col="pct")
    assert out.columns == ["lang", "v", "percentile", "pct"]
    assert out.collect()[0]["pct"] == 0.5
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        out = percentile_enrich(df, "v", by=["lang"], out_col="Percentile")
        assert out.columns == ["lang", "v", "percentile", "Percentile"]
        assert out.collect()[0]["Percentile"] == 0.5
        with pytest.raises(ValueError, match="already a column"):
            percentile_enrich(df, "v", by=["lang"], out_col="percentile")
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_percentile_enrich_nan_group_key(spark):
    """A NaN double group key is a group like any other: both sides of
    the broadcast channel fold NaN to the same lookup key (nan != nan
    would otherwise miss every lookup and NULL the whole group)."""
    import math

    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(
        [(1, float("nan"), 10.0), (2, float("nan"), 20.0), (3, 1.0, 5.0)],
        "id long, g double, v double",
    )
    got = {
        r["id"]: r["percentile"]
        for r in percentile_enrich(df, "v", by=["g"], delta=100.0).collect()
    }
    assert got[1] == 0.25 and got[2] == 0.75 and got[3] == 0.5


def test_percentile_enrich_bigint_keys_with_null_in_batch(spark):
    """Integer columns above 2^53 sharing a batch with a NULL: pandas
    would float64 them and round.  The batch is split and passed through
    in Arrow, so the key groups stay exact and a non-key bigint column
    comes back unchanged."""
    big = (1 << 53) + 1  # 9007199254740993, not representable in float64
    rows = [
        (1, big, 10.0, big),
        (2, big, 20.0, None),
        (3, None, 7.0, big),
        (4, (1 << 53) - 1, 5.0, None),
    ]
    from tdigest_spark.operators import percentile_enrich

    df = spark.createDataFrame(rows, "id long, g long, v double, p long").coalesce(1)
    out = percentile_enrich(df, "v", by=["g"], delta=100.0).collect()
    got = {r["id"]: r["percentile"] for r in out}
    assert got[1] == 0.25 and got[2] == 0.75   # the big-key group works
    assert got[3] == 0.5 and got[4] == 0.5     # NULL group + neighbor key
    assert sorted(tuple(r)[:4] for r in out) == rows  # pass-through exact


def test_nan_and_null_keys_stay_distinct_groups(spark):
    """A double key with NaN rows and NULL rows in one batch: every
    grouped build+merge lane (one- and two-stage digest merges, KLL,
    Frequent Directions) returns a NaN group and a NULL group with their
    own row counts, and percentile_enrich scores the NULL rows against
    the NULL group's digest."""
    from tdigest_spark.fd import fd_sketch_by
    from tdigest_spark.kll import kll_by
    from tdigest_spark.operators import percentile_enrich

    nan = float("nan")
    rows = [(1, nan, 1.0), (2, nan, 2.0),
            (3, None, 100.0), (4, None, 200.0), (5, None, 300.0),
            (6, 1.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, g double, v double").coalesce(1)

    def counts(frame):
        out = {}
        for r in frame.collect():
            g = r["g"]
            out["nan" if g is not None and math.isnan(g) else g] = r["n_rows"]
        return out

    # three input partitions (ids 1-2, 3-4, 5-6): the NULL group's two
    # partials fall in different fanin=2 buckets, so the first merge
    # stage sees two buckets and the second stage merges them
    split = build_partials_grouped(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), df.schema), "v", by=["g"])
    assert sorted(r["__td_salt"] for r in split.collect() if r["g"] is None) == [1, 2]

    expect = {"nan": 2, None: 3, 1.0: 1}
    lanes = {
        "map": merge_partials(build_partials_grouped(df, "v", by=["g"]), by=["g"]),
        "two-stage": merge_partials(split, by=["g"], fanin=2, stages=2),
        "kll-map": kll_by(df, "v", by=["g"]),
        "fd": fd_sketch_by(df.withColumn("vec", F.array("v")), "vec", by=["g"], ell=2),
    }
    for lane, frame in lanes.items():
        assert counts(frame) == expect, lane
    got = {
        r["id"]: r["percentile"]
        for r in percentile_enrich(df, "v", by=["g"], delta=100.0).collect()
    }
    assert (got[3], got[4], got[5]) == (1 / 6, 1 / 2, 5 / 6)
    assert (got[1], got[2], got[6]) == (0.25, 0.75, 0.5)


def test_build_partials_multi_bigint_keys_with_null_in_batch(spark):
    """build_partials_multi groups in Arrow: bigint keys above 2^53
    colliding under float64, sharing a batch with a NULL key, must stay
    distinct groups (the grouping kernel keeps keys typed)."""
    from tdigest_spark.operators.digest import (
        build_partials_multi, merge_partials,
    )

    big = 1 << 53  # big and big+1 collide in float64
    rows = [
        (big, 1.0, 10.0),
        (big + 1, 2.0, 20.0),
        (big + 1, 3.0, 30.0),
        (None, 4.0, 40.0),
    ]
    df = spark.createDataFrame(rows, "g long, a double, b double").coalesce(1)
    parts = build_partials_multi(df, ["a", "b"], by=["g"])
    merged = merge_partials(parts, by=["g", "col"])
    got = {
        (r["g"], r["col"]): r["n_rows"] for r in merged.collect()
    }
    assert got[(big, "a")] == 1 and got[(big + 1, "a")] == 2
    assert got[(None, "a")] == 1
    assert got[(big, "b")] == 1 and got[(big + 1, "b")] == 2


def _keyed_range(spark, n: int, parts: int):
    """`n` rows in `parts` partitions: (id, lang string with NULLs,
    k bigint above 2^53 with NULLs, v double with NULLs)."""
    ident = F.col("id")
    return spark.range(0, n, 1, parts).select(
        "id",
        F.element_at(
            F.array(*map(F.lit, "abc"), F.lit(None).cast("string")),
            (ident % 4 + 1).cast("int"),
        ).alias("lang"),
        F.when(ident % 5 == 0, F.lit(None))
        .otherwise(F.lit(1 << 53) + ident % 3)
        .alias("k"),
        F.when(ident % 97 == 0, F.lit(None))
        .otherwise(((ident * 7919) % 10007).cast("double"))
        .alias("v"),
    )


def test_map_builders_one_partial_per_group_and_partition(spark):
    """A NULL group key spread over several Arrow batches of one partition
    is ONE group: every map-side builder emits exactly one partial row per
    (group, partition), and the salt is the partition id."""
    from tdigest_spark.operators.digest import build_partials_multi

    df = _keyed_range(spark, 40_000, 2)  # 20k rows = 2 batches per partition
    n_v = sum(1 for i in range(40_000) if i % 97)  # rows with a value
    # (partials, unique row key, groups, values fed): 16 = lang x k groups
    cases = [
        (build_partials_grouped(df, "v", by=["lang", "k"]),
         ("lang", "k"), 16, n_v),
        (build_partials_multi(df, ["v", "id"], by=["lang", "k"]),
         ("lang", "k", "col"), 32, n_v + 40_000),
        (build_partials_grouped(df, "v", ()), (), 1, n_v),
        # float keys: NaN is one group, -0.0 and 0.0 are one group
        (build_partials_grouped(df.withColumn("f", F.when(
            F.col("id") % 3 == 0, F.lit(float("nan"))
        ).otherwise(F.when(F.col("id") % 3 == 1, F.lit(-0.0)).otherwise(0.0))),
            "v", by=["f"]), ("f",), 2, n_v),
    ]
    for partials, key, n_groups, n_fed in cases:
        rows = partials.collect()
        seen = [tuple(r[c] for c in (*key, "__td_salt")) for r in rows]
        assert len(seen) == len(set(seen)) == 2 * n_groups, key
        assert {r["__td_salt"] for r in rows} == {0, 1}
        assert sum(r["n_rows"] for r in rows) == n_fed


def test_grouped_partials_byte_identical_to_driver_feed(spark):
    """Three Arrow batches (25k rows, one partition) with a string key
    holding NULL and a bigint key above 2^53 holding NULL in the same
    batch: each partial equals, byte for byte, a driver-side digest fed
    that group's values batch by batch in row order."""
    n, batch = 25_000, 10_000
    parts = build_partials_grouped(
        _keyed_range(spark, n, 1), "v", by=["lang", "k"]
    ).collect()

    ids = np.arange(n)
    lang = np.array(["a", "b", "c", None], dtype=object)[ids % 4]
    k = [None if i % 5 == 0 else (1 << 53) + i % 3 for i in range(n)]
    v = np.where(ids % 97 == 0, np.nan, ((ids * 7919) % 10007).astype(float))
    expect: dict[tuple, MergingDigest] = {}
    for lo in range(0, n, batch):
        rows: dict[tuple, list] = {}
        for i in range(lo, min(lo + batch, n)):
            rows.setdefault((lang[i], k[i]), []).append(v[i])
        for g, vals in rows.items():
            vals = np.asarray(vals)
            d = expect.setdefault(g, MergingDigest(100.0))
            if (~np.isnan(vals)).any():
                d.add(vals[~np.isnan(vals)])
    assert len(parts) == len(expect) == 16
    for r in parts:
        d = expect[(r["lang"], r["k"])]
        assert bytes(r["digest"]) == d.to_bytes()
        assert r["n_rows"] == d.total_weight
        assert r["__td_salt"] == 0
