"""Companion sketches (sketches.py): HLL / Count-Min / Bloom — accuracy
bounds vs exact answers, mergeability (grouped -> global rollup equals
direct build), and no-false-negative guarantees."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark import sketches as SK


@pytest.fixture(scope="module")
def values(spark):
    """Two groups with known cardinalities and frequencies."""
    rng = np.random.default_rng(13)
    rows = []
    for g, n_distinct, reps in (("a", 3000, 2), ("b", 800, 5)):
        for i in range(n_distinct):
            for _ in range(reps):
                rows.append((g, f"{g}-val-{i}"))
    return spark.createDataFrame(rows, "g string, v string")


def test_hll_error_bound(spark, values):
    sk = SK.hll_by(values, "v", by=["g"], p=12)
    est = {
        r["g"]: r["est"]
        for r in sk.select("g", SK.hll_estimate_col("registers", 12).alias("est"))
        .collect()
    }
    for g, true in (("a", 3000), ("b", 800)):
        assert abs(est[g] - true) / true < 0.05  # ~3 sigma at p=12


def test_hll_merge_equals_direct(spark, values):
    grouped = SK.hll_by(values, "v", by=["g"], p=8)
    rolled = SK.hll_merge(grouped, by=())
    direct = SK.hll_by(values, "v", by=(), p=8)
    assert (
        rolled.collect()[0]["registers"] == direct.collect()[0]["registers"]
    )


def test_countmin_overestimates_within_bound(spark, values):
    sk = SK.countmin_by(values, "v", by=["g"], depth=4, width=256)
    probes = [("a", "a-val-0", 2), ("b", "b-val-1", 5), ("a", "nope", 0)]
    for g, probe, true in probes:
        est = (
            sk.filter(F.col("g") == g)
            .select(
                SK.countmin_query_col("counts", F.lit(probe), 4, 256).alias("e")
            )
            .collect()[0]["e"]
        )
        n = 6000 if g == "a" else 4000
        assert true <= est <= true + 3 * n / 256  # CM never underestimates


def test_countmin_merge_equals_direct(spark, values):
    grouped = SK.countmin_by(values, "v", by=["g"], depth=2, width=64)
    rolled = SK.countmin_merge(grouped, by=())
    direct = SK.countmin_by(values, "v", by=(), depth=2, width=64)
    assert rolled.collect()[0]["counts"] == direct.collect()[0]["counts"]


def test_bloom_no_false_negatives(spark, values):
    sk = SK.bloom_by(values, "v", by=["g"], m_bits=65536, k_hashes=5)
    a_bits = sk.filter(F.col("g") == "a")
    present = [f"a-val-{i}" for i in range(0, 3000, 97)]
    absent = [f"zz-{i}" for i in range(200)]
    probes = spark.createDataFrame([(p,) for p in present + absent], "p string")
    out = a_bits.crossJoin(probes).select(
        "p", SK.bloom_contains_col("bits", F.col("p"), 65536, 5).alias("hit")
    )
    got = {r["p"]: r["hit"] for r in out.collect()}
    assert all(got[p] for p in present)  # no false negatives, ever
    fp = sum(got[p] for p in absent) / len(absent)
    assert fp < 0.1  # ~ (1-exp(-5*3000/65536))^5 ≈ 0.4% + slack


def test_bloom_merge_union(spark, values):
    grouped = SK.bloom_by(values, "v", by=["g"], m_bits=8192, k_hashes=3)
    union = SK.bloom_merge(grouped, by=())
    out = union.select(
        SK.bloom_contains_col("bits", F.lit("a-val-5"), 8192, 3).alias("a"),
        SK.bloom_contains_col("bits", F.lit("b-val-5"), 8192, 3).alias("b"),
    ).collect()[0]
    assert out["a"] and out["b"]


# ------------------------------------------------------------ KMV / theta


def test_kmv_exact_regime(spark, values):
    """Under capacity (n_distinct < k) the estimate IS the exact distinct
    count, and set algebra is exact."""
    sk = SK.kmv_by(values, "v", by=["g"], k=4096)
    est = {
        r["g"]: r["est"]
        for r in sk.select(
            "g", SK.kmv_estimate_col("kmv", 4096).alias("est")
        ).collect()
    }
    assert est["a"] == 3000.0 and est["b"] == 800.0


def test_kmv_estimator_bound(spark):
    """At capacity, (k-1)/u_k is within ~4/sqrt(k-2) relative error."""
    n, k = 50_000, 256
    df = spark.range(n).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    sk = SK.kmv_by(df, "v", by=(), k=k)
    est = sk.select(SK.kmv_estimate_col("kmv", k).alias("e")).collect()[0]["e"]
    assert abs(est - n) / n < 4.0 / (k - 2) ** 0.5


def test_kmv_merge_lossless(spark, values):
    """k minima of union of per-group k-minima == k minima of the whole
    stream: merged sketch is bit-identical to the direct build."""
    k = 128
    grouped = SK.kmv_by(values, "v", by=["g"], k=k)
    rolled = SK.kmv_merge(grouped, by=(), k=k)
    direct = SK.kmv_by(values, "v", by=(), k=k)
    assert rolled.collect()[0]["kmv"] == direct.collect()[0]["kmv"]


def test_kmv_set_algebra_exact(spark):
    """Union/intersection estimates are exact under capacity."""
    rows = [("x", f"v{i}") for i in range(300)] + [
        ("y", f"v{i}") for i in range(200, 600)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    sk = SK.kmv_by(df, "v", by=["g"], k=2048)
    a = sk.filter(F.col("g") == "x").select(F.col("kmv").alias("ka"))
    b = sk.filter(F.col("g") == "y").select(F.col("kmv").alias("kb"))
    j = a.crossJoin(b).select(
        F.size(SK.kmv_union_col("ka", "kb", 2048)).alias("u"),
        SK.kmv_intersect_est_col("ka", "kb", 2048).alias("i"),
    )
    r = j.collect()[0]
    assert r["u"] == 600  # |x ∪ y| distinct
    assert r["i"] == 100.0  # |x ∩ y| = {v200..v299}


def test_kmv_intersect_estimate_at_capacity(spark):
    """Beyond capacity the scaled union-membership estimator lands within
    a loose statistical bound."""
    n, overlap, k = 20_000, 5_000, 512
    rows_a = [(f"a{i}",) for i in range(n)]
    rows_b = [(f"a{i}",) for i in range(n - overlap, n)] + [
        (f"b{i}",) for i in range(n - overlap)
    ]
    dfa = spark.createDataFrame(rows_a, "v string")
    dfb = spark.createDataFrame(rows_b, "v string")
    ka = SK.kmv_by(dfa, "v", k=k).select(F.col("kmv").alias("ka"))
    kb = SK.kmv_by(dfb, "v", k=k).select(F.col("kmv").alias("kb"))
    est = (
        ka.crossJoin(kb)
        .select(SK.kmv_intersect_est_col("ka", "kb", k).alias("i"))
        .collect()[0]["i"]
    )
    assert abs(est - overlap) / overlap < 0.35


def test_kmv_prefilter_sampling(spark):
    """theta-prefilter (q=1): state shrinks ~16x, estimate still lands."""
    n, k = 100_000, 512
    df = spark.range(n).select(F.concat(F.lit("p"), F.col("id")).alias("v"))
    sk = SK.kmv_by(df, "v", k=k, prefilter_hex_zeros=1)
    r = sk.select(
        F.size("kmv").alias("sz"),
        SK.kmv_estimate_col("kmv", k, prefilter_hex_zeros=1).alias("e"),
    ).collect()[0]
    assert r["sz"] <= k
    assert abs(r["e"] - n) / n < 4.0 / (k - 2) ** 0.5


def test_sketch_sql_surface(spark, values):
    """register_sketch_sql_functions: KLL/HLL/KMV query functions usable
    from spark.sql text, matching the DataFrame-API results."""
    from tdigest_spark.functions import register_sketch_sql_functions
    from tdigest_spark.kll import kll_by

    register_sketch_sql_functions(spark)

    hll = SK.hll_by(values, "v", by=["g"], p=8)
    hll.createOrReplaceTempView("__hll_t")
    got = {
        r["g"]: r["e"]
        for r in spark.sql(
            "SELECT g, hll_estimate(registers) AS e FROM __hll_t"
        ).collect()
    }
    exp = {
        r["g"]: r["e"]
        for r in hll.select(
            "g", SK.hll_estimate_col("registers", 8).alias("e")
        ).collect()
    }
    for g in exp:
        assert abs(got[g] - exp[g]) < 1e-9

    kmv = SK.kmv_by(values, "v", by=["g"], k=64)
    kmv.createOrReplaceTempView("__kmv_t")
    got = {
        r["g"]: r["e"]
        for r in spark.sql(
            "SELECT g, kmv_estimate(kmv, 64) AS e FROM __kmv_t"
        ).collect()
    }
    exp = {
        r["g"]: r["e"]
        for r in kmv.select(
            "g", SK.kmv_estimate_col("kmv", 64).alias("e")
        ).collect()
    }
    for g in exp:
        assert abs(got[g] - exp[g]) < 1e-9

    vals_d = values.select("g", F.length("v").cast("double").alias("x"))
    sk = kll_by(vals_d, "x", by=["g"], k=100)
    sk.createOrReplaceTempView("__kll_t")
    rows = spark.sql(
        "SELECT g, kll_quantile(kll, 0.5d) AS med, kll_stored_weight(kll) AS w "
        "FROM __kll_t"
    ).collect()
    assert all(r["med"] > 0 and r["w"] > 0 for r in rows)


# -------------------------------------------------------- heavy hitters


def test_heavy_hitters_exact(spark):
    """Two-pass MG+verify returns EXACTLY the items above threshold with
    exact counts (Zipf-ish skew, multiple partitions)."""
    rng = np.random.default_rng(17)
    items = [f"t{int(i)}" for i in rng.zipf(1.5, 20000) if i < 1000]
    df = spark.createDataFrame([(it,) for it in items], "v string").repartition(8)
    got = {
        r["item"]: r["freq"]
        for r in SK.heavy_hitters(df, "v", threshold=0.01).collect()
    }
    from collections import Counter

    cnt = Counter(items)
    exp = {it: c for it, c in cnt.items() if c > 0.01 * len(items)}
    assert got == exp


def test_heavy_hitters_grouped(spark):
    rows = (
        [("a", "hot") for _ in range(500)]
        + [("a", f"c{i}") for i in range(400)]
        + [("b", "warm") for _ in range(200)]
        + [("b", f"d{i}") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, v string").repartition(4)
    got = {
        (r["g"], r["item"]): r["freq"]
        for r in SK.heavy_hitters(df, "v", by=["g"], threshold=0.2).collect()
    }
    assert got == {("a", "hot"): 500, ("b", "warm"): 200}


def test_heavy_hitters_null_items_and_keys(spark):
    """NULL items (and NULL group keys) count like any GROUP BY value: a
    NULL above threshold is returned with its exact frequency."""
    rows = (
        [("a", None) for _ in range(300)]
        + [("a", "x") for _ in range(250)]
        + [("a", f"r{i}") for i in range(100)]
        + [(None, "y") for _ in range(80)]
        + [(None, f"s{i}") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "g string, v string").repartition(4)
    got = {
        (r["g"], r["item"]): r["freq"]
        for r in SK.heavy_hitters(df, "v", by=["g"], threshold=0.2).collect()
    }
    assert got == {("a", None): 300, ("a", "x"): 250, (None, "y"): 80}
    # ungrouped: NULL is the single heavy hitter
    df2 = spark.createDataFrame(
        [(None,)] * 50 + [(f"u{i}",) for i in range(30)], "v string"
    ).repartition(2)
    got2 = {r["item"]: r["freq"] for r in SK.heavy_hitters(df2, "v", threshold=0.5).collect()}
    assert got2 == {None: 50}


def test_heavy_hitters_auto_shuffle_semi_join(spark):
    """When input_partitions x counters exceeds the broadcast bound, the
    default auto-switch verifies through a shuffle semi-join (no
    BroadcastExchange feeding the LeftSemi) and stays exact."""
    from tdigest_spark.plans import explain_str

    rng = np.random.default_rng(23)
    items = [f"t{int(i)}" for i in rng.zipf(1.5, 5000) if i < 500]
    df = spark.createDataFrame([(it,) for it in items], "v string").repartition(8)
    # 8 partitions x 200_000 counters = 1.6M > _HH_BROADCAST_MAX_ROWS
    hh = SK.heavy_hitters(df, "v", threshold=0.02, counters=200_000)
    plan = explain_str(hh, "simple")
    semi = plan[plan.index("LeftSemi"):] if "LeftSemi" in plan else plan
    assert "BroadcastHashJoin" not in plan.split("LeftSemi")[0].split("\n")[-1]
    from collections import Counter

    cnt = Counter(items)
    exp = {it: c for it, c in cnt.items() if c > 0.02 * len(items)}
    got = {r["item"]: r["freq"] for r in hh.collect()}
    assert got == exp


def test_hll_countmin_ignore_nulls(spark):
    """COUNT(DISTINCT)/frequency semantics: NULL values are not items.
    Before the fix a single NULL made map_from_entries throw
    NULL_MAP_KEY and killed the job."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", "y"), ("b", None)],
        "g string, v string",
    )
    hll = {r["g"]: r["registers"] for r in SK.hll_by(df, "v", by=["g"], p=8).collect()}
    # group a: 2 distinct non-null items; group b: all-NULL -> no row
    assert set(hll) == {"a"}
    est = (
        spark.createDataFrame([(hll["a"],)], "registers array<int>")
        .select(SK.hll_estimate_col("registers", 8).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est - 2) < 0.5

    cm = {r["g"]: r["counts"] for r in SK.countmin_by(df, "v", by=["g"]).collect()}
    assert set(cm) == {"a"}
    assert sum(cm["a"]) == 2 * 4  # 2 non-null rows x depth=4 positions


def test_heavy_hitters_bigint_keys_with_null_in_batch(spark):
    """Grouped heavy hitters with float64-colliding bigint group keys and
    a NULL-key group in the same batch: the Misra-Gries candidates must
    carry exact keys or the exact-recount semi-join silently drops those
    groups (the Arrow grouping kernel keeps keys typed)."""
    from tdigest_spark.sketches import heavy_hitters

    big = 1 << 53
    rows = (
        [(big, "x")] * 6 + [(big, "y")]
        + [(big + 1, "z")] * 5
        + [(None, "w")] * 4
    )
    df = spark.createDataFrame(rows, "g long, item string").coalesce(1)
    out = heavy_hitters(df, "item", by=["g"], threshold=0.5).collect()
    got = {(r["g"], r["item"]): r["freq"] for r in out}
    assert got[(big, "x")] == 6
    assert got[(big + 1, "z")] == 5
    assert got[(None, "w")] == 4
    assert (big, "y") not in got  # below threshold within its group
