"""The t-digest's JVM kernel (`operators/_jvm_kernel.py`): build, merge,
per-row cdf scorer and the quantile/cdf queries.

Build parity: every partial the JVM kernel emits equals, byte for byte, a
driver `MergingDigest` fed the same group's non-NULL, non-NaN values one
10,000-input-row chunk at a time, in row order, partition by partition.
The corpora cover the singleton and compaction regimes (delta 10, 100,
1000) under every scale K_0..K_3, values with heavy duplicates, signed
zeros, infinities, NaN and NULL, and keys of every folding class.

Merge parity: each merged digest equals, byte for byte, the group's
partials merged with `MergingDigest.merge` in ascending salt order
(`_arrow_groups.merged`), with one merge stage or two.  Query parity:
`tdigest_quantile` / `tdigest_cdf` equal `from_bytes(b).quantile(q)` /
`.cdf(x)` bit for bit.

Jar cache: one jar per source hash, reused across calls and sessions of
the process, and added to each new SparkContext before use.
"""

from __future__ import annotations

import math
import os
import shutil
import stat
import struct
import subprocess
import sys
import textwrap

import numpy as np
import pytest
from pyspark.sql import functions as F

import pyarrow as pa

from tdigest_spark.core import MergingDigest, _CHUNK
from tdigest_spark.functions import tdigest_cdf_udf, tdigest_quantile_udf
from tdigest_spark.operators import _jvm_kernel
from tdigest_spark.operators._arrow_groups import key_tuple, merged
from tdigest_spark.operators.digest import (
    build_partials_grouped, build_partials_multi, merge_partials,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROWS_PER_PART = 36_000
PARTS = 3


def _pick(idx, choices):
    """CASE idx WHEN i THEN choices[i] ... END."""
    out = F.lit(choices[-1])
    for i in range(len(choices) - 2, -1, -1):
        out = F.when(idx == i, F.lit(choices[i])).otherwise(out)
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    """PARTS partitions of id-derived rows: a value column mixing heavy
    duplicates, continuous values, +-0.0, +-inf, NaN and NULL, a second
    value column with its own NULL pattern, and one key column per
    folding class (each with NULL)."""
    return _frame(spark, ROWS_PER_PART, PARTS)


def _frame(spark, rows_per_part, parts):
    i = F.col("id")
    h = F.abs(F.xxhash64(i))
    dup = (h % 50).cast("double") / 4.0
    cont = (h % 1_000_003).cast("double") / 7.0
    v = (
        F.when(i % 11 == 0, F.lit(None).cast("double"))
        .when(i % 11 == 1, F.lit(float("nan")))
        .when(i % 11 == 2, F.lit(-0.0))
        .when(i % 11 == 3, F.lit(0.0))
        .when(i % 17 == 4, F.lit(float("inf")))
        .when(i % 19 == 5, F.lit(float("-inf")))
        .when(i % 2 == 0, dup)
        .otherwise(cont)
    )
    big = 1 << 53
    return spark.range(0, rows_per_part * parts, numPartitions=parts).select(
        _pick(i % 4, ["a", "b", "c", None]).alias("k_str"),
        _pick(F.floor(i / 3) % 3, [big + 1, big + 2, None]).cast("bigint").alias("k_big"),
        _pick(i % 5, [float("nan"), -0.0, 0.0, 1.5, None]).cast("double").alias("k_dbl"),
        _pick(F.floor(i / 7) % 3, [bytearray(b"\x00"), bytearray(b"\x00\x01"), None])
        .cast("binary").alias("k_bin"),
        v.alias("v"),
        F.when(i % 7 == 0, F.lit(None).cast("double")).otherwise(cont).alias("w"),
    )


@pytest.fixture(scope="module")
def rows(corpus):
    """The corpus as (partition id, row) in each partition's row order."""
    out = corpus.withColumn("__pid", F.spark_partition_id()).collect()
    assert len({r["__pid"] for r in out}) == PARTS
    return out


def _key(values) -> tuple:
    """A hashable key tuple, folded like the build folds it."""
    return key_tuple(bytes(v) if isinstance(v, bytearray) else v for v in values)


def _driver_feed(rows, by, cols, delta, scale, per_column):
    """{(key, [col,] pid): (bytes, n_rows)} of driver digests fed one
    _CHUNK-row chunk of each partition at a time, in row order.  Raises
    the core's AssertionError where a digest cannot compact."""
    digests: dict[tuple, MergingDigest] = {}
    parts: dict[int, list] = {}
    for r in rows:
        parts.setdefault(r["__pid"], []).append(r)
    for pid, prow in parts.items():
        for lo in range(0, len(prow), _CHUNK):
            chunk: dict[tuple, list] = {}
            for r in prow[lo : lo + _CHUNK]:
                key = _key(r[k] for k in by)
                for c in cols:
                    x = r[c]
                    vals = chunk.setdefault(key + ((c,) if per_column else ()), [])
                    if x is not None and not math.isnan(x):
                        vals.append(x)
            for g, vals in chunk.items():
                if per_column and not vals:
                    continue
                d = digests.setdefault(g + (pid,), MergingDigest(delta, scale=scale))
                if vals:
                    d.add(np.asarray(vals))
    return {g: (d.to_bytes(), int(d.total_weight)) for g, d in digests.items()}


def _jvm_out(parts, by, per_column):
    return {
        _key(r[k] for k in by) + ((r["col"],) if per_column else ())
        + (r["__td_salt"],): (bytes(r["digest"]), r["n_rows"])
        for r in parts
    }


def _assert_parity(got, expect):
    assert got.keys() == expect.keys()
    bad = [g for g in expect if got[g] != expect[g]]
    assert not bad, f"{len(bad)}/{len(expect)} partials differ, e.g. {bad[:3]}"


@pytest.mark.parametrize("scale", ["K_0", "K_1", "K_2", "K_3"])
@pytest.mark.parametrize("delta", [10.0, 100.0, 1000.0])
def test_partials_byte_identical_across_regimes(corpus, rows, delta, scale):
    """Every (group, partition) partial equals the driver feed's bytes
    under every scale, in the compaction regime (delta 10 and 100 on
    ~9k values per partial; delta 1000 compacts past max_size=7000) and
    with the singleton NULL group's empty digest.  Where the core itself
    cannot compact (K_0 and K_1 at delta=10 leave as many clusters as
    the compression), the JVM build fails with the core's error."""
    build = build_partials_grouped(corpus, "v", by=["k_str"], delta=delta, scale=scale)
    try:
        expect = _driver_feed(rows, ["k_str"], ["v"], delta, scale, per_column=False)
    except AssertionError as e:
        assert str(e).startswith("Merging was ineffective")
        with pytest.raises(Exception, match="Merging was ineffective"):
            build.collect()
        assert delta == 10.0 and scale in ("K_0", "K_1")
        return
    parts = build.collect()
    _assert_parity(_jvm_out(parts, ["k_str"], per_column=False), expect)
    assert len(expect) == 4 * PARTS
    assert max(n for _, n in expect.values()) > 7000  # past delta=1000's buffer


@pytest.mark.parametrize(
    "by", [["k_str"], ["k_big"], ["k_dbl"], ["k_bin"], ["k_str", "k_big", "k_dbl", "k_bin"], []]
)
def test_partials_byte_identical_for_every_key_type(corpus, rows, by):
    """Keys fold as split_groups folds them: NULL is its own group in
    every type, bigints above 2^53 stay exact, NaN keys are one group and
    -0.0 joins 0.0, and binary keys compare by value."""
    parts = build_partials_grouped(corpus, "v", by=by, delta=100.0).collect()
    expect = _driver_feed(rows, by, ["v"], 100.0, "K_3", per_column=False)
    _assert_parity(_jvm_out(parts, by, per_column=False), expect)
    if by == ["k_dbl"]:
        keys = [r["k_dbl"] for r in parts]
        assert sum(k is None for k in keys) == PARTS
        assert sum(k is not None and math.isnan(k) for k in keys) == PARTS
        zeros = [k for k in keys if k == 0.0]
        assert len(zeros) == PARTS and not any(math.copysign(1, z) < 0 for z in zeros)
    if by == ["k_big"]:
        assert {r["k_big"] for r in parts} == {(1 << 53) + 1, (1 << 53) + 2, None}


@pytest.mark.parametrize("delta, scale", [(100.0, "K_3"), (10.0, "K_2")])
def test_multi_partials_byte_identical(corpus, rows, delta, scale):
    """build_partials_multi: one partial per (group, column, partition)
    that received a value, each equal to the driver feed of that column."""
    by = ["k_str", "k_dbl"]
    parts = build_partials_multi(
        corpus, ["v", "w"], by=by, delta=delta, scale=scale
    ).collect()
    expect = _driver_feed(rows, by, ["v", "w"], delta, scale, per_column=True)
    _assert_parity(_jvm_out(parts, by, per_column=True), expect)


# ------------------------------------------------------------------ the merge

MERGE_PARTS = 24
FANIN = 4


@pytest.fixture(scope="module")
def merge_corpus(spark):
    """MERGE_PARTS partitions of the corpus' rows: each group has enough
    partials that together they hold more centroids than max_size at
    delta 10, 100 and 1000, so the merge compacts."""
    return _frame(spark, 8_000, MERGE_PARTS)


def _expect_merge(parts, by, stages):
    """{key: (bytes, n_rows)}: each group's partials merged as the Python
    stage 2 merged them, `merged` in ascending salt order, first within
    `salt % FANIN` buckets when stages=2 (each bucket then carries its
    least salt)."""
    groups: dict = {}
    for r in parts:
        groups.setdefault(_key(r[k] for k in by), []).append(
            (r["__td_salt"], bytes(r["digest"]), r["n_rows"])
        )

    def merge(rows):
        salts, blobs, ns = zip(*rows)
        t = pa.table({"s": list(salts), "d": list(blobs)})
        return min(salts), merged(t, "d", "s", MergingDigest.from_bytes).to_bytes(), sum(ns)

    out = {}
    for key, rows in groups.items():
        if stages > 1:
            buckets: dict = {}
            for row in rows:
                buckets.setdefault(row[0] % FANIN, []).append(row)
            rows = [merge(b) for b in buckets.values()]
        out[key] = merge(rows)[1:]
    return out


def _merge_out(frame, by):
    return {_key(r[k] for k in by): (bytes(r["digest"]), r["n_rows"]) for r in frame.collect()}


@pytest.mark.parametrize("stages", [1, 2])
@pytest.mark.parametrize("scale", ["K_0", "K_1", "K_2", "K_3"])
@pytest.mark.parametrize("delta", [10.0, 100.0, 1000.0])
def test_merge_byte_identical_across_regimes(merge_corpus, delta, scale, stages):
    """merge_partials equals the Python merge of the same partials byte
    for byte under every scale, at delta 10, 100 and 1000, where the
    partials' centroids overflow the merge buffer (a forced compaction at
    the private compression), with one stage and with a fan-in stage.
    K_1 merges with the build's NumPy sin/cos, read through the digest
    column's compression."""
    by = ["k_str"]
    partials = build_partials_grouped(merge_corpus, "v", by=by, delta=delta, scale=scale)
    partials = partials.persist()
    try:
        try:
            parts = partials.collect()
        except Exception as e:  # K_0/K_1 at delta=10 cannot compact
            assert "Merging was ineffective" in str(e)
            assert delta == 10.0 and scale in ("K_0", "K_1")
            return
        got = _merge_out(merge_partials(partials, by=by, fanin=FANIN, stages=stages), by)
        _assert_parity(got, _expect_merge(parts, by, stages))
        centroids: dict = {}
        for r in parts:
            key = _key(r[k] for k in by)
            centroids[key] = centroids.get(key, 0) + len(MergingDigest.from_bytes(bytes(r["digest"])))
        assert max(centroids.values()) > MergingDigest(delta).max_size
    finally:
        partials.unpersist()


@pytest.mark.parametrize("stages", [1, 2])
@pytest.mark.parametrize(
    "by", [["k_big"], ["k_dbl"], ["k_bin"], ["k_str", "k_big", "k_dbl", "k_bin"], []]
)
def test_merge_byte_identical_for_every_key_type(merge_corpus, by, stages):
    """Groups merge as GROUP BY groups them: NULL is its own group in
    every type, bigints above 2^53 stay exact, NaN keys are one group
    apart from NULL, and binary keys compare by value."""
    partials = build_partials_grouped(merge_corpus, "v", by=by, delta=100.0).persist()
    try:
        parts = partials.collect()
        out = merge_partials(partials, by=by, fanin=FANIN, stages=stages)
        _assert_parity(_merge_out(out, by), _expect_merge(parts, by, stages))
        if by == ["k_dbl"]:
            keys = [r["k_dbl"] for r in out.collect()]
            assert sum(k is None for k in keys) == 1
            assert sum(k is not None and math.isnan(k) for k in keys) == 1
        if by == ["k_big"]:
            assert {r["k_big"] for r in out.collect()} == {(1 << 53) + 1, (1 << 53) + 2, None}
    finally:
        partials.unpersist()


def test_merge_folds_keys(spark):
    """Partials keyed -0.0 and 0.0 merge as one group (keyed 0.0), NaN
    partials as another, NULL as a third; binary keys by content."""
    def blob(lo):
        d = MergingDigest(100.0)
        d.add(np.arange(lo, lo + 50.0))
        return d.to_bytes()

    nan = float("nan")
    rows = [(k, b, s, blob(10.0 * s), 50) for s, (k, b) in enumerate(
        [(0.0, b"a"), (-0.0, b"a"), (nan, b"a"), (nan, b"b"), (None, b"b"), (-0.0, b"b")]
    )]
    partials = spark.createDataFrame(
        rows, "g double, b binary, __td_salt int, digest binary, n_rows long"
    ).repartition(3)
    got = _merge_out(merge_partials(partials, by=["g"]), ["g"])
    parts = spark.createDataFrame(rows, partials.schema).collect()
    assert got == _expect_merge(parts, ["g"], 1)
    assert set(got) == {(0.0,), (key_tuple([nan])), (None,)}
    zero = [r["g"] for r in merge_partials(partials, by=["g"]).collect() if r["g"] == 0.0]
    assert math.copysign(1, zero[0]) > 0
    by_bin = _merge_out(merge_partials(partials, by=["b"]), ["b"])
    assert by_bin == _expect_merge(parts, ["b"], 1) and len(by_bin) == 2


def test_merge_rejects_partial_that_would_compact_on_load(spark):
    """A partial with more centroids than its buffer (from_bytes would
    compact it; to_bytes never writes one) fails the merge loudly."""
    n = 71  # delta 10: max_size 70
    body = np.empty(2 * n, dtype="<f8")
    body[0::2] = 1.0
    body[1::2] = np.arange(n)
    blob = struct.pack("<IBdddIQ", 1, 3, 0.0, n - 1.0, 10.0, n, n) + body.tobytes()
    partials = spark.createDataFrame(
        [("a", 0, blob, n)], "g string, __td_salt int, digest binary, n_rows long"
    )
    with pytest.raises(Exception, match="more than its buffer"):
        merge_partials(partials, by=["g"]).collect()


def test_kernel_jar_cached_by_source_hash(spark, tmp_path, monkeypatch):
    """The same source reuses its jar without compiling again; a changed
    source compiles its own jar next to it.  A cache directory another
    user could swap or write (a symlink, a group- or world-writable
    directory) is not used: the jar is compiled into a private one."""
    cache = tmp_path / "cache"
    monkeypatch.setattr(_jvm_kernel, "cache_dir", lambda: str(cache))
    compiled = []
    real = _jvm_kernel._compile

    def counting(spark, source):
        compiled.append(source)
        return real(spark, source)

    monkeypatch.setattr(_jvm_kernel, "_compile", counting)
    src = _jvm_kernel.JAVA_SOURCE
    first = _jvm_kernel.kernel_jar(spark, src)
    assert os.path.dirname(first) == str(cache)
    stamp = os.stat(first).st_mtime_ns
    assert _jvm_kernel.kernel_jar(spark, src) == first
    assert len(compiled) == 1 and os.stat(first).st_mtime_ns == stamp
    changed = _jvm_kernel.kernel_jar(spark, src + "\n// changed\n")
    assert changed != first and len(compiled) == 2
    assert sorted(os.listdir(cache)) == sorted(
        os.path.basename(p) for p in (first, changed)
    )

    def private_jar():
        jar = _jvm_kernel.kernel_jar(spark, src)
        root = os.path.dirname(jar)
        assert root != str(cache) and os.path.realpath(root) != str(cache)
        st = os.lstat(root)
        assert stat.S_ISDIR(st.st_mode) and not st.st_mode & 0o077
        assert os.listdir(root) == [os.path.basename(first)]
        shutil.rmtree(root)

    # a jar is code the driver runs: a cache others can write is not used
    os.chmod(cache, 0o777)
    private_jar()
    os.chmod(cache, 0o700)
    # nor one reached through a symlink, though its target is private
    link = tmp_path / "link"
    os.symlink(cache, link)
    monkeypatch.setattr(_jvm_kernel, "cache_dir", lambda: str(link))
    private_jar()
    assert len(compiled) == 4


def test_new_session_adds_jar_before_use(tmp_path):
    """A second SparkContext in the same process (after spark.stop())
    gets the jar added again before the kernel runs on it, and the
    compiled jar is reused rather than rebuilt."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from tdigest_spark.operators import _jvm_kernel
        from tdigest_spark.operators.digest import build_partials_grouped
        from tdigest_spark.plans import get_spark

        _jvm_kernel.cache_dir = lambda: {str(tmp_path)!r}
        compiled = []
        real = _jvm_kernel._compile
        _jvm_kernel._compile = lambda s, src: compiled.append(1) or real(s, src)
        for _ in range(2):
            spark = get_spark("local[1]", extra_conf={{"spark.ui.enabled": "false"}})
            df = spark.range(100).selectExpr("id % 3 AS k", "id AS v")
            assert build_partials_grouped(df, "v", by=["k"]).count() == 3
            jars = spark.sparkContext._jsc.sc().listJars()
            names = [jars.apply(i) for i in range(jars.size())]
            assert any("tdigest-kernel-" in n for n in names), names
            spark.stop()
        assert len(compiled) == 1, compiled
        print("OK")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert out.stdout.strip().endswith("OK"), out.stderr[-3000:]


# ----------------------------------------------------------- the cdf scorer


def _expect_scores(blobs, probes):
    """The shipped Python scorer's answer per probe (key, x): the group's
    `MergingDigest.from_bytes(blob).cdf_batch`, NULL for a missing group or
    digest, a NULL or non-finite x, and a NaN result."""
    xs: dict = {}
    for key, x in probes:
        if blobs.get(key) is not None and x is not None and math.isfinite(x):
            xs.setdefault(key, {})[_bits(x)] = x  # +-0.0 are two probes
    table = {}
    for key, by_bits in xs.items():
        vals = list(by_bits.values())
        got = MergingDigest.from_bytes(blobs[key]).cdf_batch(np.array(vals))
        for v, p in zip(vals, got):
            table[key, _bits(v)] = None if math.isnan(p) else float(p)
    return [
        None if x is None or not math.isfinite(x) else table.get((key, _bits(x)))
        for key, x in probes
    ]


def _bits(x):
    return None if x is None else struct.pack("<d", x)


def _assert_scores(got, expect, probes):
    bad = [
        (p, g, e) for p, g, e in zip(probes, got, expect)
        if _bits(g) != _bits(e)
    ]
    assert not bad, f"{len(bad)}/{len(probes)} scores differ, e.g. {bad[:3]}"


def _corpus_values(rng, n):
    """Heavy duplicates (equal-centroid runs once compacted), continuous
    values and signed zeros."""
    dup = rng.integers(0, 40, size=n) / 4.0
    cont = rng.normal(0.0, 50.0, size=n)
    v = np.where(rng.random(n) < 0.5, dup, cont)
    v[::97] = -0.0
    v[1::89] = 0.0
    return v


def _probes_for(d: MergingDigest, rng) -> list:
    """Every branch of cdf: below/at min, at max, above max, on each
    centroid (equal runs included), between neighbours, +-0.0, +-inf,
    NaN and NULL."""
    d.compress()
    m = np.asarray(d.means)
    xs = [0.0, -0.0, math.inf, -math.inf, math.nan, None]
    if m.size:
        mids = (m[:-1] + m[1:]) / 2.0
        xs += [float(m[0]) - 1.0, float(m[-1]) + 1.0, *map(float, m), *map(float, mids)]
        xs += list(map(float, rng.uniform(m[0], m[-1], size=50)))
    return xs


@pytest.mark.parametrize("scale", ["K_0", "K_1", "K_2", "K_3"])
def test_scorer_bit_identical_to_cdf_batch(spark, scale):
    """The JVM scorer equals `from_bytes(blob).cdf_batch` bit for bit at
    delta 10, 100 and 1000, on singleton-regime and compacted digests, in
    VERBOSE and SMALL encodings, on empty and one-value digests, and at
    probes on every cdf branch."""
    from tdigest_spark.operators import percentile_enrich

    rng = np.random.default_rng(7)
    blobs = {}
    for delta in (10.0, 100.0, 1000.0):
        for n in (0, 1, 2, 40, 20_000):
            d = MergingDigest(delta, scale=scale)
            if n:
                try:
                    d.add(_corpus_values(rng, n))
                    d.compress()
                except AssertionError:  # K_0/K_1 at delta=10 cannot compact
                    continue
            for small in (False, True):
                blobs[f"{delta}/{n}/{small}"] = d.to_bytes(small=small)
    probes = []
    for key, blob in blobs.items():
        probes += [(key, x) for x in _probes_for(MergingDigest.from_bytes(blob), rng)]
    probes.append(("absent", 1.0))
    table = spark.createDataFrame(list(blobs.items()), "g string, digest binary")
    frame = spark.createDataFrame(
        [(i, k, x) for i, (k, x) in enumerate(probes)], "id long, g string, x double"
    ).repartition(4)
    got = {
        r["id"]: r["percentile"]
        for r in percentile_enrich(frame, "x", by=["g"], digests=table).collect()
    }
    _assert_scores([got[i] for i in range(len(probes))], _expect_scores(blobs, probes), probes)
    assert sum(g is not None for g in got.values()) > len(probes) // 2


@pytest.mark.parametrize(
    "by", [["k_str"], ["k_big"], ["k_dbl"], ["k_bin"], ["k_str", "k_dbl"], []]
)
def test_scorer_key_folding(spark, corpus, rows, by):
    """Keys match as the build groups them: NULL is a group, bigints above
    2^53 stay exact, NaN is one group, -0.0 is 0.0 (the table holds the
    zero group under -0.0), binary keys compare by content; by=() scores
    every row against the one digest."""
    from tdigest_spark.operators import percentile_enrich

    vals: dict = {}
    keys: dict = {}
    for r in rows:
        key = _key(r[k] for k in by)
        keys.setdefault(key, tuple(r[k] for k in by))
        if r["v"] is not None and not math.isnan(r["v"]):
            vals.setdefault(key, []).append(r["v"])
    blobs = {}
    for key in keys:
        d = MergingDigest(100.0)
        d.add(np.asarray(vals.get(key, [])))
        blobs[key] = d.to_bytes()
    table_rows = [
        tuple(-0.0 if k == 0.0 and isinstance(k, float) else k for k in keys[key])
        + (blobs[key],)
        for key in keys
    ]
    schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in corpus.select(*by).schema]
        + ["digest binary"]
    )
    table = spark.createDataFrame(table_rows, schema)
    out = percentile_enrich(
        corpus.withColumn("id", F.monotonically_increasing_id()), "v",
        by=by, digests=table,
    ).orderBy("id").collect()
    probes = [(_key(r[k] for k in by), r["v"]) for r in out]
    _assert_scores([r["percentile"] for r in out], _expect_scores(blobs, probes), probes)
    assert sum(r["percentile"] is not None for r in out) > len(out) // 2


def test_scorer_casts_table_keys_to_frame_types(spark):
    """An int-keyed digest table scores a bigint-keyed frame; a table key
    that does not survive the cast to the frame's type (1.5 as a bigint)
    names no group of the frame, so its rows score NULL, not the digest
    of the group it would round to."""
    from tdigest_spark.operators import percentile_enrich

    d = MergingDigest(100.0)
    d.add(np.arange(1.0, 11.0))
    blob = d.to_bytes()
    frame = spark.createDataFrame(
        [(7, 3.0), (None, 3.0), (8, 3.0)], "g bigint, v double"
    )
    ints = spark.createDataFrame([(7, blob), (None, blob)], "g int, digest binary")
    got = [r["percentile"] for r in percentile_enrich(frame, "v", by=["g"], digests=ints).collect()]
    assert got == [0.25, 0.25, None]
    doubles = spark.createDataFrame([(7.5, blob), (8.0, blob)], "g double, digest binary")
    got = [r["percentile"] for r in percentile_enrich(frame, "v", by=["g"], digests=doubles).collect()]
    assert got == [None, None, 0.25]


def test_scorer_rejects_digest_that_would_compact_on_load(spark):
    """A digest whose load would compact (at least its private compression
    in centroids; MergingDigest.to_bytes never writes one) cannot be
    scored as from_bytes would: scoring it fails loudly."""
    from tdigest_spark.operators import percentile_enrich

    # delta 10: max_size 70, private compression sqrt(70/20)*10 = 18.7
    n = 19
    body = np.empty(2 * n, dtype="<f8")
    body[0::2] = 1.0
    body[1::2] = np.arange(n)
    blob = struct.pack("<IBdddIQ", 1, 3, 0.0, n - 1.0, 10.0, n, n) + body.tobytes()
    table = spark.createDataFrame([("a", blob)], "g string, digest binary")
    frame = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(Exception, match="private compression"):
        percentile_enrich(frame, "v", by=["g"], digests=table).collect()


# ------------------------------------------------------------ the queries


def _query_blobs(scale, rng):
    """Digests at delta 10, 100 and 1000 with 0, 1, 2, 40 and 20k values
    (singleton and compacted), VERBOSE and SMALL."""
    blobs = {}
    for delta in (10.0, 100.0, 1000.0):
        for n in (0, 1, 2, 40, 20_000):
            d = MergingDigest(delta, scale=scale)
            if n:
                try:
                    d.add(_corpus_values(rng, n))
                    d.compress()
                except AssertionError:  # K_0/K_1 at delta=10 cannot compact
                    continue
            for small in (False, True):
                blobs[f"{delta}/{n}/{small}"] = d.to_bytes(small=small)
    return blobs


def _run_query(spark, blobs, probes, column):
    """column(digest, arg) over (group, arg) probes, in probe order."""
    table = spark.createDataFrame(list(blobs.items()), "g string, digest binary")
    frame = spark.createDataFrame(
        [(i, k, a) for i, (k, a) in enumerate(probes)], "id long, g string, a double"
    ).repartition(4)
    out = frame.join(table, "g", "left").select("id", column(F.col("digest"), F.col("a")).alias("r"))
    got = {r["id"]: r["r"] for r in out.collect()}
    return [got[i] for i in range(len(probes))]


def _expect_query(blobs, probes, method):
    loaded = {k: MergingDigest.from_bytes(b) for k, b in blobs.items()}
    out = []
    for key, a in probes:
        if key not in loaded or a is None or math.isnan(a):
            out.append(None)
            continue
        r = method(loaded[key], a)
        out.append(None if math.isnan(r) else float(r))
    return out


@pytest.mark.parametrize("scale", ["K_0", "K_1", "K_2", "K_3"])
def test_quantile_bit_identical_to_core(spark, scale):
    """tdigest_quantile equals `from_bytes(blob).quantile(q)` bit for bit
    at q = 0, 1, 1/n, 1 - 1/n, half-steps from either end and a grid, on
    empty, one-value, singleton and compacted digests in both encodings;
    NULL for a NULL q, NaN q or missing digest."""
    rng = np.random.default_rng(11)
    blobs = _query_blobs(scale, rng)
    probes = [("absent", 0.5)]
    for key, blob in blobs.items():
        w = MergingDigest.from_bytes(blob).total_weight
        qs = [0.0, 1.0, *np.linspace(0.0, 1.0, 41), *rng.random(20), math.nan, None]
        if w:
            qs += [1 / w, 1 - 1 / w, 0.5 / w, 1 - 0.5 / w, 1.5 / w, 1 - 1.5 / w]
        probes += [(key, None if q is None else float(min(max(q, 0.0), 1.0))) for q in qs]
    got = _run_query(spark, blobs, probes, tdigest_quantile_udf)
    _assert_scores(got, _expect_query(blobs, probes, MergingDigest.quantile), probes)
    assert sum(g is not None for g in got) > len(probes) // 2


@pytest.mark.parametrize("scale", ["K_0", "K_1", "K_2", "K_3"])
def test_cdf_bit_identical_to_core(spark, scale):
    """tdigest_cdf equals the scalar `from_bytes(blob).cdf(x)` bit for bit
    at the min, the max, every centroid, every midpoint, +-0.0 and
    values around and between them; NULL for a NULL or NaN x."""
    rng = np.random.default_rng(13)
    blobs = _query_blobs(scale, rng)
    probes = [("absent", 1.0)]
    for key, blob in blobs.items():
        xs = _probes_for(MergingDigest.from_bytes(blob), rng)
        probes += [(key, x) for x in xs if x is None or not math.isinf(x)]
    got = _run_query(spark, blobs, probes, tdigest_cdf_udf)
    _assert_scores(got, _expect_query(blobs, probes, MergingDigest.cdf), probes)
    assert sum(g is not None for g in got) > len(probes) // 2


def test_query_domain_errors_and_compaction_on_load(spark):
    """A q outside [0,1] and an infinite x fail the job with the core's
    message; a digest that would compact on load is rejected."""
    d = MergingDigest(100.0)
    d.add(np.arange(1.0, 51.0))
    frame = spark.createDataFrame([(d.to_bytes(),)], "digest binary")
    for col, arg, msg in [
        (tdigest_quantile_udf, 1.5, r"q should be in \[0,1\], got 1.5"),
        (tdigest_quantile_udf, -0.25, r"q should be in \[0,1\], got -0.25"),
        (tdigest_cdf_udf, math.inf, "Invalid value: inf"),
        (tdigest_cdf_udf, -math.inf, "Invalid value: -inf"),
    ]:
        with pytest.raises(Exception, match=msg):
            frame.select(col(F.col("digest"), F.lit(arg))).collect()
    n = 19  # delta 10: private compression sqrt(70/20)*10 = 18.7
    body = np.empty(2 * n, dtype="<f8")
    body[0::2] = 1.0
    body[1::2] = np.arange(n)
    blob = struct.pack("<IBdddIQ", 1, 3, 0.0, n - 1.0, 10.0, n, n) + body.tobytes()
    bad = spark.createDataFrame([(blob,)], "digest binary")
    with pytest.raises(Exception, match="private compression"):
        bad.select(tdigest_quantile_udf(F.col("digest"), F.lit(0.5))).collect()
