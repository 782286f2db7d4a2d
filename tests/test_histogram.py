"""LogHistogram tests ported from /root/reference/test/histogram.jl
(minus the Simple64 codec, which we deliberately don't port — parquet
compression covers count arrays at rest)."""

import numpy as np
import pytest

from tdigest_spark.histogram import LogHistogram, SignedLogHistogram, approx_log2, pow2

RNG = np.random.default_rng(42)


def test_bin_structure():
    # histogram.jl:23-31: [1, 100] at default eps=0.1 -> ~50 bins
    h = LogHistogram(1.0, 100.0)
    assert 45 <= len(h.counts) <= 55


def test_approx_log2_accuracy():
    # histogram.jl:78-87: error <= 0.01 over 12 decades; exact at powers of 2
    x = np.exp(np.linspace(np.log(1e-6), np.log(1e6), 100_000))
    err = np.abs(approx_log2(x) - np.log2(x))
    assert err.max() <= 0.01
    powers = 2.0 ** np.arange(-20, 21)
    np.testing.assert_allclose(approx_log2(powers), np.arange(-20, 21), atol=1e-12)


def test_pow2_round_trip():
    # histogram.jl:89-96: pow2(approxLog2(x)) == x within 1e-13 relative
    x = np.exp(np.linspace(np.log(1e-6), np.log(1e6), 10_000))
    rt = pow2(approx_log2(x))
    assert np.max(np.abs(rt / x - 1)) < 1e-13


def test_approx_log2_monotone():
    x = np.exp(np.linspace(np.log(1e-6), np.log(1e6), 100_000))
    assert np.all(np.diff(approx_log2(x)) >= 0)


def test_bin_bounds_ratio():
    # histogram.jl:98-108: adjacent bound ratio in (1.08, 1.12) at eps=0.1
    h = LogHistogram(0.001, 100.0, 0.1)
    assert len(h.counts) == pytest.approx(122, abs=5)
    b = h.bounds()
    ratios = b[1:] / b[:-1]
    assert ratios.min() > 1.08
    assert ratios.max() < 1.12


def test_counts_and_clamping():
    h = LogHistogram(1.0, 100.0)
    h.add([0.5, 1.0, 10.0, 99.0, 150.0])
    assert h.counts.sum() == 5
    assert h.counts[0] >= 2      # below-min clamped into first bin
    assert h.counts[-1] >= 1     # above-max clamped into last bin


def test_statistical_bins():
    # histogram.jl:110-124: bin counts vs Normal(4,1) density within
    # binomial std-error bounds (loosened to 6 sigma for a seeded test)
    from math import erf, sqrt

    def norm_cdf(z):
        return 0.5 * (1 + erf(z / sqrt(2)))

    h = LogHistogram(0.1, 20.0)
    n = 100_000
    data = RNG.normal(4.0, 1.0, size=n)
    data = np.clip(data, 0.11, 19.9)
    h.add(data)
    bounds = np.concatenate([h.bounds(), [h.lower_bound(len(h.counts))]])
    for i in range(len(h.counts)):
        p = norm_cdf((bounds[i + 1] - 4) / 1.0) - norm_cdf((bounds[i] - 4) / 1.0)
        se = np.sqrt(max(p * (1 - p) * n, 1.0))
        assert abs(h.counts[i] - p * n) <= 6 * se + 10


def test_merge_conformal():
    a = LogHistogram(1.0, 100.0)
    b = LogHistogram(1.0, 100.0)
    a.add(RNG.uniform(1, 100, 1000))
    b.add(RNG.uniform(1, 100, 1000))
    tot = a.counts + b.counts
    a.merge(b)
    np.testing.assert_array_equal(a.counts, tot)
    c = LogHistogram(1.0, 200.0)
    with pytest.raises(ValueError):
        a.merge(c)


def test_signed_histogram():
    h = SignedLogHistogram(1.0, 100.0)
    h.add([-5.0, 5.0, -50.0, 50.0, 2.0])
    pos, neg = h.counts
    assert pos.sum() == 3
    assert neg.sum() == 2
    h2 = SignedLogHistogram(1.0, 100.0)
    h2.add([-1.0, 1.0])
    h.merge(h2)
    pos, neg = h.counts
    assert pos.sum() == 4
    assert neg.sum() == 3


def test_quantile_cdf():
    h = LogHistogram(1.0, 1000.0)
    data = RNG.uniform(1, 1000, 50_000)
    h.add(data)
    # ~10% bins: quantile accurate to a bin width
    for q in [0.1, 0.5, 0.9]:
        est = h.quantile(q)
        exact = np.quantile(data, q)
        assert abs(est / exact - 1) < 0.15
    for x in [10.0, 100.0, 500.0]:
        assert abs(h.cdf(x) - np.mean(data <= x)) < 0.07


def test_ctor_validation():
    with pytest.raises(ValueError):
        LogHistogram(1.0, 1.5)      # max <= 2*min
    with pytest.raises(ValueError):
        LogHistogram(-1.0, 100.0)   # non-positive
    with pytest.raises(ValueError):
        LogHistogram(1.0, 100.0, 1e-9)  # eps out of range


LOG_FIT_CSV = "/root/reference/test/log-fit.csv"


@pytest.mark.skipif(
    not __import__("os").path.exists(LOG_FIT_CSV), reason="reference log-fit.csv absent"
)
def test_golden_log_fit_csv():
    """Golden artifact check against the reference's checked-in log-fit.csv
    (written by test/histogram.jl:43-57): 467 rows of
    (x, raw-bits log2 approximation, true log2) swept x=0.001..10 by 1.02x
    (466 data rows).

    Three cross-implementation pins:
      1. y1 is reproduced BIT-FOR-BIT from the IEEE-754 representation
         (reinterpret(UInt64,x)/2^52 - 0x3ff) — ties our bit-twiddling to
         the Julia/Java lineage the same way test_scale.test_golden_ref_csv
         ties the scale functions to ref.csv.
      2. The reference's own bound holds: 0 < log2(x) - y1 < sqrt(2)/16
         (4-bit worst case at mid-octave, histogram.jl:42).
      3. Our quadratic-corrected approx_log2 BEATS the raw approximation at
         every golden x (|err| <= 0.01 << 0.0884).
    """
    rows = np.genfromtxt(LOG_FIT_CSV, delimiter=",", skip_header=1)
    assert rows.shape == (466, 3)
    x, y1, y2 = rows[:, 0], rows[:, 1], rows[:, 2]

    bits = x.view(np.uint64)
    raw = bits / np.float64(2**52) - 0x3FF
    np.testing.assert_array_equal(raw, y1)          # pin 1: bit-exact

    true_log2 = np.log2(x)
    np.testing.assert_allclose(true_log2, y2, rtol=0, atol=1e-12)
    gap = true_log2 - y1
    lower_bound = np.sqrt(2.0) / 16.0
    assert np.all(gap > 0) and np.all(gap < lower_bound)   # pin 2

    ours = np.abs(approx_log2(x) - true_log2)
    assert ours.max() <= 0.01 < lower_bound          # pin 3


def test_histogram_by_bigint_keys_with_null_in_batch(spark):
    """Grouped histogram with float64-colliding bigint keys plus a NULL
    key in the same batch: groups must stay distinct (the Arrow grouping
    kernel keeps keys typed)."""
    from tdigest_spark.operators.histogram_ops import histogram_by

    big = 1 << 53
    rows = [(big, 1.0), (big + 1, 2.0), (big + 1, 3.0), (None, 4.0)]
    df = spark.createDataFrame(rows, "g long, v double").coalesce(1)
    out = {r["g"]: r["n_rows"] for r in
           histogram_by(df, "v", 0.01, 10.0, by=["g"]).collect()}
    assert out == {big: 1, big + 1: 2, None: 1}


def test_histogram_rejects_nan_like_kll():
    """NaN would silently land in the TOP bin (IEEE exponent 0x7FF reads
    as a huge log2); both histogram classes reject it like KLL.add, and
    like the reference where the NaN bucket index is an InexactError."""
    import numpy as np
    import pytest

    from tdigest_spark.histogram import LogHistogram, SignedLogHistogram

    h = LogHistogram(0.01, 100.0)
    with pytest.raises(ValueError, match="NaN"):
        h.add([1.0, float("nan")])
    sh = SignedLogHistogram(0.01, 100.0)
    with pytest.raises(ValueError, match="NaN"):
        sh.add(np.array([-1.0, float("nan")]))


def test_histogram_by_helper_name_collision(spark):
    """A data column named like an internal helper (`__gk_0`, the old
    string-helper name) is an ordinary group key."""
    from tdigest_spark.operators.histogram_ops import histogram_by

    rows = [(1, "a", 1.0), (1, "a", 2.0), (2, "b", 3.0)]
    df = spark.createDataFrame(rows, "g long, __gk_0 string, v double")
    out = {(r["g"], r["__gk_0"]): r["n_rows"]
           for r in histogram_by(df, "v", 0.01, 10.0, by=["g", "__gk_0"]).collect()}
    assert out == {(1, "a"): 2, (2, "b"): 1}
