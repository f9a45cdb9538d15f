"""PrefixBattery must match per-window evaluate_many for every supported
kernel, across window sizes including degenerate ones (0, 1, 2, full)."""

import numpy as np
import pytest

from light_curve_python_spark.functions.battery import PrefixBattery
from light_curve_python_spark.functions.kernels import (
    evaluate_many,
    make_kernel,
)

BATTERY = [
    "amplitude", "mean", "median", "standard_deviation", "mean_variance",
    "median_absolute_deviation", "weighted_mean", "kurtosis", "skew",
    "percent_amplitude", "observation_count", "duration", "time_mean",
    "time_standard_deviation", "maximum_time_interval",
    "minimum_time_interval", "inter_percentile_range",
    "percent_difference_magnitude_percentile", "magnitude_percentage_ratio",
    "median_buffer_range_percentage", "beyond_n_std", "stetson_k",
    "excess_variance", "reduced_chi2", "chi2_pvar", "roms", "cusum", "eta",
    "eta_e", "maximum_slope", "anderson_darling_normal",
    "lafler_kinman_string_length", "linear_fit", "linear_trend",
    "otsu_split",
]


@pytest.fixture(scope="module")
def curve():
    rng = np.random.default_rng(42)
    n = 800
    t = np.sort(rng.uniform(0, 1000, n))
    m = rng.uniform(15, 21, n)
    sigma = rng.uniform(0.01, 0.2, n)
    return t, m, sigma


def _check(kernels, t, m, s, ends, rtol=1e-9):
    battery = PrefixBattery(kernels, fill_value=np.nan)
    got = battery.evaluate_prefixes(t, m, s, ends)
    names = battery.names
    for i, e in enumerate(ends):
        want = evaluate_many(kernels, t[:e], m[:e],
                             None if s is None else s[:e],
                             fill_value=np.nan)
        np.testing.assert_allclose(
            got[i], want, rtol=rtol, atol=1e-12, equal_nan=True,
            err_msg=f"window {e}: " + str(
                [(n_, a, b) for n_, a, b in zip(names, got[i], want)
                 if not (np.isclose(a, b, rtol=rtol, atol=1e-12)
                         or (np.isnan(a) and np.isnan(b)))]))


def test_battery_matches_per_window(curve):
    t, m, s = curve
    kernels = [make_kernel(k) for k in BATTERY]
    rng = np.random.default_rng(0)
    ends = np.concatenate([[0, 1, 2, 3, 4, 5, len(t)],
                           rng.integers(6, len(t), 30)])
    _check(kernels, t, m, s, ends)


def test_battery_unsorted_probe_order(curve):
    """ends arrive in arbitrary (probe) order; results must align."""
    t, m, s = curve
    kernels = [make_kernel(k) for k in ("mean", "median", "otsu_split")]
    ends = np.array([500, 10, 800, 10, 0, 333])
    _check(kernels, t, m, s, ends)


def test_battery_parameterized_kernels(curve):
    t, m, s = curve
    kernels = [make_kernel("beyond_n_std", nstd=2.0),
               make_kernel("inter_percentile_range", quantile=0.1),
               make_kernel("median_buffer_range_percentage", quantile=0.3),
               make_kernel("magnitude_percentage_ratio",
                           quantile_numerator=0.3,
                           quantile_denominator=0.02)]
    ends = np.array([7, 50, 400, 800])
    _check(kernels, t, m, s, ends)


def test_battery_fallback_kernel(curve):
    """Unsupported kernels (periodogram) run via the per-window fallback."""
    t, m, s = curve
    kernels = [make_kernel("mean"), make_kernel("periodogram")]
    ends = np.array([100, 300])
    _check(kernels, t, m, s, ends, rtol=1e-9)


def test_battery_speed(curve):
    """The point of the exercise: a 48-probe set must be much cheaper than
    48 independent evaluations."""
    import time
    t, m, s = curve
    kernels = [make_kernel(k) for k in BATTERY]
    battery = PrefixBattery(kernels, fill_value=np.nan)
    ends = np.linspace(10, len(t), 48).astype(int)
    battery.evaluate_prefixes(t, m, s, ends)  # warm
    t0 = time.perf_counter()
    for _ in range(5):
        battery.evaluate_prefixes(t, m, s, ends)
    batched = (time.perf_counter() - t0) / 5
    t0 = time.perf_counter()
    for e in ends:
        evaluate_many(kernels, t[:e], m[:e], s[:e])
    loop = time.perf_counter() - t0
    assert batched < loop / 2, (batched, loop)


def test_battery_hot_entity_near_linear_probe_scaling():
    """20k-obs hot entity: sorted-pass cost must scale ~linearly in probe
    count (the round-1 np.insert implementation degraded quadratically).
    Uses a battery of prefix + sorted + loop features but WITHOUT the
    intrinsically-O(k)-per-probe functionals (otsu/AD/medabsdev/cusum),
    whose total cost is necessarily ~sum of window lengths."""
    import time
    rng = np.random.default_rng(7)
    n = 20000
    t = np.sort(rng.uniform(0, 1000, n))
    m = rng.uniform(15, 21, n)
    s = rng.uniform(0.01, 0.2, n)
    kernels = [make_kernel(k) for k in (
        "median", "inter_percentile_range", "median_buffer_range_percentage",
        "beyond_n_std", "stetson_k", "roms", "percent_amplitude")]
    battery = PrefixBattery(kernels, fill_value=np.nan)

    def run(P):
        ends = np.sort(rng.integers(2, n + 1, P))
        t0 = time.perf_counter()
        battery.evaluate_prefixes(t, m, s, ends)
        return time.perf_counter() - t0

    run(8)  # warm
    t_small = min(run(32) for _ in range(3))
    t_big = min(run(512) for _ in range(3))
    # 16x probes: allow up to ~3x the linear budget for per-probe cumsums
    # and noise; the quadratic implementation blows far past this
    assert t_big / t_small < 16 * 3, (t_small, t_big)


def test_battery_correct_at_large_scale_spotcheck():
    """Parity spot-check at the hot-entity scale (the ping-pong merge path
    with big buffers)."""
    rng = np.random.default_rng(8)
    n = 20000
    t = np.sort(rng.uniform(0, 1000, n))
    m = rng.uniform(15, 21, n)
    s = rng.uniform(0.01, 0.2, n)
    ends = np.array([2, 17, 4096, 19999, 20000])
    _check([make_kernel(k) for k in BATTERY], t, m, s, ends)


def test_review_fixes_battery_and_special():
    """Round-4 functions review regressions: NaN/inf through erf/erfc/
    ndtr; per-quantile mbrp; parameterized ptp_var nstd; sigma=None fill;
    NaN windows fill instead of positional garbage; fill never corrupts
    shared sorted-pass state."""
    import numpy as np

    from light_curve_python_spark.functions.battery import PrefixBattery
    from light_curve_python_spark.functions.kernels import (evaluate_kernel,
                                                            make_kernel)
    from light_curve_python_spark.functions.special import erf, erfc, ndtr
    np.seterr(all="ignore")

    # special functions: NaN propagates, infinities hit exact limits
    assert np.isnan(erf(np.nan)) and np.isnan(erfc(np.nan)) \
        and np.isnan(ndtr(np.nan))
    assert erf(np.inf) == 1.0 and erf(-np.inf) == -1.0
    assert erfc(np.inf) == 0.0 and erfc(-np.inf) == 2.0
    assert ndtr(np.inf) == 1.0 and ndtr(-np.inf) == 0.0

    rng = np.random.default_rng(3)
    n = 30
    t = np.sort(rng.uniform(0, 100, n))
    m = rng.uniform(1.0, 5.0, n)
    s = rng.uniform(0.05, 0.2, n)
    ends = np.array([n])

    # two mbrp kernels with different quantiles stay independent
    ks = [make_kernel("median_buffer_range_percentage", quantile=0.1),
          make_kernel("median_buffer_range_percentage", quantile=0.5)]
    got = PrefixBattery(ks).evaluate_prefixes(t, m, s, ends)[0]
    want = [evaluate_kernel(k, t, m, s) for k in ks]
    np.testing.assert_allclose(got, np.concatenate(want), rtol=1e-9)
    assert got[0] != got[1]

    # ptp_var honors nstd
    k2 = make_kernel("peak_to_peak_var", nstd=2.0)
    got2 = PrefixBattery([k2]).evaluate_prefixes(t, m, s, ends)[0, 0]
    assert got2 == pytest.approx(float(evaluate_kernel(k2, t, m, s)[0]),
                                 rel=1e-9)

    # sigma=None + sigma-requiring kernel: fill, not TypeError
    kw = make_kernel("weighted_mean")
    got3 = PrefixBattery([kw], fill_value=-9.0) \
        .evaluate_prefixes(t, m, None, ends)
    assert got3[0, 0] == -9.0

    # NaN magnitude: sorted-family outputs fill (match evaluate_kernel)
    m_nan = m.copy()
    m_nan[5] = np.nan
    kmed = make_kernel("median")
    b = PrefixBattery([kmed], fill_value=-1.0)
    assert b.evaluate_prefixes(t, m_nan, s, ends)[0, 0] == -1.0

    # fill for an empty window must not corrupt ss state a later
    # kernel reads: probe 0 empty, probe 1 full
    kit = [make_kernel("median"), make_kernel("percent_amplitude")]
    bb = PrefixBattery(kit, fill_value=-7.0)
    two = bb.evaluate_prefixes(t, m, s, np.array([0, n]))
    ref = np.concatenate([evaluate_kernel(k, t, m, s) for k in kit])
    assert (two[0] == -7.0).all()
    np.testing.assert_allclose(two[1], ref, rtol=1e-9)


def test_deferred_flush_equals_unflushed(monkeypatch):
    """Bounded snapshot flushing (memory guard for hot entities) must
    agree with the single end-of-loop flat pass — same flat math over
    subsets, only cumsum-seam ulps may move (assert tight allclose)."""
    import numpy as np

    from light_curve_python_spark.functions.battery import PrefixBattery
    from light_curve_python_spark.functions.kernels import make_kernel
    rng = np.random.default_rng(3)
    n = 400
    t = np.sort(rng.uniform(0, 100, n))
    m = rng.normal(18, 1, n)
    s = rng.uniform(0.05, 0.2, n)
    ends = rng.integers(4, n + 1, size=60)
    kernels = [make_kernel(k) for k in
               ("anderson_darling_normal", "otsu_split", "stetson_k",
                "roms", "mean")]
    b = PrefixBattery(kernels, fill_value=np.nan)
    base = b.evaluate_prefixes(t, m, s, ends)
    monkeypatch.setattr(PrefixBattery, "FLUSH_ELEMS", 500)  # many flushes
    flushed = b.evaluate_prefixes(t, m, s, ends)
    np.testing.assert_allclose(flushed, base, rtol=1e-9, atol=1e-12,
                               equal_nan=True)


def test_fill_is_per_kernel_block_and_strict_names_first_kernel(curve):
    """The one-pass fill fills a kernel's whole block in the rows where
    its window is short or any of its outputs is non-finite, and nothing
    else; with fill_value=None the first offending kernel, in kernel
    order, is named."""
    t, m, s = curve
    ks = [make_kernel("mean"), make_kernel("linear_fit"),
          make_kernel("weighted_mean"), make_kernel("kurtosis")]
    ends = np.array([0, 2, 3, 50])
    got = PrefixBattery(ks, fill_value=-5.0).evaluate_prefixes(t, m, s, ends)
    for row, e in zip(got, ends):
        want = evaluate_many(ks, t[:e], m[:e], s[:e], fill_value=-5.0)
        np.testing.assert_allclose(row, want, rtol=1e-9)
    nosig = PrefixBattery(ks, fill_value=-5.0).evaluate_prefixes(
        t, m, None, ends)
    assert (nosig[:, 1:5] == -5.0).all()
    np.testing.assert_array_equal(nosig[:, [0, 5]], got[:, [0, 5]])

    strict = PrefixBattery(ks, fill_value=None)
    with pytest.raises(ValueError, match="^linear_fit: fill required"):
        strict.evaluate_prefixes(t, m, s, ends[1:])
    with pytest.raises(ValueError, match="^linear_fit: needs sigma"):
        strict.evaluate_prefixes(t, m, None, ends[3:])
    assert np.isfinite(strict.evaluate_prefixes(t, m, s, ends[3:])).all()
