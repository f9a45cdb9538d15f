"""Kernel correctness vs naive reimplementations + analytic fixtures.

Mirrors the reference's test strategy (SURVEY.md §5): every kernel is checked
against an inline naive numpy implementation (the reference's
``test_close_to_naive``, tests/test_w_bench.py:223-228) at rtol=1e-6, plus
the analytic closed-form fixtures from tests/light_curve_py/features/.
"""

import math

import numpy as np
import pytest

from light_curve_python_spark.functions.kernels import (
    KERNEL_FACTORIES,
    evaluate_kernel,
    evaluate_many,
    lomb_scargle_power,
    make_kernel,
    otsu_threshold,
    periodogram_power,
)
from light_curve_python_spark.functions.special import (
    chi2_sf,
    erf,
    erfc,
    hazen_quantile,
)

RTOL = 1e-6  # np.finfo(np.float32).resolution, as in the reference


@pytest.fixture
def curve():
    """Reference random-curve recipe: tests/test_w_bench.py:139-154."""
    rng = np.random.default_rng(42)
    n = 1000
    t = np.sort(rng.uniform(0, 1000, n))
    m = rng.uniform(15, 21, n)
    sigma = rng.uniform(0.01, 0.2, n)
    return t, m, sigma


# --- special functions -------------------------------------------------------

def test_erf_vs_math():
    xs = np.concatenate([np.linspace(-6, 6, 4001), [-26.0, 26.0, 0.0]])
    got = erf(xs)
    want = np.array([math.erf(x) for x in xs])
    np.testing.assert_allclose(got, want, rtol=1e-14, atol=1e-300)
    got_c = erfc(xs)
    want_c = np.array([math.erfc(x) for x in xs])
    np.testing.assert_allclose(got_c, want_c, rtol=1e-12)


def test_chi2_sf_known_values():
    # chi2.sf(x, 2) = exp(-x/2) exactly
    for x in [0.5, 1.0, 5.0, 20.0]:
        assert chi2_sf(x, 2) == pytest.approx(math.exp(-x / 2), rel=1e-12)
    # chi2.sf(x, 1) = erfc(sqrt(x/2))
    for x in [0.3, 2.0, 9.0]:
        assert chi2_sf(x, 1) == pytest.approx(math.erfc(math.sqrt(x / 2)),
                                              rel=1e-12)


def test_hazen_matches_numpy():
    rng = np.random.default_rng(0)
    v = rng.normal(size=101)
    qs = [0.01, 0.05, 0.25, 0.4, 0.5, 0.75, 0.95, 0.99]
    np.testing.assert_allclose(
        hazen_quantile(v, qs), np.quantile(v, qs, method="hazen"), rtol=1e-12)


# --- naive twins (written directly from the published formulas) -------------

def naive_lstsq_weighted(t, m, sigma):
    A = np.vstack([t, np.ones(len(t))]).T
    if sigma is not None:
        w = np.diag(1 / sigma)
        A = w @ A
        m = w @ m
    (slope, intercept), residuals, *_ = np.linalg.lstsq(A, m, rcond=None)
    return slope, intercept, residuals[0]


NAIVE = {
    "amplitude": lambda t, m, s: [(m.max() - m.min()) / 2],
    "mean": lambda t, m, s: [m.mean()],
    "median": lambda t, m, s: [np.median(m)],
    "standard_deviation": lambda t, m, s: [m.std(ddof=1)],
    "mean_variance": lambda t, m, s: [m.std(ddof=1) / m.mean()],
    "median_absolute_deviation":
        lambda t, m, s: [np.median(np.abs(m - np.median(m)))],
    "weighted_mean": lambda t, m, s: [np.average(m, weights=s**-2)],
    "percent_amplitude": lambda t, m, s: [
        max(m.max() - np.median(m), np.median(m) - m.min())],
    "observation_count": lambda t, m, s: [len(m)],
    "duration": lambda t, m, s: [t[-1] - t[0]],
    "time_mean": lambda t, m, s: [t.mean()],
    "time_standard_deviation": lambda t, m, s: [t.std(ddof=1)],
    "maximum_time_interval": lambda t, m, s: [np.diff(t).max()],
    "minimum_time_interval": lambda t, m, s: [np.diff(t).min()],
    "inter_percentile_range": lambda t, m, s: [
        np.quantile(m, 0.75, method="hazen") - np.quantile(m, 0.25, method="hazen")],
    "percent_difference_magnitude_percentile": lambda t, m, s: [
        (np.quantile(m, 0.75, method="hazen")
         - np.quantile(m, 0.25, method="hazen")) / np.median(m)],
    "magnitude_percentage_ratio": lambda t, m, s: [
        (np.quantile(m, 0.6, method="hazen") - np.quantile(m, 0.4, method="hazen"))
        / (np.quantile(m, 0.95, method="hazen")
           - np.quantile(m, 0.05, method="hazen"))],
    "median_buffer_range_percentage": lambda t, m, s: [
        np.count_nonzero(
            np.abs(np.median(m) - m) < 0.1 * (m.max() - m.min()) / 2) / len(m)],
    "beyond_n_std": lambda t, m, s: [
        np.count_nonzero(np.abs(m - m.mean()) > m.std(ddof=1)) / len(m)],
    "stetson_k": lambda t, m, s: [
        np.sum(np.abs((m - np.average(m, weights=s**-2)) / s))
        / np.sqrt(len(m) * np.sum(((m - np.average(m, weights=s**-2)) / s) ** 2))],
    "excess_variance": lambda t, m, s: [
        (m.std(ddof=1) ** 2 - (s**2).mean()) / m.mean() ** 2],
    "reduced_chi2": lambda t, m, s: [
        np.sum((m - np.average(m, weights=s**-2)) ** 2 * s**-2) / (len(m) - 1)],
    "roms": lambda t, m, s: [
        np.sum(np.abs(m - np.median(m)) / s) / (len(m) - 1)],
    "cusum": lambda t, m, s: [
        np.ptp(np.cumsum(m - m.mean()) / (len(m) * m.std(ddof=1)))],
    "eta": lambda t, m, s: [
        np.sum(np.diff(m) ** 2) / ((len(m) - 1) * np.var(m, ddof=1))],
    "eta_e": lambda t, m, s: [
        np.sum((np.diff(m) / np.diff(t)) ** 2) * (t[-1] - t[0]) ** 2
        / ((len(m) - 1) ** 3 * np.var(m, ddof=1))],
    "maximum_slope": lambda t, m, s: [np.abs(np.diff(m) / np.diff(t)).max()],
    "lafler_kinman_string_length": lambda t, m, s: [
        np.sum(np.diff(m) ** 2) / np.sum((m - m.mean()) ** 2)],
    "kurtosis": lambda t, m, s: [
        (len(m) * (len(m) + 1) * np.sum((m - m.mean()) ** 4))
        / ((len(m) - 1) * (len(m) - 2) * (len(m) - 3) * m.std(ddof=1) ** 4)
        - 3 * (len(m) - 1) ** 2 / ((len(m) - 2) * (len(m) - 3))],
    "peak_to_peak_var": lambda t, m, s: [
        ((m - s).max() - (m + s).min()) / ((m - s).max() + (m + s).min())],
}


@pytest.mark.parametrize("key", sorted(NAIVE))
def test_kernel_vs_naive(key, curve):
    t, m, s = curve
    got = evaluate_kernel(make_kernel(key), t, m, s, fill_value=None)
    np.testing.assert_allclose(got, NAIVE[key](t, m, s), rtol=RTOL)


def test_skew_unbiased(curve):
    """G1 per scipy.stats.skew(bias=False) definition."""
    t, m, s = curve
    n = len(m)
    d = m - m.mean()
    g1 = np.mean(d**3) / np.mean(d**2) ** 1.5
    want = g1 * math.sqrt(n * (n - 1)) / (n - 2)
    got = evaluate_kernel(make_kernel("skew"), t, m, s, fill_value=None)
    np.testing.assert_allclose(got, [want], rtol=RTOL)


def test_linear_fit_vs_lstsq(curve):
    t, m, s = curve
    slope, _, chi2 = naive_lstsq_weighted(t, m, s)
    n = len(t)
    wt2 = np.average(t**2, weights=s**-2)
    wt = np.average(t, weights=s**-2) ** 2
    want = [slope, np.sqrt(1 / ((wt2 - wt) * np.sum(s**-2))), chi2 / (n - 2)]
    got = evaluate_kernel(make_kernel("linear_fit"), t, m, s, fill_value=None)
    np.testing.assert_allclose(got, want, rtol=RTOL)


def test_linear_trend_vs_lstsq(curve):
    t, m, s = curve
    slope, _, chi2 = naive_lstsq_weighted(t, m, None)
    n = len(t)
    red = chi2 / (n - 2)
    sxx = np.var(t, ddof=n - 1)
    want = [slope, np.sqrt(red / sxx), np.sqrt(red)]
    got = evaluate_kernel(make_kernel("linear_trend"), t, m, s, fill_value=None)
    np.testing.assert_allclose(got, want, rtol=RTOL)


def test_otsu_split_naive(curve):
    """Brute-force Otsu: try every split, maximize w0*w1*(mean0-mean1)^2."""
    t, m, s = curve
    ms = np.sort(m)
    n = len(ms)
    best, arg = -np.inf, -1
    for i in range(1, n):
        w0, w1 = i / n, 1 - i / n
        icv = w0 * w1 * (ms[:i].mean() - ms[i:].mean()) ** 2
        if icv > best:
            best, arg = icv, i
    want = [ms[arg:].mean() - ms[:arg].mean(),
            ms[:arg].std(ddof=1) if arg > 1 else 0.0,
            ms[arg:].std(ddof=1) if n - arg > 1 else 0.0,
            arg / n]
    got = evaluate_kernel(make_kernel("otsu_split"), t, m, s, fill_value=None)
    np.testing.assert_allclose(got, want, rtol=RTOL)
    assert otsu_threshold(m) == pytest.approx(ms[arg], rel=1e-12)


def test_anderson_darling_known():
    """A2 for a hand-checked small sample, via direct formula with normal CDF."""
    m = np.array([1.0, 2.0, 3.0, 4.0, 10.0])
    n = len(m)
    y = np.sort(m)
    z = (y - y.mean()) / y.std(ddof=1)
    cdf = np.array([0.5 * math.erfc(-v / math.sqrt(2)) for v in z])
    i = np.arange(1, n + 1)
    a2 = -n - np.sum((2 * i - 1) / n * (np.log(cdf) + np.log(1 - cdf[::-1])))
    want = a2 * (1 + 4 / n - 25 / n**2)
    got = evaluate_kernel(make_kernel("anderson_darling_normal"),
                          np.arange(n, dtype=float), m, None, fill_value=None)
    np.testing.assert_allclose(got, [want], rtol=1e-10)


# --- analytic fixtures (ported from the reference's own unit tests) ---------

def test_stetson_k_sine():
    """StetsonK(sine, unit sigma) -> sqrt(8)/pi
    (tests/light_curve_py/features/test_stetsonk.py:8-16)."""
    n = 10000
    t = np.linspace(0, 2 * np.pi, n)
    m = np.sin(t)
    s = np.ones(n)
    got = evaluate_kernel(make_kernel("stetson_k"), t, m, s, fill_value=None)
    assert got[0] == pytest.approx(math.sqrt(8) / math.pi, rel=3e-4)


def test_stetson_k_sawtooth():
    """StetsonK(sawtooth) -> sqrt(12)/4."""
    n = 10000
    t = np.linspace(0, 1, n)
    m = t % 1.0
    s = np.ones(n)
    got = evaluate_kernel(make_kernel("stetson_k"), t, m, s, fill_value=None)
    assert got[0] == pytest.approx(math.sqrt(12) / 4, rel=3e-4)


def test_maximum_slope_fixture():
    """MaximumSlope([1,4,3,8],[2,15,4,3] sorted by t) == 11.0
    (tests/light_curve_py/test_call.py:6-13)."""
    t = np.array([1.0, 4, 3, 8])
    m = np.array([2.0, 15, 4, 3])
    idx = np.argsort(t)
    got = evaluate_kernel(make_kernel("maximum_slope"), t[idx], m[idx], None,
                          fill_value=None)
    assert got[0] == pytest.approx(11.0)


def test_fill_value_semantics():
    """Errors / non-finite outputs -> fill_value; None -> raise
    (features/_base.py:28-43)."""
    k = make_kernel("maximum_slope")
    # duplicate t => division by zero => inf => fill
    t = np.array([1.0, 1.0, 2.0])
    m = np.array([1.0, 2.0, 3.0])
    out = evaluate_kernel(k, t, m, None, fill_value=-99.0)
    assert out[0] == -99.0
    with pytest.raises(ValueError):
        evaluate_kernel(k, t, m, None, fill_value=None)
    # min_obs violation
    lf = make_kernel("linear_fit")
    out = evaluate_kernel(lf, t[:2], m[:2], np.ones(2), fill_value=0.0)
    assert np.all(out == 0.0)


def test_detection_counters():
    t = np.arange(6, dtype=float)
    m = np.array([1.0, 2.0, 30.0, 1.0, 40.0, 2.0])
    s = np.ones(6)
    k = make_kernel("flux_n_not_det_before_fd", signal_to_noise=5.0)
    assert evaluate_kernel(k, t, m, s, None)[0] == 2.0
    ks = make_kernel("flux_n_not_det_before_fd", signal_to_noise=5.0,
                     strictly_fainter=True)
    # upper limits before first detection: 5, 5 -> both < 30 -> 2
    assert evaluate_kernel(ks, t, m, s, None)[0] == 2.0
    sig = np.array([np.inf, np.inf, 1.0, 1.0, 1.0, 1.0])
    km = make_kernel("magnitude_n_not_det_before_fd")
    assert evaluate_kernel(km, t, m, sig, None)[0] == 2.0


# --- periodogram -------------------------------------------------------------

def naive_lombscargle(t, y, freqs):
    """Textbook per-frequency Lomb periodogram (scipy.signal.lombscargle
    semantics, precenter=True, normalize=False)."""
    y = y - y.mean()
    out = np.empty(len(freqs))
    for i, w in enumerate(freqs):
        tau = np.arctan2(np.sum(np.sin(2 * w * t)),
                         np.sum(np.cos(2 * w * t))) / (2 * w)
        c = np.cos(w * (t - tau))
        s = np.sin(w * (t - tau))
        out[i] = 0.5 * ((np.sum(y * c)) ** 2 / np.sum(c * c)
                        + (np.sum(y * s)) ** 2 / np.sum(s * s))
    return out


def test_lomb_scargle_vs_naive():
    """Pins 'psd' semantics the way the reference pins them to scipy
    (tests/light_curve_ext/test_periodogram.py:10-30)."""
    rng = np.random.default_rng(0)
    t = np.sort(rng.normal(0, 1, 100))
    m = np.sin(12.3 * t) + 0.2 * rng.normal(size=100)
    freqs = np.linspace(0.5, 30, 300)
    y = (m - m.mean()) / m.std(ddof=1)
    np.testing.assert_allclose(lomb_scargle_power(t, y, freqs),
                               naive_lombscargle(t, y, freqs), rtol=1e-9)


def test_periodogram_finds_injected_period():
    rng = np.random.default_rng(1)
    period = 7.0
    t = np.sort(rng.uniform(0, 200, 500))
    m = np.sin(2 * np.pi / period * t) + 0.05 * rng.normal(size=500)
    k = make_kernel("periodogram", peaks=1, max_freq_factor=2.0)
    out = evaluate_kernel(k, t, m, None, fill_value=None)
    assert out[0] == pytest.approx(period, rel=0.01)
    assert out[1] > 5  # strong S/N


def test_periodogram_normalizations():
    rng = np.random.default_rng(2)
    t = np.sort(rng.uniform(0, 100, 200))
    m = np.sin(t) + 0.1 * rng.normal(size=200)
    freqs, psd = periodogram_power(t, m, normalization="psd")
    _, std = periodogram_power(t, m, normalization="standard", freqs=freqs)
    _, model = periodogram_power(t, m, normalization="model", freqs=freqs)
    _, lg = periodogram_power(t, m, normalization="log", freqs=freqs)
    n = 200
    np.testing.assert_allclose(std, psd * 2 / (n - 1), rtol=1e-12)
    np.testing.assert_allclose(model, std / (1 - std), rtol=1e-12)
    np.testing.assert_allclose(lg, -np.log(1 - std), rtol=1e-12)


def test_evaluate_many_concats(curve):
    t, m, s = curve
    ks = [make_kernel("amplitude"), make_kernel("linear_fit"),
          make_kernel("otsu_split")]
    out = evaluate_many(ks, t, m, s)
    assert out.shape == (8,)
    np.testing.assert_allclose(
        out[:1], evaluate_kernel(ks[0], t, m, s), rtol=1e-15)


def test_all_registry_keys_instantiate(curve):
    t, m, s = curve
    for key in KERNEL_FACTORIES:
        if key == "rainbow_fit":
            # requires band_wave_cm (and the band column; evaluated via
            # operators.spectral.rainbow_fit) — covered in test_fits.py
            continue
        k = make_kernel(key)
        out = evaluate_kernel(k, t, m, s, fill_value=np.nan)
        assert out.shape == (k.size,)
        assert len(k.names) == k.size


def test_single_kernel_equals_fused_block(curve):
    """Every kernel has one formula: evaluating it alone gives, bit for
    bit, its block of the fused battery — on the random curve, a
    constant-m curve (zero-variance fills) and a 3-point curve (min_obs
    fills)."""
    import light_curve_python_spark.functions.fits  # noqa: F401 (registers)
    t, m, s = curve
    ks = [make_kernel(k) for k in KERNEL_FACTORIES if k != "rainbow_fit"]
    for tt, mm, ss in [(t, m, s), (t, np.full_like(m, 18.5), s),
                       (t[:3], m[:3], s[:3])]:
        fused = evaluate_many(ks, tt, mm, ss)
        col = 0
        for k in ks:
            alone = evaluate_kernel(k, tt, mm, ss)
            np.testing.assert_array_equal(
                alone.view(np.uint64),
                fused[col:col + k.size].view(np.uint64), err_msg=k.key)
            col += k.size


def _kernel_digest_script():
    import importlib.util
    import os
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "kernel_digest.py")
    spec = importlib.util.spec_from_file_location("kernel_digest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_registry_kernels_pickle_by_name(curve):
    """A make_kernel kernel pickles as its registry call: a full-battery
    extractor ships in a few hundred bytes per plan instead of every
    kernel closure, and the rebuilt kernels (the digest script's set plus
    a lazily registered fit) give bit-identical ``evaluate_many``
    output."""
    import pickle

    import cloudpickle

    from light_curve_python_spark.operators.extract import FeatureExtractor
    digest = _kernel_digest_script()
    assert len(cloudpickle.dumps(FeatureExtractor(digest.BATTERY))) < 4096
    t, m, s = curve
    ks = digest.kernels(make_kernel) + [make_kernel("bazin_fit",
                                                    max_iter=20)]
    back = pickle.loads(cloudpickle.dumps(ks))
    assert [k._spec for k in back] == [k._spec for k in ks]
    for tt, mm, ss in [(t, m, s), (t[:3], m[:3], s[:3])]:
        np.testing.assert_array_equal(
            evaluate_many(back, tt, mm, ss).view(np.uint64),
            evaluate_many(ks, tt, mm, ss).view(np.uint64))


def test_derived_kernels_pickle_by_value(curve):
    """A hand-built kernel, or one derived with ``dataclasses.replace``,
    has no registry recipe: it pickles by value, keeps its own fields and
    still evaluates."""
    import dataclasses
    import pickle

    import cloudpickle

    from light_curve_python_spark.functions.kernels import Kernel
    t, m, s = curve
    hand = Kernel(key="span", names=("span",),
                  func=lambda c: np.array([c.m.max() - c.m.min()]))
    derived = dataclasses.replace(make_kernel("beyond_n_std", nstd=2.0),
                                  min_obs=5)
    for k in (hand, derived):
        back = pickle.loads(cloudpickle.dumps(k))
        assert back._spec is None and back.min_obs == k.min_obs
        np.testing.assert_array_equal(evaluate_kernel(back, t, m, s),
                                      evaluate_kernel(k, t, m, s))
        assert np.isnan(evaluate_kernel(back, t[:4], m[:4], s[:4])).all() \
            == (k is derived)


def test_fast_periodogram_matches_direct():
    """Press-Rybicki FFT path vs the direct evaluator on the reference's
    grid classes (auto nyquist grids at several resolutions and an explicit
    zero-based 2**k + 1 grid): <= 1e-4 relative everywhere."""
    from light_curve_python_spark.functions.fastperiodogram import (
        lomb_scargle_power_fast)
    rng = np.random.default_rng(11)
    for n, res, mff in [(60, 10.0, 1.0), (500, 10.0, 2.0), (211, 7.0, 1.0)]:
        t = np.sort(rng.uniform(0, 150.0, n))
        m = np.sin(0.83 * t) + 0.3 * rng.normal(size=n)
        f_direct, p_direct = periodogram_power(t, m, resolution=res,
                                               max_freq_factor=mff)
        f_fast, p_fast = periodogram_power(t, m, resolution=res,
                                           max_freq_factor=mff, fast=True)
        np.testing.assert_array_equal(f_direct, f_fast)
        np.testing.assert_allclose(p_fast, p_direct, rtol=1e-4,
                                   atol=1e-7 * p_direct.max())
        # the raw evaluator agrees with lomb_scargle_power on centered y
        y = (m - m.mean()) / m.std(ddof=1)
        np.testing.assert_allclose(
            lomb_scargle_power_fast(t, y, f_direct[0], len(f_direct)),
            lomb_scargle_power(t, y, f_direct), rtol=1e-4,
            atol=1e-7 * p_direct.max())


def test_fast_periodogram_explicit_grid_contract():
    """freqs= + fast follows the reference's validation
    (src/features.rs:4348-4400): zero-based, 2**k + 1, linear."""
    rng = np.random.default_rng(12)
    t = np.sort(rng.uniform(0, 100.0, 80))
    m = np.sin(1.7 * t) + 0.2 * rng.normal(size=80)
    good = np.linspace(0.0, 8.0, 2 ** 7 + 1)
    f, p_fast = periodogram_power(t, m, freqs=good, fast=True)
    assert p_fast[0] == 0.0
    _, p_direct = periodogram_power(t, m, freqs=good)   # zero handled too
    assert p_direct[0] == 0.0
    np.testing.assert_allclose(p_fast[1:], p_direct[1:], rtol=1e-4,
                               atol=1e-7 * p_direct.max())
    with pytest.raises(ValueError, match="freqs\\[0\\] must equal 0"):
        periodogram_power(t, m, freqs=np.linspace(0.1, 8, 129), fast=True)
    with pytest.raises(ValueError, match="power of"):
        periodogram_power(t, m, freqs=np.linspace(0.0, 8, 100), fast=True)
    with pytest.raises(ValueError, match="linear"):
        periodogram_power(t, m, freqs=np.r_[0.0, np.logspace(-1, 1, 128)],
                          fast=True)
    # the kernel factory validates eagerly and exposes freqs=
    with pytest.raises(ValueError):
        make_kernel("periodogram", freqs=(0.1, 0.2, 0.3), fast=True)
    k = make_kernel("periodogram", freqs=tuple(good), fast=True)
    out = evaluate_kernel(k, t, m, None, fill_value=None)
    assert out[0] == pytest.approx(2 * np.pi / 1.7, rel=0.05)


def test_periodogram_kernel_fast_default_matches_exact():
    """The kernel factory defaults to fast=True (the reference default);
    peak period/S-to-N agree with the exact evaluator to float accuracy of
    the approximation."""
    rng = np.random.default_rng(13)
    t = np.sort(rng.uniform(0, 200, 400))
    m = np.sin(2 * np.pi / 7.0 * t) + 0.05 * rng.normal(size=400)
    k_fast = make_kernel("periodogram", peaks=2, max_freq_factor=2.0)
    k_exact = make_kernel("periodogram", peaks=2, max_freq_factor=2.0,
                          fast=False)
    assert k_fast.params["fast"] is True
    out_f = evaluate_kernel(k_fast, t, m, None, fill_value=None)
    out_e = evaluate_kernel(k_exact, t, m, None, fill_value=None)
    np.testing.assert_allclose(out_f, out_e, rtol=1e-3)
    assert out_f[0] == pytest.approx(7.0, rel=0.01)


def test_review_fixes_periodogram_edges():
    """Round-4 kernels review regressions: degenerate fast grids are
    rejected (NaN-inverted check); freqs needs >= 2 values regardless of
    fast; list freqs coerces; sigma-requiring spectrum sub-features
    compute with unit weights instead of nuking the output."""
    import numpy as np
    import pytest

    from light_curve_python_spark.functions.kernels import (
        evaluate_kernel,
        lomb_scargle_power,
        make_kernel,
        periodogram_power,
    )
    rng = np.random.default_rng(5)
    t = np.sort(rng.uniform(0, 100, 80))
    m = np.sin(2 * np.pi * t / 7.0) + 0.1 * rng.standard_normal(80)
    s = np.full(80, 0.1)

    with pytest.raises(ValueError, match="linear grid"):
        periodogram_power(t, m, freqs=np.zeros(5), fast=True)
    with pytest.raises(ValueError, match="two values"):
        make_kernel("periodogram", freqs=[5.0], fast=False)
    # list freqs works like an array
    got = lomb_scargle_power(t, m - m.mean(), [1.0, 2.0])
    want = lomb_scargle_power(t, m - m.mean(), np.array([1.0, 2.0]))
    np.testing.assert_allclose(got, want)

    k = make_kernel("periodogram",
                    features=("stetson_k", "standard_deviation"))
    out = evaluate_kernel(k, t, m, s)
    assert np.isfinite(out).all()          # was all-NaN before the fix
