"""Vectorized numpy feature kernels — the executable spec of every reference
feature, re-implemented from the published formulas.

Each kernel is ONE pure function ``WindowContext -> np.ndarray[size]`` over
one entity's time-sorted observation window.  The context computes the
shared intermediates (sort, diffs, moments, weights) lazily and once, so a
battery evaluated by ``evaluate_many`` pays for each of them once — the
reference's Extractor fusion (features/extractor.py:36-41).  Kernels with no
shared intermediates (periodogram, detection counters, model fits) wrap a
``(t, m, sigma)`` function with ``on_arrays``.  Executor-side the kernels run
inside the ``mapInArrow`` / ``applyInArrow`` callbacks of
``operators/grouped.py`` and ``operators/extract.py``; they are the Spark
analogue of the reference's per-curve evaluators.

Formula citations (reference = the light-curve repository):
 - pure-Python formulas under ``light_curve/light_curve_py/features/`` are the
   semantic ground truth (the reference itself asserts Rust ≈ pure-Python in
   ``tests/test_w_bench.py:179-184``);
 - quantiles use Hazen plotting positions, matching
   ``scipy.stats.mstats.mquantiles(..., alphap=0.5, betap=0.5)``
   (``features/intpercrange.py:17-19``);
 - fill_value semantics mirror ``features/_base.py:32-43``: on
   ValueError/ZeroDivisionError/RuntimeError or non-finite output, return a
   vector of ``fill_value`` (or raise if None);
 - ddof=1 everywhere the reference uses it (e.g. ``features/stdev.py:9``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Sequence, Tuple

import numpy as np

from .special import chi2_sf, hazen_quantile, ndtr

__all__ = [
    "Kernel",
    "KERNEL_FACTORIES",
    "WindowContext",
    "make_kernel",
    "on_arrays",
    "default_kernels",
    "evaluate_kernel",
    "evaluate_many",
]


class WindowContext:
    """One window's arrays plus its shared intermediates, each computed
    lazily ONCE and reused by every kernel of a battery — the engine's
    analogue of the reference's Extractor single-pass fusion
    (features/extractor.py:36-41).  Every ``Kernel.func`` takes one;
    ``evaluate_many`` shares one across its kernels and ``evaluate_kernel``
    builds one when the caller passes none."""

    __slots__ = ("t", "m", "sigma", "_cache")

    def __init__(self, t, m, sigma):
        self.t = t
        self.m = m
        self.sigma = sigma
        self._cache = {}

    def _get(self, key, fn):
        v = self._cache.get(key)
        if v is None:
            v = fn()
            self._cache[key] = v
        return v

    @property
    def n(self):
        return len(self.m)

    @property
    def sorted_m(self):
        return self._get("sorted_m", lambda: np.sort(self.m))

    @property
    def mean(self):
        return self._get("mean", lambda: float(np.mean(self.m)))

    @property
    def centered(self):
        return self._get("centered", lambda: self.m - self.mean)

    @property
    def var1(self):
        """ddof=1 variance."""
        return self._get("var1", lambda: float(
            np.dot(self.centered, self.centered) / (self.n - 1))
            if self.n > 1 else float("nan"))

    @property
    def std1(self):
        return self._get("std1", lambda: math.sqrt(self.var1))

    @property
    def median(self):
        return self._get("median", lambda: _sorted_median(self.sorted_m))

    @property
    def diff_m(self):
        return self._get("diff_m", lambda: np.diff(self.m))

    @property
    def diff_t(self):
        return self._get("diff_t", lambda: np.diff(self.t))

    @property
    def w(self):
        return self._get("w", lambda: self.sigma ** -2.0)

    @property
    def wsum(self):
        return self._get("wsum", lambda: float(np.sum(self.w)))

    @property
    def wmean(self):
        return self._get("wmean", lambda: float(
            np.dot(self.m, self.w) / self.wsum))

    @property
    def resid(self):
        """(m - wmean) / sigma."""
        return self._get("resid",
                         lambda: (self.m - self.wmean) / self.sigma)

    def hazen(self, qs):
        return _hazen_sorted(self.sorted_m, qs)


def _sorted_median(sm: np.ndarray) -> float:
    n = len(sm)
    mid = n // 2
    return float(sm[mid]) if n % 2 else float(0.5 * (sm[mid - 1] + sm[mid]))


def _hazen_sorted(sm: np.ndarray, qs) -> np.ndarray:
    n = len(sm)
    q = np.asarray(qs, dtype=np.float64)
    pos = np.clip(q * n + 0.5 - 1.0, 0.0, n - 1.0)
    lo = np.floor(pos).astype(np.int64)
    hi = np.minimum(lo + 1, n - 1)
    g = pos - lo
    return (1.0 - g) * sm[lo] + g * sm[hi]


@dataclass(frozen=True)
class Kernel:
    """One feature extractor: a pure function of a sorted window's
    ``WindowContext``.

    A kernel built by :func:`make_kernel` pickles as that call, by
    registry key and arguments: its ``func`` is a closure that cloudpickle
    would otherwise ship by value (a full battery is ~14 KB per plan), and
    the factories are deterministic, so the rebuilt kernel is the same
    function.  A kernel constructed directly, or derived with
    ``dataclasses.replace``, has no such recipe and pickles by value."""

    key: str                      # canonical registry key, e.g. "beyond_n_std"
    names: Tuple[str, ...]        # output column names (len == size)
    func: Callable[[WindowContext], np.ndarray]
    min_obs: int = 1
    needs_sigma: bool = False
    needs_t: bool = True          # False => column pruning may drop t
    params: dict = field(default_factory=dict)
    # (key, kwargs) of the make_kernel call that built this kernel; not an
    # init field, so dataclasses.replace leaves a derived kernel without it
    _spec: Optional[tuple] = field(default=None, init=False, repr=False,
                                   compare=False)

    @property
    def size(self) -> int:
        return len(self.names)

    def __reduce_ex__(self, protocol):
        if self._spec is None:
            return super().__reduce_ex__(protocol)
        return _kernel_from_spec, self._spec


def on_arrays(fn) -> Callable[[WindowContext], np.ndarray]:
    """``Kernel.func`` for a ``(t, m, sigma)`` function that uses none of
    the context's shared intermediates."""
    return lambda c: fn(c.t, c.m, c.sigma)


# registry of factories: key -> callable(**params) -> Kernel
KERNEL_FACTORIES: Dict[str, Callable[..., Kernel]] = {}


def _register(key: str):
    def deco(factory: Callable[..., Kernel]):
        KERNEL_FACTORIES[key] = factory
        return factory
    return deco


def ensure_lazy_factories(key: str) -> None:
    """fit/rainbow factories register on module import (they import this
    module, so they can't be imported eagerly here)."""
    if key not in KERNEL_FACTORIES:
        import importlib
        for mod in ("fits", "rainbow"):
            importlib.import_module(f"{__package__}.{mod}")


def make_kernel(key: str, **params) -> Kernel:
    ensure_lazy_factories(key)
    if key not in KERNEL_FACTORIES:
        raise ValueError(f"unknown feature: {key}")
    kernel = KERNEL_FACTORIES[key](**params)
    object.__setattr__(kernel, "_spec", (key, params))
    return kernel


def _kernel_from_spec(key: str, params: dict) -> Kernel:
    """Unpickle a registry kernel (see ``Kernel.__reduce_ex__``)."""
    return make_kernel(key, **params)


# --------------------------------------------------------------------------
# simple moments & order statistics
# --------------------------------------------------------------------------

def _simple(key, name, fn, *, min_obs=1, needs_sigma=False, needs_t=True):
    @_register(key)
    def factory() -> Kernel:
        return Kernel(key=key, names=(name,), func=fn, min_obs=min_obs,
                      needs_sigma=needs_sigma, needs_t=needs_t)
    return factory


# features/amplitude.py:7-9
_simple("amplitude", "amplitude",
        lambda c: np.array([0.5 * (c.sorted_m[-1] - c.sorted_m[0])]),
        needs_t=False)
# features/mean.py:7-9
_simple("mean", "mean", lambda c: np.array([c.mean]), needs_t=False)
# features/median.py:7-9
_simple("median", "median", lambda c: np.array([c.median]), needs_t=False)
# features/stdev.py:7-9 (ddof=1)
_simple("standard_deviation", "standard_deviation",
        lambda c: np.array([c.std1]), min_obs=2, needs_t=False)
# features/meanvar.py:7-9
_simple("mean_variance", "mean_variance",
        lambda c: np.array([c.std1 / c.mean]), min_obs=2, needs_t=False)
# features/medabsdev.py:7-9
_simple("median_absolute_deviation", "median_absolute_deviation",
        lambda c: np.array([np.median(np.abs(c.m - c.median))]),
        needs_t=False)
# features/weightmean.py:7-9
_simple("weighted_mean", "weighted_mean", lambda c: np.array([c.wmean]),
        needs_sigma=True, needs_t=False)
# features/percampl.py:7-10
_simple("percent_amplitude", "percent_amplitude",
        lambda c: np.array(
            [max(c.sorted_m[-1] - c.median, c.median - c.sorted_m[0])]),
        needs_t=False)
# reference Rust-only: observation count / duration / time stats
# (src/features.rs:4919-4923, :4905, :4998-5004)
_simple("observation_count", "observation_count",
        lambda c: np.array([float(c.n)]), needs_t=False)
_simple("duration", "duration", lambda c: np.array([c.t[-1] - c.t[0]]))
_simple("time_mean", "time_mean", lambda c: np.array([np.mean(c.t)]))
_simple("time_standard_deviation", "time_standard_deviation",
        lambda c: np.array([np.std(c.t, ddof=1)]), min_obs=2)
_simple("maximum_time_interval", "maximum_time_interval",
        lambda c: np.array([c.diff_t.max()]), min_obs=2)
_simple("minimum_time_interval", "minimum_time_interval",
        lambda c: np.array([c.diff_t.min()]), min_obs=2)


# features/kurtosis.py:7-15 — unbiased G2 with the -3 offset
def _kurtosis(c):
    n = c.n
    return np.array([(n * (n + 1) * float(np.sum(c.centered ** 4)))
                     / ((n - 1) * (n - 2) * (n - 3) * c.var1 ** 2)
                     - 3 * (n - 1) ** 2 / ((n - 2) * (n - 3))])


_simple("kurtosis", "kurtosis", _kurtosis, min_obs=4, needs_t=False)


# features/skew.py:5-11 — scipy.stats.skew(m, bias=False):
# G1 = g1 * sqrt(n(n-1)) / (n-2), g1 = m3 / m2^1.5 (population moments)
def _skew(c):
    n = c.n
    return np.array([(float(np.sum(c.centered ** 3)) / n)
                     / (float(np.dot(c.centered, c.centered)) / n) ** 1.5
                     * math.sqrt(n * (n - 1)) / (n - 2)])


_simple("skew", "skew", _skew, min_obs=3, needs_t=False)


# --------------------------------------------------------------------------
# quantile family (Hazen / mquantiles alphap=betap=0.5)
# --------------------------------------------------------------------------

@_register("inter_percentile_range")
def _ipr(quantile: float = 0.25) -> Kernel:
    # features/intpercrange.py:11-20
    return Kernel(key="inter_percentile_range",
                  names=(f"inter_percentile_range_{quantile:g}",),
                  func=lambda c: np.diff(c.hazen([quantile, 1 - quantile])),
                  params={"quantile": quantile}, needs_t=False)


@_register("percent_difference_magnitude_percentile")
def _pdmp(quantile: float = 0.25) -> Kernel:
    # features/pdiffmperc.py:13-24
    return Kernel(key="percent_difference_magnitude_percentile",
                  names=(f"percent_difference_magnitude_percentile_{quantile:g}",),
                  func=lambda c: np.diff(
                      c.hazen([quantile, 1 - quantile])) / c.median,
                  params={"quantile": quantile}, needs_t=False)


@_register("magnitude_percentage_ratio")
def _mpr(quantile_numerator: float = 0.4,
         quantile_denominator: float = 0.05) -> Kernel:
    # features/magnpratio.py:12-24
    qn, qd = quantile_numerator, quantile_denominator
    def fn(c):
        return np.array([float(np.diff(c.hazen([qn, 1 - qn]))[0])
                         / float(np.diff(c.hazen([qd, 1 - qd]))[0])])
    return Kernel(key="magnitude_percentage_ratio",
                  names=(f"magnitude_percentage_ratio_{qn:g}_{qd:g}",),
                  func=fn, params={"quantile_numerator": qn,
                                   "quantile_denominator": qd}, needs_t=False)


@_register("median_buffer_range_percentage")
def _mbrp(quantile: float = 0.1) -> Kernel:
    # features/medbufrperc.py:13-18
    def fn(c):
        width = quantile * (c.sorted_m[-1] - c.sorted_m[0]) / 2
        return np.array([np.count_nonzero(np.abs(c.median - c.m) < width)
                         / c.n])
    return Kernel(key="median_buffer_range_percentage",
                  names=(f"median_buffer_range_percentage_{quantile:g}",),
                  func=fn, params={"quantile": quantile}, needs_t=False)


# --------------------------------------------------------------------------
# dispersion / variability indices
# --------------------------------------------------------------------------

@_register("beyond_n_std")
def _beyond(nstd: float = 1.0) -> Kernel:
    # features/beyondnstd.py:12-16
    return Kernel(key="beyond_n_std", names=(f"beyond_{nstd:g}_std",),
                  func=lambda c: np.array(
                      [np.count_nonzero(np.abs(c.centered) > nstd * c.std1)
                       / c.n]),
                  min_obs=2, params={"nstd": nstd}, needs_t=False)


# features/stetsonk.py:7-12
_simple("stetson_k", "stetson_k",
        lambda c: np.array([float(np.sum(np.abs(c.resid)))
                            / math.sqrt(c.n * float(np.dot(c.resid,
                                                           c.resid)))]),
        min_obs=2, needs_sigma=True, needs_t=False)
# features/excvar.py:7-12
_simple("excess_variance", "excess_variance",
        lambda c: np.array(
            [(c.var1 - float(np.mean(c.sigma ** 2))) / c.mean ** 2]),
        min_obs=2, needs_sigma=True, needs_t=False)
# features/redchi2.py:7-13
_simple("reduced_chi2", "reduced_chi2",
        lambda c: np.array([float(np.dot(c.resid, c.resid)) / (c.n - 1)]),
        min_obs=2, needs_sigma=True, needs_t=False)
# p-value of the chi2 variability test: sf(sum(((m-wmean)/sigma)^2), n-1).
# Rust-only feature (src/features.rs:3663); formula per the chi-squared
# variability test the reference documents for it.
_simple("chi2_pvar", "chi2_pvar",
        lambda c: np.array(
            [float(chi2_sf(float(np.dot(c.resid, c.resid)), c.n - 1))]),
        min_obs=2, needs_sigma=True, needs_t=False)
# features/roms.py:21-25
_simple("roms", "roms",
        lambda c: np.array(
            [float(np.sum(np.abs(c.m - c.median) / c.sigma)) / (c.n - 1)]),
        min_obs=2, needs_sigma=True, needs_t=False)
# features/cusum.py:7-12
_simple("cusum", "cusum",
        lambda c: np.array(
            [float(np.ptp(np.cumsum(c.centered))) / (c.n * c.std1)]),
        min_obs=2, needs_t=False)
# features/eta.py:7-11 (py declares size 2 by a bug; value is scalar, Rust
# size is 1 — we follow Rust)
_simple("eta", "eta",
        lambda c: np.array(
            [float(np.dot(c.diff_m, c.diff_m)) / ((c.n - 1) * c.var1)]),
        min_obs=2, needs_t=False)
# features/etae.py:7-12
_simple("eta_e", "eta_e",
        lambda c: np.array([float(np.sum((c.diff_m / c.diff_t) ** 2))
                            * (c.t[-1] - c.t[0]) ** 2
                            / ((c.n - 1) ** 3 * c.var1)]),
        min_obs=2)
# features/maxslope.py:7-11
_simple("maximum_slope", "maximum_slope",
        lambda c: np.array([float(np.max(np.abs(c.diff_m / c.diff_t)))]),
        min_obs=2)


@_register("peak_to_peak_var")
def _ptp_var(nstd: float = 1.0) -> Kernel:
    # features/ptp_var.py:25-30 — m must be non-negative flux
    def fn(t, m, s):
        if np.any(m < 0):
            raise ValueError("m must be non-negative")
        a = np.max(m - nstd * s)
        b = np.min(m + nstd * s)
        return np.array([(a - b) / (a + b)])
    return Kernel(key="peak_to_peak_var", names=("peak_to_peak_var",),
                  func=on_arrays(fn), min_obs=2, needs_sigma=True,
                  needs_t=False, params={"nstd": nstd})


def _anderson_darling_normal(c):
    """features/adnormal.py:5-13 — scipy.stats.anderson(m).statistic with the
    (1 + 4/n - 25/n^2) finite-sample factor.  scipy standardizes with
    mean / std(ddof=1) and uses A2 = -n - mean((2i-1) * (logΦ(y_i) +
    log(1-Φ(y_{n+1-i}))))."""
    n = c.n
    if c.std1 == 0:
        raise ValueError("zero variance")
    z = (c.sorted_m - c.mean) / c.std1
    cdf = ndtr(z)
    # clip to avoid log(0) for extreme tails (scipy relies on log cdf accuracy)
    eps = np.finfo(np.float64).tiny
    logcdf = np.log(np.clip(cdf, eps, None))
    logsf = np.log(np.clip(1.0 - cdf, eps, None))
    i = np.arange(1, n + 1)
    a2 = -n - np.sum((2 * i - 1.0) / n * (logcdf + logsf[::-1]))
    return np.array([a2 * (1 + 4.0 / n - 25.0 / n ** 2)])


_simple("anderson_darling_normal", "anderson_darling_normal",
        _anderson_darling_normal, min_obs=4, needs_t=False)
# Lafler–Kinman string length (Rust-only, src/features.rs:3902-3906):
# sum(diff(m)^2) / sum((m - mean)^2) over the time-sorted series
_simple("lafler_kinman_string_length", "lafler_kinman_string_length",
        lambda c: np.array([float(np.dot(c.diff_m, c.diff_m))
                            / float(np.dot(c.centered, c.centered))]),
        min_obs=2, needs_t=False)


# --------------------------------------------------------------------------
# ordinary least squares (north-rule targets)
# --------------------------------------------------------------------------

def _linear_fit(c):
    """features/linfit.py:8-21 — weighted OLS of m on [t, 1], weights 1/sigma.

    Closed form matching np.linalg.lstsq on the sigma-scaled design
    (features/_lstsq.py:4-16): rows of A=[t,1] and m are divided by sigma.
    """
    n = c.n
    if n < 3:
        raise ValueError("need >= 3 points")
    w, t, m = c.w, c.t, c.m
    S = c.wsum
    wt = w * t
    St = float(np.sum(wt))
    Sm = float(np.dot(w, m))
    Stt = float(np.dot(wt, t))
    Stm = float(np.dot(wt, m))
    Smm = float(np.dot(w * m, m))
    denom = S * Stt - St * St
    slope = (S * Stm - St * Sm) / denom
    intercept = (Sm - slope * St) / S
    chi2 = Smm - intercept * Sm - slope * Stm  # residual identity for OLS
    return np.array([slope,
                     math.sqrt(1.0 / ((Stt / S - (St / S) ** 2) * S)),
                     chi2 / (n - 2)])


@_register("linear_fit")
def _linear_fit_factory() -> Kernel:
    return Kernel(key="linear_fit",
                  names=("linear_fit_slope", "linear_fit_slope_sigma",
                         "linear_fit_reduced_chi2"),
                  func=_linear_fit, min_obs=3, needs_sigma=True)


def _linear_trend(c):
    """features/lintrend.py:8-17 — unweighted OLS; sxx = sum((t-mean)^2)
    (np.var(t, ddof=n-1))."""
    n = c.n
    if n < 3:
        raise ValueError("need >= 3 points")
    dt = c.t - np.mean(c.t)
    dm = c.centered
    sxx = float(np.dot(dt, dt))
    sxy = float(np.dot(dt, dm))
    syy = float(np.dot(dm, dm))
    slope = sxy / sxx
    red = (syy - slope * sxy) / (n - 2)
    return np.array([slope, math.sqrt(red / sxx), math.sqrt(red)])


@_register("linear_trend")
def _linear_trend_factory() -> Kernel:
    return Kernel(key="linear_trend",
                  names=("linear_trend_slope", "linear_trend_slope_sigma",
                         "linear_trend_noise"),
                  func=_linear_trend, min_obs=3)


# --------------------------------------------------------------------------
# Otsu split (north-rule target)
# --------------------------------------------------------------------------

def _otsu_threshold_arg(sorted_m: np.ndarray):
    # features/otsusplit.py:42-56
    n = len(sorted_m)
    amounts = np.arange(1, n)
    w0 = amounts / n
    w1 = 1 - w0
    cumsum0 = np.cumsum(sorted_m)[:-1]
    cumsum1 = np.cumsum(sorted_m[::-1])[:-1][::-1]
    mean0 = cumsum0 / amounts
    mean1 = cumsum1 / amounts[::-1]
    inter_class_variance = w0 * w1 * (mean0 - mean1) ** 2
    arg = int(np.argmax(inter_class_variance))
    return arg, mean0, mean1


def _otsu_split(c):
    # features/otsusplit.py:25-40
    if c.n < 2:
        raise ValueError("need >= 2 points")
    ms = c.sorted_m
    arg, mean0, mean1 = _otsu_threshold_arg(ms)
    lower = ms[: arg + 1]
    upper = ms[arg + 1:]
    std_lower = 0.0 if len(lower) == 1 else np.std(lower, ddof=1)
    std_upper = 0.0 if len(upper) == 1 else np.std(upper, ddof=1)
    return np.array([mean1[arg] - mean0[arg], std_lower, std_upper,
                     (arg + 1) / c.n])


def otsu_threshold(m: np.ndarray) -> float:
    """features/otsusplit.py:58-62 — the split threshold value."""
    ms = np.sort(np.asarray(m, dtype=np.float64))
    arg, _, _ = _otsu_threshold_arg(ms)
    return float(ms[arg + 1])


@_register("otsu_split")
def _otsu_factory() -> Kernel:
    return Kernel(key="otsu_split",
                  names=("otsu_mean_diff", "otsu_std_lower", "otsu_std_upper",
                         "otsu_lower_to_all_ratio"),
                  func=_otsu_split, min_obs=2, needs_t=False)


# --------------------------------------------------------------------------
# detection counters
# --------------------------------------------------------------------------

@_register("flux_n_not_det_before_fd")
def _flux_nndbfd(signal_to_noise: float = 5.0,
                 strictly_fainter: bool = False) -> Kernel:
    # features/flux_n_not_det_before_fd.py:35-49
    def fn(t, m, s):
        det = np.argwhere(m > signal_to_noise * s).flatten()
        if len(det) == len(m):
            raise ValueError("no non-detections")
        if len(det) == 0:
            raise ValueError("no detections")
        first = det[0]
        if strictly_fainter:
            upper_limits = s[:first] * signal_to_noise
            return np.array([float(np.count_nonzero(upper_limits < m[first]))])
        return np.array([float(first)])
    return Kernel(key="flux_n_not_det_before_fd",
                  names=("flux_n_non_detections_before_fd",),
                  func=on_arrays(fn), min_obs=2, needs_sigma=True,
                  params={"signal_to_noise": signal_to_noise,
                          "strictly_fainter": strictly_fainter})


@_register("magnitude_n_not_det_before_fd")
def _magn_nndbfd(sigma_non_detection: float = np.inf,
                 strictly_fainter: bool = False) -> Kernel:
    # features/magnitude_n_not_det_before_fd.py:35-49
    def fn(t, m, s):
        det = np.argwhere(s != sigma_non_detection).flatten()
        if len(det) == len(m):
            raise ValueError("no non-detections")
        if len(det) == 0:
            raise ValueError("no detections")
        first = det[0]
        if strictly_fainter:
            return np.array(
                [float(np.count_nonzero(m[:first] > m[first]))])
        return np.array([float(first)])
    return Kernel(key="magnitude_n_not_det_before_fd",
                  names=("magn_n_non_detections_before_fd",),
                  func=on_arrays(fn), min_obs=2, needs_sigma=True,
                  params={"sigma_non_detection": sigma_non_detection,
                          "strictly_fainter": strictly_fainter})


# --------------------------------------------------------------------------
# Lomb–Scargle periodogram (north-rule target)
# --------------------------------------------------------------------------

def lomb_scargle_power(t: np.ndarray, y: np.ndarray,
                       freqs: np.ndarray, chunk: int = 256) -> np.ndarray:
    """Classic Lomb periodogram at angular frequencies ``freqs``.

    Equivalent to ``scipy.signal.lombscargle(t, y, freqs, precenter=True,
    normalize=False)`` — the exact semantics the reference pins its 'psd'
    normalization to (tests/light_curve_ext/test_periodogram.py:10-30).
    Vectorized over frequency chunks to bound the n×nf temporaries.
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    freqs = np.asarray(freqs, dtype=np.float64)
    y = y - np.mean(y)  # precenter
    n = len(t)
    out = np.empty(len(freqs), dtype=np.float64)
    for lo in range(0, len(freqs), chunk):
        w = freqs[lo:lo + chunk][:, None]  # (c, 1)
        wt = w * t[None, :]                # (c, n)
        # one sin/cos per (freq, obs); everything else via identities:
        # sin2wt = 2sc, cos2wt = (c-s)(c+s); cos(wt-wtau) = c*cw + s*sw
        s = np.sin(wt)
        c = np.cos(wt)
        sin2 = 2.0 * (s * c).sum(axis=1)
        cos2 = ((c - s) * (c + s)).sum(axis=1)
        wtau = 0.5 * np.arctan2(sin2, cos2)       # = w * tau
        cw = np.cos(wtau)[:, None]
        sw = np.sin(wtau)[:, None]
        carg = c * cw + s * sw                    # cos(w(t - tau))
        sarg = s * cw - c * sw                    # sin(w(t - tau))
        yc = (y[None, :] * carg).sum(axis=1)
        ys = (y[None, :] * sarg).sum(axis=1)
        # cc + ss = n exactly, so one of the squares suffices
        cc = (carg * carg).sum(axis=1)
        ss = n - cc
        out[lo:lo + chunk] = 0.5 * (yc ** 2 / cc + ys ** 2 / ss)
    return out


def periodogram_freq_grid(t: np.ndarray, resolution: float = 10.0,
                          max_freq_factor: float = 1.0,
                          nyquist: object = "average") -> np.ndarray:
    """Angular-frequency grid: step = 2π/(resolution·(t_max−t_min)), upper
    bound = max_freq_factor × Nyquist, where Nyquist is derived from the
    average / median / quantile of Δt (src/features.rs:4275-4296 argument
    semantics)."""
    t = np.asarray(t, dtype=np.float64)
    span = t[-1] - t[0]
    if span <= 0:
        raise ValueError("zero time span")
    step = 2.0 * math.pi / (resolution * span)
    if nyquist == "average":
        dt = span / (len(t) - 1)
    elif nyquist == "median":
        dt = float(np.median(np.diff(t)))
    elif isinstance(nyquist, (int, float)):
        dt = float(hazen_quantile(np.diff(t), float(nyquist))[0])
    else:
        raise ValueError(f"bad nyquist: {nyquist!r}")
    max_freq = max_freq_factor * math.pi / dt
    n_steps = max(int(max_freq / step), 1)
    return step * np.arange(1, n_steps + 1)


def _apply_normalization(power: np.ndarray, n: int, normalization: str) -> np.ndarray:
    """src/features.rs:4754-4768: standard = psd·2/(n−1); model = Ps/(1−Ps);
    log = −ln(1−Ps)."""
    if normalization == "psd":
        return power
    ps = power * 2.0 / (n - 1)
    if normalization == "standard":
        return ps
    if normalization == "model":
        return ps / (1.0 - ps)
    if normalization == "log":
        return -np.log(1.0 - ps)
    raise ValueError(f"bad normalization: {normalization}")


def _validate_fast_freqs(freqs: np.ndarray) -> float:
    """The reference's freqs+fast contract (src/features.rs:4359-4385):
    freqs[0] == 0, len == 2**k + 1, linear within 10*f32-eps relative.
    Returns the grid step."""
    if len(freqs) < 2:
        raise ValueError("freqs must have at least two values")
    if freqs[0] != 0.0:
        raise ValueError(
            "When freqs=[...] and fast=True, freqs[0] must equal 0")
    if (len(freqs) - 1) & (len(freqs) - 2) != 0:
        raise ValueError(
            "When freqs=[...] and fast=True, len(freqs) must be a power of "
            "two plus one, e.g. 2**k + 1")
    step = float(freqs[1] - freqs[0])
    rel = np.abs(np.diff(freqs) / step - 1.0)
    # np.all(rel < tol), NOT any(rel >= tol): a zero-step grid makes rel
    # NaN, which fails every comparison — the inverted form would ACCEPT
    # the degenerate grid the reference rejects
    if not np.all(rel < 10.0 * np.finfo(np.float32).eps):
        raise ValueError(
            "When freqs=[...] and fast=True, freqs must be a linear grid, "
            "like np.linspace(0, max_freq, 2**k + 1)")
    return step


def periodogram_peak_indices(power: np.ndarray,
                             peaks: int) -> np.ndarray:
    """Strict interior local maxima, sorted by power descending (stable),
    truncated to ``peaks`` — shared by the single-band periodogram kernel
    and the multiband operator so the two peak semantics cannot drift.

    DOCUMENTED DIVERGENCE: when NO strict interior maximum exists
    (monotone or flat spectrum), the reference pads the missing peaks
    with 0.0; the engine instead reports the global argmax (typically a
    boundary frequency) — a physical frequency with a computed S/N beats
    a zero sentinel for downstream consumers, and the choice is pinned by
    the periodogram_peaks oracle twin."""
    if len(power) >= 3:
        interior = (power[1:-1] > power[:-2]) & (power[1:-1] > power[2:])
        idx = np.nonzero(interior)[0] + 1
    else:
        idx = np.array([], dtype=np.int64)
    if len(idx) == 0:
        idx = np.array([int(np.argmax(power))])
    return idx[np.argsort(-power[idx], kind="stable")][:peaks]


def periodogram_power(t, m, *, resolution=10.0, max_freq_factor=1.0,
                      nyquist="average", normalization="psd", freqs=None,
                      fast=False, macc=6, grid_factor=16):
    """(freqs, power) — the engine analogue of Periodogram.freq_power()
    (src/features.rs:4632-4706).  m is standardized with mean/std(ddof=1)
    before the Lomb sums, per the reference's pinned scipy equivalence.

    fast=True selects the Press-Rybicki FFT evaluation (the reference's
    default algorithm, src/features.rs:4298-4345): same estimator to ~1e-4
    relative, O(n log n) instead of O(n_obs * n_freq).  With an explicit
    ``freqs`` grid, fast requires the reference's zero-based linear
    2**k + 1 grid; power at the zero frequency is defined as 0 (the
    precentered series has no DC power)."""
    m = np.asarray(m, dtype=np.float64)
    std = np.std(m, ddof=1)
    if std == 0:
        raise ValueError("zero variance")
    y = (m - np.mean(m)) / std
    t = np.asarray(t, dtype=np.float64)
    if freqs is None:
        freqs = periodogram_freq_grid(t, resolution, max_freq_factor, nyquist)
        if fast:
            from .fastperiodogram import lomb_scargle_power_fast
            # the auto grid is step * arange(1, n+1) — exactly the fast
            # evaluator's native layout
            power = lomb_scargle_power_fast(t, y, freqs[0], len(freqs),
                                            macc, grid_factor)
            return freqs, _apply_normalization(power, len(m), normalization)
        power = lomb_scargle_power(t, y, freqs)
        return freqs, _apply_normalization(power, len(m), normalization)
    freqs = np.asarray(freqs, dtype=np.float64)
    if fast:
        step = _validate_fast_freqs(freqs)
        from .fastperiodogram import lomb_scargle_power_fast
        power = np.empty(len(freqs))
        power[0] = 0.0
        power[1:] = lomb_scargle_power_fast(t, y, step, len(freqs) - 1,
                                            macc, grid_factor)
        return freqs, _apply_normalization(power, len(m), normalization)
    if len(freqs) and freqs[0] == 0.0:
        # direct evaluation degenerates at w=0 (0/0); define DC power = 0
        # so explicit zero-based grids agree between fast and direct
        power = np.empty(len(freqs))
        power[0] = 0.0
        power[1:] = lomb_scargle_power(t, y, freqs[1:])
        return freqs, _apply_normalization(power, len(m), normalization)
    power = lomb_scargle_power(t, y, freqs)
    return freqs, _apply_normalization(power, len(m), normalization)


@_register("periodogram")
def _periodogram_factory(peaks: int = 1, resolution: float = 10.0,
                         max_freq_factor: float = 1.0,
                         nyquist: object = "average",
                         normalization: str = "psd",
                         fast: bool = True,
                         freqs: Optional[Sequence[float]] = None,
                         features: Sequence[str] = (),
                         phase_features: Sequence[str] = ()) -> Kernel:
    """Peak periods + S/N, names period_{i} / period_s_to_n_{i}.

    Peak = strict local maximum of the power grid, strongest first;
    S/N = (P_peak − mean(P)) / std(P, ddof=1).  Constructor parameter surface
    mirrors src/features.rs:4550-4563 (defaults: peaks=1, resolution=10,
    max_freq_factor=1, nyquist='average', normalization='psd', fast=True —
    the reference's default algorithm is the Press-Rybicki FFT,
    src/features.rs:4557).  ``freqs`` pins an explicit grid
    (src/features.rs:4348-4400: with fast it must be a zero-based linear
    2**k + 1 grid).

    Composition (src/features.rs:4418-4468):
    - ``features``: kernel keys applied to the (freq, power) spectrum as a
      time series, names prefixed ``spectrum_``;
    - ``phase_features``: kernel keys applied to the curve folded at the
      best period (phase 0 at the magnitude minimum, phase in [0,1),
      re-sorted by phase), names prefixed ``period_folded_``.
    """
    spec_kernels = [make_kernel(k) for k in features]
    fold_kernels = [make_kernel(k) for k in phase_features]
    names = tuple(
        x for i in range(peaks)
        for x in (f"period_{i}", f"period_s_to_n_{i}"))
    names += tuple(f"spectrum_{n}" for k in spec_kernels for n in k.names)
    names += tuple(
        f"period_folded_{n}" for k in fold_kernels for n in k.names)

    if freqs is not None and len(freqs) < 2:
        # the reference raises regardless of fast (features.rs freqs
        # size < 2); accepting one value would silently fill NaN at eval
        raise ValueError("freqs must have at least two values")
    if freqs is not None and fast:
        _validate_fast_freqs(np.asarray(freqs, dtype=np.float64))

    def fn(t, m, s):
        fgrid, power = periodogram_power(
            t, m, resolution=resolution, max_freq_factor=max_freq_factor,
            nyquist=nyquist, normalization=normalization, fast=fast,
            freqs=None if freqs is None
            else np.asarray(freqs, dtype=np.float64))
        out = np.zeros(2 * peaks)
        order = periodogram_peak_indices(power, peaks)
        p_mean = np.mean(power)
        p_std = np.std(power, ddof=1)
        for rank, i in enumerate(order):
            out[2 * rank] = 2.0 * math.pi / fgrid[i]
            out[2 * rank + 1] = (power[i] - p_mean) / p_std
        parts = [out]
        if spec_kernels:
            # the reference's spectrum series carries UNIT weights —
            # sigma=None would make any needs_sigma spectrum feature
            # raise and nuke the whole concatenated vector to fill
            parts.append(evaluate_many(spec_kernels, fgrid, power,
                                       np.ones_like(power),
                                       fill_value=np.nan))
        if fold_kernels:
            best_period = 2.0 * math.pi / fgrid[order[0]]
            t0 = t[int(np.argmin(m))]
            phase = np.mod((t - t0) / best_period, 1.0)
            ordr = np.argsort(phase, kind="mergesort")
            parts.append(evaluate_many(
                fold_kernels, phase[ordr], m[ordr],
                None if s is None else s[ordr], fill_value=np.nan))
        return np.concatenate(parts)

    return Kernel(key="periodogram", names=names, func=on_arrays(fn),
                  min_obs=3, needs_sigma=any(k.needs_sigma for k in fold_kernels),
                  params={"peaks": peaks, "resolution": resolution,
                          "max_freq_factor": max_freq_factor,
                          "nyquist": nyquist, "normalization": normalization,
                          "fast": fast,
                          "freqs": None if freqs is None else tuple(freqs),
                          "features": tuple(features),
                          "phase_features": tuple(phase_features)})

# --------------------------------------------------------------------------
# evaluation helpers (fill_value semantics of features/_base.py:28-43)
# --------------------------------------------------------------------------

# the error classes the fill contract converts into fill rows — shared
# with the compat facade so both surfaces fill on the same failures
EVAL_ERRORS = (ValueError, ZeroDivisionError, RuntimeError,
               FloatingPointError, IndexError)


def evaluate_kernel(kernel: Kernel, t, m, sigma=None,
                    fill_value: Optional[float] = np.nan,
                    ctx: Optional[WindowContext] = None) -> np.ndarray:
    """Evaluate with the reference's fill semantics: errors / non-finite
    output => vector of fill_value (raise when fill_value is None).  A
    battery passes its shared ``ctx`` over the same window so common
    intermediates are computed once; without one, a context is built."""
    try:
        if len(m) < kernel.min_obs:
            raise ValueError(
                f"{kernel.key} requires >= {kernel.min_obs} observations")
        if kernel.needs_sigma and sigma is None:
            raise ValueError(f"{kernel.key} requires sigma")
        if ctx is None:
            ctx = WindowContext(t, m, sigma)
        with np.errstate(all="ignore"):
            out = np.asarray(kernel.func(ctx), dtype=np.float64)
        if np.any(~np.isfinite(out)):
            raise ValueError("non-finite output")
        return out
    except EVAL_ERRORS:
        if fill_value is None:
            raise
        return np.full(kernel.size, float(fill_value))

def default_kernels(keys: Optional[Sequence[str]] = None) -> list:
    """Instantiate kernels with default params for the given registry keys
    (all keys when None)."""
    if keys is None:
        keys = list(KERNEL_FACTORIES)
    return [make_kernel(k) for k in keys]


def evaluate_many(kernels: Sequence[Kernel], t, m, sigma=None,
                  fill_value: Optional[float] = np.nan) -> np.ndarray:
    """Single-pass evaluation of a kernel list over one window — the analogue
    of the reference's Extractor fusion (features/extractor.py:36-41):
    shared intermediates (sort, diffs, moments, weights) computed once."""
    if not kernels:
        raise ValueError("evaluate_many needs at least one kernel")
    ctx = WindowContext(t, m, sigma)
    return np.concatenate(
        [evaluate_kernel(k, t, m, sigma, fill_value, ctx) for k in kernels])
