"""RainbowFit — multiband blackbody SN fit, default configuration.

Re-derivation of the published Rainbow model (Russeil et al. 2024, A&A 683
A251) in the reference's DEFAULT configuration (features/rainbow/generic.py:
bolometric='bazin', temperature='sigmoid', spectral='planck',
with_baseline=True):

    flux(t, band) = [ pi * B_nu(c/lambda_band, T(t)) * nu_avg
                      / (sigma_SB * T(t)^4) ] * bol(t) + baseline_band

- bol(t): Bazin bump normalized to unit peak amplitude
  (bolometric.py:157-170),
- T(t): sigmoid between Tmax = T(1+T_amplitude) and Tmin = T(1-T_amplitude)
  with color timescale t_color (temperature.py:122-135); T_amplitude
  carries the reference's weak N(0, 0.25) prior (temperature.py:160-165),
- B_nu: Planck in frequency, (2h/c^2) nu^3 e^-x / (1 - e^-x)
  (spectral.py:77-83), normalized by the "bolometric" norm
  sigma_SB T^4 / (pi nu_avg) with nu_avg = c / mean(band wavelengths)
  (_base.py:116,250).

Fit protocol mirrors _base.py:440-571: t standardized by (mean, std); flux
by (per-band mean when with_baseline, global std); sigma by the flux scale;
initial guesses / box limits from bolometric.py:173-203 +
temperature.py:138-158; parameters un-scaled by their declared scalings
(time / timescale / flux / None; baselines by flux scale + per-band shift).
Output = fitted parameters + r_chisq = 0.5 * chi2 / (n - n_params) (the
Minuit FCN convention of _base.py:731), prior penalty excluded from the
reported chi2.

The term registry mirrors the reference's composition rules
(generic.py:108-132: parameters shared by name, ``reference_time`` common
to the bolometric and sigmoid-temperature terms): bolometric in
{bazin, sigmoid, linexp, doublexp} (bolometric.py), temperature in
{sigmoid, delayed_sigmoid, constant} (temperature.py), spectral in
{planck, blanketed, genwien, modified_bb, logparabola} (spectral.py:
472-478) — the reference's full term registry.

DOCUMENTED DIVERGENCES from the reference: the optimizer is the engine's
pure-numpy Levenberg-Marquardt with deterministic multi-start (iminuit is
unavailable in this environment), and Minuit error propagation is not
implemented.
"""

from __future__ import annotations

import math
from typing import Dict, Optional, Sequence

import numpy as np

from .fits import LnPrior, levenberg_marquardt
from .kernels import Kernel, _register, on_arrays

__all__ = ["rainbow_model", "rainbow_fit_arrays", "RAINBOW_PARAM_NAMES",
           "rainbow_param_names", "BOLOMETRIC_TERMS", "TEMPERATURE_TERMS"]

SIGMA_SB = 5.6703744191844314e-05   # erg / (cm^2 s K^4)
SPEED_OF_LIGHT = 2.99792458e10      # cm / s
PLANCK_H = 6.62607004e-27           # erg s
BOLTZMAN_K = 1.380649e-16           # erg / K

RAINBOW_PARAM_NAMES = ("reference_time", "amplitude", "rise_time",
                       "fall_time", "T", "T_amplitude", "t_color")
T_AMPLITUDE_PRIOR_SIGMA = 0.25
B_WIEN_AA_K = 28977720.0            # Wien displacement, Angstrom*K
_BLANKET_INTENSITY = 100.0
_BLANKET_MAX_EXTINCTION = 2.0 * B_WIEN_AA_K


def _bazin_unit_peak(t, t0, amplitude, rise_time, fall_time):
    """Bazin bump scaled to peak amplitude == amplitude
    (bolometric.py:157-170; overflow-guarded far from t0)."""
    dt = t - t0
    r = fall_time / rise_time
    scale = r ** (rise_time / (fall_time + rise_time)) \
        + r ** (-fall_time / (fall_time + rise_time))
    out = np.zeros(len(dt))
    idx = (dt > -100 * rise_time) & (dt < 100 * fall_time)
    out[idx] = amplitude * scale / (np.exp(-dt[idx] / rise_time)
                                    + np.exp(dt[idx] / fall_time))
    return out


def _sigmoid_temperature(t, t0, T, T_amplitude, t_color):
    """T(t) = T (1 + T_amplitude (2 s - 1)), s = 1/(1 + e^{(t-t0)/t_color})
    (temperature.py:122-135; saturates outside +-100 t_color)."""
    dt = t - t0
    out = np.empty(len(dt))
    lo = dt <= -100 * t_color
    hi = dt >= 100 * t_color
    mid = ~(lo | hi)
    out[lo] = T * (1.0 + T_amplitude)
    out[hi] = T * (1.0 - T_amplitude)
    s = 1.0 / (1.0 + np.exp(dt[mid] / t_color))
    out[mid] = T * (1.0 + T_amplitude * (2.0 * s - 1.0))
    return out


def _planck_nu(wave_cm, T):
    """B_nu via e^-x/(1 - e^-x) == e^-x / -expm1(-x) (spectral.py:77-83)."""
    nu = SPEED_OF_LIGHT / np.asarray(wave_cm)
    x = PLANCK_H * nu / (BOLTZMAN_K * T)
    return (2.0 * PLANCK_H / SPEED_OF_LIGHT ** 2) * nu ** 3 \
        * np.exp(-x) / (-np.expm1(-x))


def rainbow_model(t, wave_cm, average_nu, t0, amplitude, rise_time,
                  fall_time, T, T_amplitude, t_color):
    """Baseline-free Rainbow flux (_base.py:241-259)."""
    bol = _bazin_unit_peak(t, t0, amplitude, rise_time, fall_time)
    temp = _sigmoid_temperature(t, t0, T, T_amplitude, t_color)
    norm = (SIGMA_SB * temp ** 4) / math.pi / average_nu
    return _planck_nu(wave_cm, temp) / norm * bol


def _t0_and_centroid_sigma(t, m, sigma):
    """Weighted-centroid peak time and width over the above-median points
    (bolometric.py:480-490)."""
    mc = m - np.min(m)
    idx = m > np.median(m)
    if not idx.any():
        idx = np.ones(len(m), dtype=bool)
    t0 = np.sum(t[idx] * m[idx] / sigma[idx]) / np.sum(m[idx] / sigma[idx])
    num = np.sum((t[idx] - t0) ** 2 * mc[idx] / sigma[idx])
    den = np.sum(mc[idx] / sigma[idx])
    dt = math.sqrt(num / den) if den > 0 and num >= 0 else np.std(t)
    return t0, max(dt, 1e-3)


def _median_dt(t, band):
    """Median per-band sampling interval (bolometric.py:470-477)."""
    dts = []
    for b in np.unique(band):
        tb = t[band == b]
        dts.extend(tb[1:] - tb[:-1])
    return float(np.median(dts)) if dts else 1.0


def _sigmoid_bol(t, t0, amplitude, rise_time):
    """Rising sigmoid bolometric (bolometric.py:79-87)."""
    dt = t - t0
    out = np.zeros(len(dt))
    idx = dt > -100 * rise_time
    out[idx] = amplitude / (np.exp(-dt[idx] / rise_time) + 1.0)
    return out


def _linexp_bol(t, t0, amplitude, rise_time):
    """Linear-rise x exponential, unit peak (bolometric.py:269-281);
    reference_time is the zero-flux crossing, rise_time may be negative."""
    dt = t0 - t
    protected = math.copysign(max(1e-5, abs(rise_time)), rise_time)
    scale = 1.0 / (protected * math.exp(-1.0))
    power = np.minimum(-dt / protected, 100.0)
    out = amplitude * scale * dt * np.exp(power)
    return np.where(out > 0, out, 0.0)


def _doublexp_bol(t, t0, amplitude, time1, time2, p):
    """Symbolic-regression SNIa shape (bolometric.py:370-381):
    amplitude * exp(-(dt/time1) * (p - exp(-dt/time2))), exponent clamped
    at 20."""
    dt = t - t0
    a = -(dt / time1) * (p - np.exp(-(dt / time2)))
    return amplitude * np.exp(np.minimum(a, 20.0))


def _delayed_sigmoid_temperature(t, t0, T, T_amplitude, t_color, t_delay):
    """Sigmoid temperature shifted by t_delay from the bolometric
    reference (temperature.py:236-250)."""
    return _sigmoid_temperature(t - t_delay, t0, T, T_amplitude, t_color)


class _Term:
    """One pluggable model term: names/scalings/value plus data-driven
    initial guesses, box limits, and optional Gaussian priors — the
    composition contract of rainbow/generic.py:108-132."""

    def __init__(self, names, scalings, value, init, limits, priors=None):
        self.names = tuple(names)
        self.scalings = tuple(scalings)
        self.value = value
        self.init = init
        self.limits = limits
        self.priors = dict(priors or {})


BOLOMETRIC_TERMS: Dict[str, _Term] = {
    # bolometric.py:145-215
    "bazin": _Term(
        ("reference_time", "amplitude", "rise_time", "fall_time"),
        ("time", "flux", "timescale", "timescale"),
        _bazin_unit_peak,
        lambda t, m, s, band: (lambda t0, dt: {
            "reference_time": t0,
            "amplitude": 1.5 * max(float(np.max(m)), float(np.ptp(m)) or 1.0),
            "rise_time": dt, "fall_time": dt,
        })(*_t0_and_centroid_sigma(t, m, s)),
        lambda t, m, s, band: (lambda dt, ta, ma: {
            "reference_time": (t.min() - 10 * ta, t.max() + 10 * ta),
            "amplitude": (0.0, 20 * ma),
            "rise_time": (dt / 100, 10 * ta),
            "fall_time": (dt / 100, 10 * ta),
        })(_t0_and_centroid_sigma(t, m, s)[1],
           float(np.ptp(t)) or 1.0, float(np.ptp(m)) or 1.0)),
    # bolometric.py:67-117
    "sigmoid": _Term(
        ("reference_time", "amplitude", "rise_time"),
        ("time", "flux", "timescale"),
        _sigmoid_bol,
        lambda t, m, s, band: {
            "reference_time": float(t[int(np.argmax(m))]),
            "amplitude": float(np.ptp(m)) or 1.0,
            "rise_time": 1.0,
        },
        lambda t, m, s, band: (lambda dt, ta, ma: {
            "reference_time": (t.min() - 10 * ta, t.max() + 10 * ta),
            "amplitude": (0.0, 20 * ma),
            "rise_time": (dt / 100, 10 * ta),
        })(_t0_and_centroid_sigma(t, m, s)[1],
           float(np.ptp(t)) or 1.0, float(np.ptp(m)) or 1.0)),
    # bolometric.py:357-414
    "doublexp": _Term(
        ("reference_time", "amplitude", "time1", "time2", "p"),
        ("time", "flux", "timescale", "timescale", None),
        _doublexp_bol,
        lambda t, m, s, band: (lambda t0, dt: {
            "reference_time": t0,
            "amplitude": max(float(np.max(m)), float(np.ptp(m)) or 1.0),
            "time1": 2 * dt, "time2": 2 * dt, "p": 1.0,
        })(*_t0_and_centroid_sigma(t, m, s)),
        lambda t, m, s, band: (lambda dt, ta, ma: {
            "reference_time": (t.min() - 10 * ta, t.max() + 10 * ta),
            "amplitude": (0.0, 10 * ma),
            "time1": (dt / 10, 2 * ta),
            "time2": (dt / 10, 2 * ta),
            "p": (1e-2, 100.0),
        })(_t0_and_centroid_sigma(t, m, s)[1],
           float(np.ptp(t)) or 1.0, float(np.ptp(m)) or 1.0)),
    # bolometric.py:256-315
    "linexp": _Term(
        ("reference_time", "amplitude", "rise_time"),
        ("time", "flux", "timescale"),
        _linexp_bol,
        lambda t, m, s, band: (lambda peak, rise: {
            "reference_time": peak + rise,
            "amplitude": float(np.ptp(m)) or 1.0,
            "rise_time": rise,
        })(float(t[int(np.argmax(m))]),
           (lambda r, peak: r if (peak - t[0]) >= (t[-1] - peak) else -r)(
               100 * _median_dt(t, band), float(t[int(np.argmax(m))]))),
        lambda t, m, s, band: (lambda ta, ma: {
            "reference_time": (t.min() - 10 * ta, t.max() + 10 * ta),
            "amplitude": (0.0, 10 * ma),
            "rise_time": (-10 * ta, 10 * ta),
        })(float(np.ptp(t)) or 1.0, float(np.ptp(m)) or 1.0)),
}

TEMPERATURE_TERMS: Dict[str, _Term] = {
    # temperature.py:105-165
    "sigmoid": _Term(
        ("reference_time", "T", "T_amplitude", "t_color"),
        ("time", None, None, "timescale"),
        _sigmoid_temperature,
        lambda t, m, s, band: {
            "T": 10000.0, "T_amplitude": 0.0,
            "t_color": 2 * _t0_and_centroid_sigma(t, m, s)[1],
        },
        lambda t, m, s, band: {
            "T": (1e3, 2e6),
            "T_amplitude": (-0.99, 0.99),
            "t_color": (_t0_and_centroid_sigma(t, m, s)[1] / 3,
                        10 * (float(np.ptp(t)) or 1.0)),
        },
        priors={"T_amplitude": (0.0, T_AMPLITUDE_PRIOR_SIGMA)}),
    # temperature.py:203-284; t_delay carries a weak N(0,1) prior in
    # scaled (light-curve-timescale) units like the reference
    "delayed_sigmoid": _Term(
        ("reference_time", "T", "T_amplitude", "t_color", "t_delay"),
        ("time", None, None, "timescale", "timescale"),
        _delayed_sigmoid_temperature,
        lambda t, m, s, band: {
            "T": 10000.0, "T_amplitude": 0.0,
            "t_color": 2 * _t0_and_centroid_sigma(t, m, s)[1],
            "t_delay": 0.0,
        },
        lambda t, m, s, band: {
            "T": (1e3, 2e6),
            "T_amplitude": (-0.99, 0.99),
            "t_color": (_t0_and_centroid_sigma(t, m, s)[1] / 3,
                        10 * (float(np.ptp(t)) or 1.0)),
            "t_delay": (-(float(np.ptp(t)) or 1.0),
                        float(np.ptp(t)) or 1.0),
        },
        priors={"T_amplitude": (0.0, T_AMPLITUDE_PRIOR_SIGMA),
                "t_delay": (0.0, 1.0)}),
    # temperature.py:53-91
    "constant": _Term(
        ("T",), (None,),
        lambda t, temp: np.full(len(t), temp),
        lambda t, m, s, band: {"T": 8000.0},
        lambda t, m, s, band: {"T": (1e3, 2e6)}),
}


def _planck_spec(wave_cm, t_inst):
    return _planck_nu(wave_cm, t_inst)


def _blanketed_planck_spec(wave_cm, t_inst, t_ref, lambda_scale):
    """Planck core at the instantaneous temperature, suppressed by UV
    blanketing tau = I*exp(-lambda/lambda_s) whose reach is anchored to the
    SHARED characteristic temperature t_ref (spectral.py:110-175: the
    extinction depth must not vary as the source cools; 'T' is shared with
    the temperature term via the common_temp_spec machinery, so the only
    new fit parameter is lambda_scale)."""
    base = _planck_nu(wave_cm, t_inst)
    lambda_cm = _BLANKET_MAX_EXTINCTION * lambda_scale / t_ref * 1e-8
    tau = _BLANKET_INTENSITY * np.exp(-wave_cm / lambda_cm)
    return base * np.exp(-tau)


_SPEC_WAVE_REF_CM = 6000e-8   # spectral.py reference wavelength (~mid-optical)


def _genwien_spec(wave_cm, t_inst, spec_k):
    """Generalized-Wien SED nu^3 exp(-x^spec_k) (spectral.py:236-322):
    spec_k ~ 1 is the Wien/Planck-like tail, spec_k > 1 sharpens the blue
    cutoff.  (T, spec_k) trade off, so T is an SED-shape feature, not a
    thermodynamic temperature; a N(1, 0.5) prior anchors spec_k where the
    data don't constrain it."""
    nu = SPEED_OF_LIGHT / np.asarray(wave_cm)
    x = PLANCK_H * nu / (BOLTZMAN_K * t_inst)
    return (2.0 * PLANCK_H / SPEED_OF_LIGHT ** 2) * nu ** 3 \
        * np.exp(-np.power(x, spec_k))


def _modified_bb_spec(wave_cm, t_inst, beta):
    """Modified blackbody: Planck tilted by (lambda/lambda_ref)^beta
    (spectral.py:325-397).  beta = 0 is exactly Planck; beta > 0 is a
    gentle UV deficit; beta < 0 with a hot (Rayleigh-Jeans) Planck core
    gives a power-law SED F_nu ~ nu^(2-beta).  A weak N(0, 1) prior stops
    the beta/T runaway on genuinely non-blackbody SEDs."""
    return _planck_nu(wave_cm, t_inst) \
        * np.power(np.asarray(wave_cm) / _SPEC_WAVE_REF_CM, beta)


def _logparabola_spec(wave_cm, t_inst, sp_a, sp_b):
    """Log-parabola tilt+curvature of the Planck core,
    exp(a*L + b*L^2) with L = ln(lambda/lambda_ref) (spectral.py:400-469):
    the most flexible deviation term (captures the sharpest blue cutoffs);
    N(0, 0.5) priors on both parameters break the blackbody degeneracy."""
    ell = np.log(np.asarray(wave_cm) / _SPEC_WAVE_REF_CM)
    return _planck_nu(wave_cm, t_inst) * np.exp(sp_a * ell
                                                + sp_b * ell * ell)


_BLANKETED_TERM = _Term(
    # spectral.py:110-232 — shares 'T' with the temperature term; only
    # lambda_scale is new (init 0.001, box [0.001, 1.0])
    ("T", "lambda_scale"), (None, None), _blanketed_planck_spec,
    lambda t, m, s, band: {"lambda_scale": 0.001},
    lambda t, m, s, band: {"lambda_scale": (0.001, 1.0)})

SPECTRAL_TERMS: Dict[str, _Term] = {
    # spectral.py:65-106 — no extra parameters
    "planck": _Term((), (), _planck_spec,
                    lambda t, m, s, band: {},
                    lambda t, m, s, band: {}),
    # reference registry key (spectral.py:472-478) + the engine's
    # historical alias
    "blanketed": _BLANKETED_TERM,
    "blanketed_planck": _BLANKETED_TERM,
    # spectral.py:236-322
    "genwien": _Term(
        ("spec_k",), (None,), _genwien_spec,
        lambda t, m, s, band: {"spec_k": 1.0},
        lambda t, m, s, band: {"spec_k": (0.3, 3.0)},
        priors={"spec_k": (1.0, 0.5)}),
    # spectral.py:325-397
    "modified_bb": _Term(
        ("beta",), (None,), _modified_bb_spec,
        lambda t, m, s, band: {"beta": 0.0},
        lambda t, m, s, band: {"beta": (-6.0, 10.0)},
        priors={"beta": (0.0, 1.0)}),
    # spectral.py:400-469
    "logparabola": _Term(
        ("sp_a", "sp_b"), (None, None), _logparabola_spec,
        lambda t, m, s, band: {"sp_a": 0.0, "sp_b": 0.0},
        lambda t, m, s, band: {"sp_a": (-6.0, 6.0), "sp_b": (-4.0, 4.0)},
        priors={"sp_a": (0.0, 0.5), "sp_b": (0.0, 0.5)}),
}


def rainbow_param_names(bolometric: str = "bazin",
                        temperature: str = "sigmoid",
                        spectral: str = "planck"):
    """Composed parameter order (generic.py:108-132): shared names appear
    once — bolometric first, then temperature-only, then spectral-only
    names ('T' of blanketed_planck is shared with the temperature term)."""
    bol = BOLOMETRIC_TERMS[bolometric]
    temp = TEMPERATURE_TERMS[temperature]
    spec = SPECTRAL_TERMS[spectral]
    names = tuple(bol.names) + tuple(n for n in temp.names
                                     if n not in bol.names)
    return names + tuple(n for n in spec.names if n not in names)


def rainbow_fit_arrays(t, m, sigma, band, band_wave_cm: Dict[str, float],
                       with_baseline: bool = True, max_iter: int = 150,
                       n_starts: int = 4, bolometric: str = "bazin",
                       temperature: str = "sigmoid",
                       spectral: str = "planck",
                       upper_mask: Optional[np.ndarray] = None,
                       with_errors: bool = False):
    """Fit one multiband curve; returns the unscaled parameter vector
    [rainbow_param_names(bolometric, temperature, spectral)...,
    baseline_{band}... (if with_baseline), r_chisq].  Arrays must be
    time-sorted; band values must all appear in band_wave_cm.

    ``with_errors=True`` appends HESSE-style 1-sigma errors for every
    parameter (same order) before r_chisq — the reference's
    _eval_and_get_errors output contract (Migrad/HESSE; here the
    Gauss-Newton inverse-Hessian at the LM optimum, fits.lm_errors,
    unscaled by each parameter's declared scaling).

    ``upper_mask`` marks non-detections: ``m`` there is the upper-limit
    flux and the row enters the cost as the censored Tobit likelihood
    -ln Phi((limit - model)/sigma) instead of a squared residual — the
    reference's MaximumLikelihood upper_mask contract (minuit_ml.py:
    114-128 via _base.py:424-430).  r_chisq keeps the Minuit FCN
    convention (NLL / dof), which reduces to 0.5*chi2/dof when no point
    is censored."""
    if not 1 <= n_starts <= 4:
        # the multi-start schedule is a FIXED deterministic set of 4
        # jittered inits; 0 would crash on an empty best and >4 would
        # silently run fewer starts than the caller asked for
        raise ValueError("n_starts must be between 1 and 4")
    t = np.asarray(t, float)
    m = np.asarray(m, float)
    sigma = np.asarray(sigma, float)
    band = np.asarray(band)
    if upper_mask is not None:
        upper_mask = np.asarray(upper_mask, bool)
        if upper_mask.shape != t.shape:
            raise ValueError("upper_mask must align with t/m/sigma")
        if not upper_mask.any():
            upper_mask = None
    bol = BOLOMETRIC_TERMS[bolometric]
    temp = TEMPERATURE_TERMS[temperature]
    spec = SPECTRAL_TERMS[spectral]
    pnames = list(rainbow_param_names(bolometric, temperature, spectral))
    bol_idx = [pnames.index(n) for n in bol.names]
    temp_idx = [pnames.index(n) for n in temp.names]
    spec_idx = [pnames.index(n) for n in spec.names]
    scalings = {}
    for term in (bol, temp, spec):
        scalings.update(dict(zip(term.names, term.scalings)))
    band_names = sorted(band_wave_cm)
    n_model = len(pnames)
    n_par = n_model + (len(band_names) if with_baseline else 0)
    if len(t) <= n_par:
        raise ValueError("not enough points")
    wave_by_name = {b: float(band_wave_cm[b]) for b in band_names}
    try:
        wave_cm = np.array([wave_by_name[b] for b in band])
    except KeyError as e:
        # ValueError so the operator's fill_value contract applies
        raise ValueError(f"band {e.args[0]!r} not in band_wave_cm") from e
    average_nu = SPEED_OF_LIGHT / float(np.mean(list(wave_by_name.values())))

    # ---- scaling (_scaler.py / _base.py:440-452) --------------------------
    t_shift, t_scale = float(np.mean(t)), float(np.std(t)) or 1.0
    m_scale = float(np.std(m)) or 1.0
    band_shift = {b: (float(np.mean(m[band == b]))
                      if with_baseline and (band == b).any() else 0.0)
                  for b in band_names}
    shift_arr = np.array([band_shift[b] for b in band])
    ts = (t - t_shift) / t_scale
    ms = (m - shift_arr) / m_scale
    ss = sigma / m_scale

    # ---- initial guesses + limits (scaled space; baseline-corrected data
    # feeds the term guesses, _base.py:448-460) -----------------------------
    if with_baseline:
        base0 = {b: (float(np.median(ms[band == b]))
                     if (band == b).any() else 0.0) for b in band_names}
        m_corr = ms - np.array([base0[b] for b in band])
    else:
        base0 = {}
        m_corr = ms
    init = bol.init(ts, m_corr, ss, band)
    init.update(temp.init(ts, m_corr, ss, band))
    init.update(spec.init(ts, m_corr, ss, band))
    lims = bol.limits(ts, m_corr, ss, band)
    lims.update(temp.limits(ts, m_corr, ss, band))
    lims.update(spec.limits(ts, m_corr, ss, band))
    prior_by_name = dict(bol.priors)
    prior_by_name.update(temp.priors)
    prior_by_name.update(spec.priors)
    p0 = [init[n] for n in pnames]
    lower = [lims[n][0] for n in pnames]
    upper = [lims[n][1] for n in pnames]
    priors = [LnPrior.normal(*prior_by_name[n]) if n in prior_by_name
              else LnPrior.none() for n in pnames]
    if with_baseline:
        for b in band_names:
            mb = ms[band == b]
            p0.append(base0[b])
            if len(mb):
                lower.append(float(np.min(mb) - 10 * np.ptp(mb)))
                upper.append(float(np.max(mb)))
            else:
                lower.append(0.0)
                upper.append(0.0)
            priors.append(LnPrior.none())
    p0 = np.asarray(p0, float)
    lower = np.asarray(lower, float)
    upper = np.asarray(upper, float)
    base_idx = {b: n_model + i for i, b in enumerate(band_names)}         if with_baseline else {}
    base_code = np.array([base_idx.get(b, -1) for b in band])         if with_baseline else None

    def model(x, *params):
        params = np.asarray(params)
        bolv = bol.value(x, *params[bol_idx])
        tempv = temp.value(x, *params[temp_idx])
        norm = (SIGMA_SB * tempv ** 4) / math.pi / average_nu
        f = spec.value(wave_cm, tempv, *params[spec_idx]) / norm * bolv
        if with_baseline:
            f = f + params[base_code]
        return f

    w = ss ** -2.0
    # deterministic multi-start: the reference re-runs migrad/simplex up to
    # 10 times (_base.py:515-526); our LM instead restarts from jittered
    # inits and keeps the best cost.  Jitters move the time-like init and
    # scale the timescale-like inits.
    _, dt0 = _t0_and_centroid_sigma(ts, m_corr, ss)
    jit_time = [i for i, n in enumerate(pnames)
                if scalings.get(n) == "time"]
    jit_scale = [i for i, n in enumerate(pnames)
                 if scalings.get(n) == "timescale" and n != "t_color"]
    # spectral-only params whose init SITS ON the positive floor (e.g.
    # blanketed lambda_scale = lower = 0.001) have a FLAT numerical
    # gradient there (tau underflows to exactly 0), so the starts sweep
    # them geometrically across the box; deviation terms anchored at an
    # interior value (genwien spec_k=1, modified_bb beta=0, logparabola
    # 0/0) keep their prior-anchored init in every start
    spec_only = [i for i in spec_idx
                 if pnames[i] not in bol.names
                 and pnames[i] not in temp.names]
    best = None
    jitters = [(0.0, 1.0), (0.5, 0.5), (-0.5, 2.0), (1.0, 1.0)][:n_starts]
    for k_start, (dt_j, w_j) in enumerate(jitters):
        pj = p0.copy()
        for i in jit_time:
            pj[i] = np.clip(p0[i] + dt_j * dt0, lower[i], upper[i])
        for i in jit_scale:
            pj[i] = np.clip(p0[i] * w_j, lower[i], upper[i])
        for i in spec_only:
            if lower[i] > 0 and p0[i] <= lower[i] * (1.0 + 1e-9):
                grid = np.geomspace(lower[i], upper[i], len(jitters))
                pj[i] = grid[k_start]
        p, chi2 = levenberg_marquardt(model, ts, ms, w, pj, lower, upper,
                                      max_iter=max_iter, ln_priors=priors,
                                      upper_mask=upper_mask)
        # select on the MAP cost the LM minimized (chi2 + prior penalty),
        # not the data chi2 alone — otherwise a start that rails a
        # prior-anchored parameter for a marginal chi2 gain would win and
        # silently neuter the prior; the REPORTED r_chisq stays data-only
        pen = -2.0 * sum(pr(x) for pr, x in zip(priors, p))
        cost = chi2 + pen
        if best is None or cost < best[0]:
            best = (cost, p, chi2)
    _, p, chi2 = best

    # ---- unscale (declared scalings; _base.py:202-231) ---------------------
    out = np.empty(n_par + 1 + (n_par if with_errors else 0))
    for i, n in enumerate(pnames):
        rule = scalings.get(n)
        if rule == "time":
            out[i] = p[i] * t_scale + t_shift
        elif rule == "timescale":
            out[i] = p[i] * t_scale
        elif rule == "flux":
            out[i] = p[i] * m_scale
        else:
            out[i] = p[i]
    if with_baseline:
        for i, b in enumerate(band_names):
            out[n_model + i] = p[n_model + i] * m_scale + band_shift[b]
    if with_errors:
        from .fits import lm_errors
        err = lm_errors(model, ts, ms, w, p, ln_priors=priors,
                        upper_mask=upper_mask)
        # error unscaling: multiplicative factors only (shifts cancel)
        for i, n in enumerate(pnames):
            rule = scalings.get(n)
            fac = t_scale if rule in ("time", "timescale") \
                else m_scale if rule == "flux" else 1.0
            out[n_par + i] = err[i] * fac
        if with_baseline:
            for i in range(len(band_names)):
                out[n_par + n_model + i] = err[n_model + i] * m_scale
    out[-1] = 0.5 * chi2 / (len(t) - n_par)      # Minuit FCN convention
    return out


@_register("rainbow_fit")
def _rainbow_factory(band_wave_cm: Optional[Dict[str, float]] = None,
                     with_baseline: bool = True,
                     max_iter: int = 150, bolometric: str = "bazin",
                     temperature: str = "sigmoid",
                     spectral: str = "planck") -> Kernel:
    """Kernel facade: the multiband arrays come pre-split per band in the
    engine's banded path, so this kernel is NOT dispatched through
    FeatureExtractor(bands=...) — use operators.spectral.rainbow_fit (joint
    multiband, one grouped_map callback per entity) instead.  Registered
    so FeatureSpec can name it and so the fill/min_obs semantics are
    declared in one place."""
    if band_wave_cm is None:
        raise ValueError("rainbow_fit requires band_wave_cm={band: cm}")
    band_names = sorted(band_wave_cm)
    names = rainbow_param_names(bolometric, temperature, spectral) \
        + (tuple(f"baseline_{b}" for b in band_names) if with_baseline
           else ()) + ("r_chisq",)
    n_par = len(names) - 1

    def fn(t, m, s):
        raise ValueError(
            "rainbow_fit needs the band column; evaluate via "
            "operators.spectral.rainbow_fit")

    return Kernel(key="rainbow_fit", names=names, func=on_arrays(fn),
                  min_obs=n_par + 1, needs_sigma=True,
                  params={"band_wave_cm": dict(band_wave_cm),
                          "with_baseline": with_baseline,
                          "max_iter": max_iter,
                          "bolometric": bolometric,
                          "temperature": temperature,
                          "spectral": spectral})
