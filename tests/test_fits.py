"""Parametric fit kernels: parameter recovery on synthetic curves with known
truth (the reference's own BazinFit test strategy —
tests/test_w_bench.py:303-340 generates a noisy Bazin curve and asserts
recovered params at rtol 1e-3)."""

import json
import os
import subprocess
import sys
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

import light_curve_python_spark.functions.fits as FT
from light_curve_python_spark.functions.kernels import (
    evaluate_kernel,
    make_kernel,
)


def _noisy(model, params, n=300, noise=0.02, seed=0, t_range=(0, 100)):
    rng = np.random.default_rng(seed)
    t = np.sort(rng.uniform(*t_range, n))
    clean = model(t, *params)
    amp = clean.max() - clean.min()
    sigma = np.full(n, noise * amp)
    m = clean + sigma * rng.normal(size=n)
    return t, m, sigma


def test_bazin_fit_recovers_params():
    truth = (100.0, 100.0, 50.0, 10.0, 20.0)  # a, b, t0, rise, fall
    t, m, s = _noisy(FT.bazin_model, truth)
    k = make_kernel("bazin_fit")
    out = evaluate_kernel(k, t, m, s, fill_value=None)
    got = dict(zip(k.names, out))
    for name, want in zip(("a", "b", "t0", "rise", "fall"), truth):
        assert got[f"bazin_fit_{name}"] == pytest.approx(want, rel=0.05), name
    # good fit: reduced chi2 ~ 1
    assert 0.5 < got["bazin_fit_reduced_chi2"] < 2.0


def test_bazin_fit_with_explicit_init():
    truth = (50.0, 10.0, 40.0, 5.0, 15.0)
    t, m, s = _noisy(FT.bazin_model, truth, seed=3)
    k = make_kernel("bazin_fit", init=[60.0, 5.0, 45.0, 8.0, 10.0])
    out = evaluate_kernel(k, t, m, s, fill_value=None)
    assert out[0] == pytest.approx(50.0, rel=0.05)


def test_villar_fit_recovers_params():
    # a, b, t0, gamma, beta, tau_rise, tau_fall
    truth = (80.0, 20.0, 30.0, 25.0, 0.01, 3.0, 15.0)
    t, m, s = _noisy(FT.villar_model, truth, n=500, noise=0.01)
    k = make_kernel("villar_fit")
    out = evaluate_kernel(k, t, m, s, fill_value=None)
    got = dict(zip(k.names, out))
    assert got["villar_fit_a"] == pytest.approx(80.0, rel=0.1)
    assert got["villar_fit_t0"] == pytest.approx(30.0, abs=2.0)
    assert got["villar_fit_gamma"] == pytest.approx(25.0, rel=0.2)
    assert got["villar_fit_reduced_chi2"] < 3.0


def test_linexp_fit_recovers_params():
    truth = (5.0, 10.0, 10.0, 20.0)  # a, b, t0, fall
    t, m, s = _noisy(FT.linexp_model, truth, n=400, noise=0.01,
                     t_range=(10, 150))
    k = make_kernel("linexp_fit")
    out = evaluate_kernel(k, t, m, s, fill_value=None)
    got = dict(zip(k.names, out))
    assert got["linexp_fit_a"] == pytest.approx(5.0, rel=0.1)
    assert got["linexp_fit_fall"] == pytest.approx(20.0, rel=0.1)
    assert got["linexp_fit_reduced_chi2"] < 3.0


def test_fit_fill_value_on_insufficient_points():
    k = make_kernel("bazin_fit")
    t = np.arange(4, dtype=float)
    out = evaluate_kernel(k, t, t, np.ones(4), fill_value=-1.0)
    assert (out == -1.0).all()


def test_lm_on_linear_problem_exact():
    """LM must solve an exactly-linear least squares to machine precision."""
    rng = np.random.default_rng(1)
    t = np.sort(rng.uniform(0, 10, 50))
    m = 3.0 * t + 7.0
    w = np.ones(50)

    def lin(t, a, b):
        return a * t + b

    p, chi2 = FT.levenberg_marquardt(
        lin, t, m, w, np.array([1.0, 0.0]),
        np.array([-1e9, -1e9]), np.array([1e9, 1e9]))
    np.testing.assert_allclose(p, [3.0, 7.0], rtol=1e-6)
    assert chi2 < 1e-10


def test_refinement_polishes_only_near_its_start():
    """The LM's refinement phase converges from a point near the optimum
    but declines a first step larger than 1e-4*max(|p|, 1), so it never
    carries a fit away from the point the descent stopped at."""
    rng = np.random.default_rng(2)
    t = np.sort(rng.uniform(0, 10, 50))
    s = np.full(50, 0.1)
    m = 2.0 * np.exp(-t / 4.0) + 1.0 + s * rng.normal(size=50)
    w = s ** -2.0

    def model(t, a, tau, b):
        return a * np.exp(-t / tau) + b

    lower, upper = np.full(3, -1e9), np.full(3, 1e9)
    residuals = FT._make_residuals(model, t, m, np.sqrt(w), None)

    def refine(p):
        p = np.asarray(p, dtype=np.float64)
        r = residuals(p)
        return FT._refine(residuals, lambda _p: 0.0, None, p, r,
                          float(r @ r), float(r @ r), 1e-3, lower, upper)

    p_opt, _ = refine(FT.levenberg_marquardt(model, t, m, w,
                                             np.array([1.0, 1.0, 0.0]),
                                             lower, upper)[0])
    near, _ = refine(p_opt * (1.0 + 1e-6))
    np.testing.assert_allclose(near, p_opt, rtol=1e-11)
    far = p_opt * 1.01
    assert refine(far)[0].tobytes() == far.tobytes()


def test_spark_extract_with_fit(spark):
    """Fit kernels run through the grouped extractor."""
    import pandas as pd
    truth = (100.0, 100.0, 50.0, 10.0, 20.0)
    frames = []
    for e in range(4):
        t, m, s = _noisy(FT.bazin_model, truth, seed=e)
        frames.append(pd.DataFrame(
            {"doc_id": f"e{e}", "t": t, "m": m, "sigma": s}))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    from light_curve_python_spark.operators.extract import FeatureExtractor
    ex = FeatureExtractor(["bazin_fit"])
    got = ex.extract(df, band_col=None).toPandas()
    assert len(got) == 4
    np.testing.assert_allclose(got["bazin_fit_t0"].to_numpy(),
                               [50.0] * 4, rtol=0.05)


def test_ln_prior_closed_forms():
    from light_curve_python_spark.functions.fits import LnPrior
    import math
    assert LnPrior.none()(3.7) == 0.0
    pr = LnPrior.normal(2.0, 0.5)
    want = -0.5 * ((3.0 - 2.0) / 0.5) ** 2 - math.log(
        0.5 * math.sqrt(2 * math.pi))
    assert pr(3.0) == pytest.approx(want, rel=1e-12)
    pr = LnPrior.log_normal(0.0, 1.0)
    x = 2.0
    want = (-0.5 * math.log(x) ** 2 - math.log(x)
            - math.log(math.sqrt(2 * math.pi)))
    assert pr(x) == pytest.approx(want, rel=1e-12)
    assert pr(-1.0) == -math.inf
    pr = LnPrior.uniform(1.0, 3.0)
    assert pr(2.0) == pytest.approx(-math.log(2.0))
    assert pr(0.5) == -math.inf
    pr = LnPrior.log_uniform(1.0, math.e)
    assert pr(1.5) == pytest.approx(-math.log(1.5), rel=1e-12)
    assert pr(0.5) == -math.inf
    # mix: ln(sum w_norm * exp(lp))
    mixed = LnPrior.mix([(1.0, LnPrior.uniform(0.0, 1.0)),
                         (3.0, LnPrior.uniform(0.0, 2.0))])
    want = math.log(0.25 * 1.0 + 0.75 * 0.5)
    assert mixed(0.5) == pytest.approx(want, rel=1e-12)
    assert mixed(1.5) == pytest.approx(math.log(0.75 * 0.5), rel=1e-12)
    # spec JSON round-trip
    rt = LnPrior.from_spec(mixed.spec)
    assert rt(0.5) == pytest.approx(mixed(0.5), rel=1e-12)


def test_ln_prior_pulls_degenerate_fit():
    """Reference ln_prior behavior: on weakly-identified data a tight
    normal prior on a parameter pulls the MAP fit to the prior's mean,
    while the unpriored fit stays at the likelihood optimum."""
    from light_curve_python_spark.functions.fits import LnPrior
    rng = np.random.default_rng(5)
    t = np.sort(rng.uniform(0, 100, 200))
    true = dict(a=5.0, b=1.0, t0=40.0, rise=4.0, fall=12.0)
    m = FT.bazin_model(t, **true) + 0.01 * rng.normal(size=len(t))
    s = np.full(len(t), 0.01)
    init = [4.0, 1.5, 38.0, 5.0, 10.0]  # same basin for both fits
    free = make_kernel("bazin_fit", init=init)
    out_free = evaluate_kernel(free, t, m, s, fill_value=None)
    assert out_free[1] == pytest.approx(true["b"], abs=0.05)  # b recovered
    # very tight prior on b at 2.0 (data says 1.0): MAP must move to ~2.0
    priors = [LnPrior.none(), LnPrior.normal(2.0, 1e-4), LnPrior.none(),
              LnPrior.none(), LnPrior.none()]
    pinned = make_kernel("bazin_fit", init=init,
                         ln_prior=[p.spec for p in priors])
    out_pinned = evaluate_kernel(pinned, t, m, s, fill_value=None)
    assert out_pinned[1] == pytest.approx(2.0, abs=0.05)
    # reported chi2 is the DATA chi2: worse under the conflicting prior
    assert out_pinned[-1] > out_free[-1]
    # uniform prior acts as a hard support: t0 confined to [50, 60]
    u = [LnPrior.none(), LnPrior.none(), LnPrior.uniform(50.0, 60.0),
         LnPrior.none(), LnPrior.none()]
    boxed = make_kernel("bazin_fit", init=[4.0, 1.0, 55.0, 4.0, 12.0],
                        ln_prior=[p.spec for p in u])
    out_boxed = evaluate_kernel(boxed, t, m, s, fill_value=None)
    assert 50.0 <= out_boxed[2] <= 60.0


def test_rainbow_fit_truth_recovery_spark(spark):
    """RainbowFit default config (Bazin x sigmoid-T x Planck, per-band
    baselines): synthetic multiband curves generated FROM the model must be
    recovered through the Spark operator (the reference's own test
    strategy, features/rainbow tests)."""
    from light_curve_python_spark.functions.rainbow import (
        RAINBOW_PARAM_NAMES,
        rainbow_model,
    )
    from light_curve_python_spark.operators.spectral import rainbow_fit

    waves = {"g": 4770e-8, "r": 6231e-8}
    avg_nu = 2.99792458e10 / np.mean(list(waves.values()))
    rng = np.random.default_rng(1)
    rows = []
    true_by_doc = {}
    for d in range(4):
        n = 160
        t = np.sort(rng.uniform(0, 200, n))
        band = rng.choice(["g", "r"], n)
        wave_cm = np.array([waves[b] for b in band])
        true = dict(t0=60.0 + 10 * d, amplitude=8.0 + d, rise=5.0 + d,
                    fall=20.0 + 2 * d, T=8000.0 + 500 * d, T_amp=0.3,
                    t_color=10.0)
        true_by_doc[f"doc{d}"] = true
        flux = rainbow_model(t, wave_cm, avg_nu, true["t0"],
                             true["amplitude"], true["rise"], true["fall"],
                             true["T"], true["T_amp"], true["t_color"])
        flux = flux + np.where(band == "g", 0.5, 0.2)
        sigma = np.full(n, 0.02 * flux.max())
        m = flux + sigma * rng.normal(size=n)
        rows += [(f"doc{d}", float(t[i]), float(m[i]), float(sigma[i]),
                  str(band[i])) for i in range(n)]
    obs = spark.createDataFrame(
        rows, "doc_id string, t double, m double, sigma double, band string")
    got = rainbow_fit(obs, waves).toPandas().set_index("doc_id")
    assert list(got.columns) == list(RAINBOW_PARAM_NAMES) + [
        "baseline_g", "baseline_r", "r_chisq"]
    for doc, true in true_by_doc.items():
        row = got.loc[doc]
        assert row.reference_time == pytest.approx(true["t0"], abs=3.0)
        assert row.amplitude == pytest.approx(true["amplitude"], rel=0.15)
        assert row.rise_time == pytest.approx(true["rise"], rel=0.3)
        assert row.fall_time == pytest.approx(true["fall"], rel=0.2)
        assert row["T"] == pytest.approx(true["T"], rel=0.15)
        assert row.baseline_g == pytest.approx(0.5, abs=0.15)
        assert row.baseline_r == pytest.approx(0.2, abs=0.15)
        assert row.r_chisq < 2.0


def test_rainbow_fit_fill_and_registry(spark):
    from light_curve_python_spark.operators.spectral import rainbow_fit
    waves = {"g": 4770e-8, "r": 6231e-8}
    # too few points for 9 params + 1 dof -> fill row
    obs = spark.createDataFrame(
        [("a", float(i), 1.0 + 0.1 * i, 0.1, "g") for i in range(6)],
        "doc_id string, t double, m double, sigma double, band string")
    out = rainbow_fit(obs, waves, fill_value=-9.0).toPandas()
    assert (out.drop(columns="doc_id").to_numpy() == -9.0).all()
    # kernel registry facade declares names/min_obs; direct eval refuses
    k = make_kernel("rainbow_fit", band_wave_cm=waves)
    assert k.names[-1] == "r_chisq"
    assert k.min_obs == 10
    got = evaluate_kernel(k, np.arange(20.0), np.ones(20),
                          np.full(20, 0.1), fill_value=-1.0)
    assert (got == -1.0).all()


def test_rainbow_term_registry_combinations():
    """Non-default Rainbow term combos (bolometric.py sigmoid/linexp,
    temperature.py constant): synthetic data generated from each composed
    model must be recovered by the fit — the registry composes parameters
    by shared name exactly like rainbow/generic.py:108-132."""
    from light_curve_python_spark.functions.rainbow import (
        BOLOMETRIC_TERMS,
        TEMPERATURE_TERMS,
        _planck_nu,
        rainbow_fit_arrays,
        rainbow_param_names,
    )
    import math

    waves = {"g": 4770e-8, "r": 6231e-8}
    avg_nu = 2.99792458e10 / np.mean(list(waves.values()))
    rng = np.random.default_rng(7)
    n = 220
    t = np.sort(rng.uniform(0, 200, n))
    band = rng.choice(["g", "r"], n)
    wave_cm = np.array([waves[b] for b in band])

    def synth(bolometric, temperature, bol_params, temp_params):
        bol = BOLOMETRIC_TERMS[bolometric]
        temp = TEMPERATURE_TERMS[temperature]
        bolv = bol.value(t, *bol_params)
        tempv = temp.value(t, *temp_params)
        norm = 5.6703744191844314e-05 * tempv ** 4 / math.pi / avg_nu
        return _planck_nu(wave_cm, tempv) / norm * bolv

    # sigmoid bolometric x constant temperature (4 model params)
    names = rainbow_param_names("sigmoid", "constant")
    assert names == ("reference_time", "amplitude", "rise_time", "T")
    flux = synth("sigmoid", "constant",
                 (90.0, 6.0, 8.0), (7500.0,)) + np.where(band == "g",
                                                         0.4, 0.1)
    sigma = np.full(n, 0.02 * flux.max())
    m = flux + sigma * rng.normal(size=n)
    out = rainbow_fit_arrays(t, m, sigma, band, waves,
                             bolometric="sigmoid", temperature="constant")
    got = dict(zip(list(names) + ["baseline_g", "baseline_r", "r_chisq"],
                   out))
    assert got["reference_time"] == pytest.approx(90.0, abs=4.0)
    assert got["amplitude"] == pytest.approx(6.0, rel=0.2)
    assert got["rise_time"] == pytest.approx(8.0, rel=0.3)
    assert got["T"] == pytest.approx(7500.0, rel=0.15)
    assert got["r_chisq"] < 2.0

    # linexp bolometric x sigmoid temperature (reference_time shared)
    names = rainbow_param_names("linexp", "sigmoid")
    assert names == ("reference_time", "amplitude", "rise_time",
                     "T", "T_amplitude", "t_color")
    flux = synth("linexp", "sigmoid",
                 (150.0, 9.0, 40.0), (150.0, 9000.0, 0.2, 15.0))
    flux = flux + np.where(band == "g", 0.3, 0.6)
    sigma = np.full(n, 0.02 * flux.max())
    m = flux + sigma * rng.normal(size=n)
    out = rainbow_fit_arrays(t, m, sigma, band, waves,
                             bolometric="linexp", temperature="sigmoid")
    got = dict(zip(list(names) + ["baseline_g", "baseline_r", "r_chisq"],
                   out))
    assert got["reference_time"] == pytest.approx(150.0, abs=8.0)
    assert got["T"] == pytest.approx(9000.0, rel=0.25)
    assert got["r_chisq"] < 2.5


def test_rainbow_doublexp_and_delayed_sigmoid():
    """Remaining registry terms: doublexp bolometric
    (bolometric.py:357-414) and delayed-sigmoid temperature
    (temperature.py:203-284, t_delay with the weak N(0,1) scaled prior)."""
    from light_curve_python_spark.functions.rainbow import (
        BOLOMETRIC_TERMS,
        TEMPERATURE_TERMS,
        _planck_nu,
        rainbow_fit_arrays,
        rainbow_param_names,
    )
    import math
    waves = {"g": 4770e-8, "r": 6231e-8}
    avg_nu = 2.99792458e10 / np.mean(list(waves.values()))
    rng = np.random.default_rng(9)
    n = 260
    t = np.sort(rng.uniform(0, 200, n))
    band = rng.choice(["g", "r"], n)
    wave_cm = np.array([waves[b] for b in band])
    names = rainbow_param_names("doublexp", "delayed_sigmoid")
    assert names == ("reference_time", "amplitude", "time1", "time2", "p",
                     "T", "T_amplitude", "t_color", "t_delay")
    bol = BOLOMETRIC_TERMS["doublexp"].value(t, 70.0, 8.0, 30.0, 25.0, 2.0)
    tempv = TEMPERATURE_TERMS["delayed_sigmoid"].value(
        t, 70.0, 9000.0, 0.3, 12.0, 10.0)
    norm = 5.6703744191844314e-05 * tempv ** 4 / math.pi / avg_nu
    flux = _planck_nu(wave_cm, tempv) / norm * bol + 0.2
    sigma = np.full(n, 0.02 * flux.max())
    m = flux + sigma * rng.normal(size=n)
    out = rainbow_fit_arrays(t, m, sigma, band, waves,
                             bolometric="doublexp",
                             temperature="delayed_sigmoid")
    got = dict(zip(list(names) + ["baseline_g", "baseline_r", "r_chisq"],
                   out))
    # the doublexp parametrization is weakly identified (the reference
    # itself flags unstable guesses for these SR-derived shapes), so the
    # robust check is the RECONSTRUCTED model flux + goodness of fit, plus
    # the physically pinned temperature
    assert got["r_chisq"] < 3.0
    assert got["T"] == pytest.approx(9000.0, rel=0.25)
    fit_bol = BOLOMETRIC_TERMS["doublexp"].value(
        t, got["reference_time"], got["amplitude"], got["time1"],
        got["time2"], got["p"])
    fit_temp = TEMPERATURE_TERMS["delayed_sigmoid"].value(
        t, got["reference_time"], got["T"], got["T_amplitude"],
        got["t_color"], got["t_delay"])
    fit_norm = 5.6703744191844314e-05 * fit_temp ** 4 / math.pi / avg_nu
    fit_flux = (_planck_nu(wave_cm, fit_temp) / fit_norm * fit_bol
                + np.where(band == "g", got["baseline_g"],
                           got["baseline_r"]))
    resid = np.abs(fit_flux - flux)
    assert np.quantile(resid, 0.9) < 4 * sigma[0]


def test_rainbow_blanketed_planck():
    """Blanketed Planck (spectral.py:110-186): UV extinction anchored to
    the SHARED characteristic T; the only new fit parameter is
    lambda_scale.  Strongly blanketed synthetic data must be fit better
    (and with a clearly raised lambda_scale) than the plain-Planck model
    allows."""
    from light_curve_python_spark.functions.rainbow import (
        BOLOMETRIC_TERMS,
        SPECTRAL_TERMS,
        TEMPERATURE_TERMS,
        rainbow_fit_arrays,
        rainbow_param_names,
    )
    import math
    names = rainbow_param_names("bazin", "constant", "blanketed_planck")
    assert names == ("reference_time", "amplitude", "rise_time",
                     "fall_time", "T", "lambda_scale")
    # UV band (u ~ 3600A) + optical: blanketing hits the blue side hard
    waves = {"u": 3600e-8, "g": 4770e-8, "r": 6231e-8}
    avg_nu = 2.99792458e10 / np.mean(list(waves.values()))
    rng = np.random.default_rng(11)
    n = 240
    t = np.sort(rng.uniform(0, 200, n))
    band = rng.choice(["u", "g", "r"], n)
    wave_cm = np.array([waves[b] for b in band])
    # tau ~ O(1) in u needs lambda_scale ~ 0.1 at T=8000 (intensity 100)
    true_ls = 0.10
    bol = BOLOMETRIC_TERMS["bazin"].value(t, 80.0, 10.0, 6.0, 22.0)
    tempv = TEMPERATURE_TERMS["constant"].value(t, 8000.0)
    norm = 5.6703744191844314e-05 * tempv ** 4 / math.pi / avg_nu
    spec = SPECTRAL_TERMS["blanketed_planck"].value(
        wave_cm, tempv, 8000.0, true_ls)
    flux = spec / norm * bol + 0.2
    sigma = np.full(n, 0.02 * flux.max())
    m = flux + sigma * rng.normal(size=n)
    out = rainbow_fit_arrays(t, m, sigma, band, waves,
                             bolometric="bazin", temperature="constant",
                             spectral="blanketed_planck")
    got = dict(zip(list(names) + ["baseline_g", "baseline_r", "baseline_u",
                                  "r_chisq"], out))
    assert got["r_chisq"] < 2.0
    assert got["lambda_scale"] == pytest.approx(true_ls, rel=0.3)
    assert got["T"] == pytest.approx(8000.0, rel=0.2)
    # plain Planck cannot explain the suppressed u band as well (a cooler
    # T + per-band baselines absorb part of it, so the gap is moderate)
    out_plain = rainbow_fit_arrays(t, m, sigma, band, waves,
                                   bolometric="bazin",
                                   temperature="constant",
                                   spectral="planck")
    assert out_plain[-1] > 1.2 * got["r_chisq"]


def test_review_fixes_fit_guards():
    """Round-4 fits/transforms review regressions."""
    import numpy as np
    import pytest

    from light_curve_python_spark.functions.fits import (
        LnPrior,
        villar_hosseinzadeh2020_priors,
    )
    from light_curve_python_spark.functions.kernels import make_kernel

    # mix prior: log-sum-exp keeps the far tail finite (linear-space sum
    # underflowed to -inf past ~-745)
    mix = LnPrior.mix([(2 / 3, LnPrior.normal(5.0, 5.0)),
                       (1 / 3, LnPrior.normal(60.0, 30.0))])
    v = mix(1300.0)
    assert np.isfinite(v) and v < -800

    # hosseinzadeh2020 on sub-0.01 flux units: clear error, not a
    # finite-chi2 garbage fit
    t = np.linspace(0, 100, 50)
    with pytest.raises(ValueError, match="flux units"):
        villar_hosseinzadeh2020_priors(t, np.full(50, 1e-3))

    # wrong-length init/bounds and inverted pairs fail at construction
    with pytest.raises(ValueError, match="init needs 5"):
        make_kernel("bazin_fit", init=[1, 2, 3])
    with pytest.raises(ValueError, match="bounds needs 5"):
        make_kernel("bazin_fit", bounds=[(0, 1), (0, 1)])
    with pytest.raises(ValueError, match="inverted"):
        make_kernel("bazin_fit",
                    bounds=[(0, 1), (2, 1), (0, 1), (0, 1), (0, 1)])

    # rainbow n_starts outside the deterministic 1..4 schedule
    from light_curve_python_spark.functions.rainbow import (
        rainbow_fit_arrays)
    with pytest.raises(ValueError, match="n_starts"):
        rainbow_fit_arrays(t, np.ones(50), np.full(50, 0.1),
                           np.zeros(50, dtype=np.int64),
                           np.array([4813.9e-8]), n_starts=0)


def test_review_fixes_transform_domain_parity(spark):
    """Spark lg/ln1p transform columns match numpy at domain edges
    (-inf / NaN, not NULL)."""
    import numpy as np

    from light_curve_python_spark.functions.transforms import TRANSFORMS
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(0.0,), (-1.0,), (2.0,)], "x double")
    for name, xs in (("lg", [0.0, -1.0, 2.0]), ("ln1p", [0.0, -1.0, 2.0])):
        col_fn, np_fn = TRANSFORMS[name]
        got = [r.y for r in df.select(col_fn(F.col("x")).alias("y"))
               .collect()]
        with np.errstate(all="ignore"):
            want = [float(np_fn(x)) for x in xs]
        for g, w in zip(got, want):
            assert g is not None
            assert (np.isnan(g) and np.isnan(w)) or g == w, (name, g, w)


def test_fits_are_bitwise_equal_across_blas_thread_counts():
    """The LM solve and its errors run on one OpenBLAS thread, so a fit
    does not change in its last bits with the host's BLAS thread count
    (a threaded GEMM sums in another order); the caller's count is
    restored afterwards."""
    from light_curve_python_spark.functions.rainbow import rainbow_fit_arrays
    handles = FT._openblas_threads()
    if handles is None:
        pytest.skip("numpy is not on its bundled OpenBLAS")
    get, set_ = handles
    t, m, s = _noisy(FT.villar_model,
                     (80.0, 10.0, 30.0, 25.0, 0.02, 3.0, 15.0), n=2000)
    band = np.where(np.arange(len(t)) % 2 == 0, "g", "r")
    flux = m - m.min() + 1.0
    villar = make_kernel("villar_fit")
    before = get()
    outs = {}
    try:
        for n in (1, 4):
            set_(n)
            outs[n] = (
                evaluate_kernel(villar, t, m, s, fill_value=None),
                rainbow_fit_arrays(t, flux, s, band,
                                   {"g": 4770e-8, "r": 6231e-8},
                                   with_errors=True))
            assert get() == n
    finally:
        set_(before)
    for one, four in zip(outs[1], outs[4]):
        assert np.isfinite(one).all()
        assert one.tobytes() == four.tobytes()


_FIT_FIXTURES_PROBE = r"""
import json, sys
import numpy as np
sys.path.insert(0, sys.argv[1])
from light_curve_python_spark.functions.kernels import (
    evaluate_kernel, make_kernel)
from light_curve_python_spark.functions.rainbow import rainbow_fit_arrays
data = np.load(sys.argv[2])
waves = json.loads(sys.argv[3])
out = {}
for doc in json.loads(sys.argv[4]):
    out[doc] = rainbow_fit_arrays(
        data[doc + "/t"], data[doc + "/m"], data[doc + "/sigma"],
        data[doc + "/band"], waves).tolist()
bazin = make_kernel("bazin_fit")
for doc in json.loads(sys.argv[5]):
    out[doc] = evaluate_kernel(
        bazin, data[doc + "/t"], data[doc + "/m"], data[doc + "/sigma"],
        fill_value=None).tolist()
print(json.dumps(out))
"""


def _avx512_features():
    try:
        from numpy._core._multiarray_umath import __cpu_features__
    except ImportError:
        from numpy.core._multiarray_umath import __cpu_features__
    return sorted(k for k, on in __cpu_features__.items()
                  if on and k.startswith("AVX512"))


@pytest.mark.parametrize("var,value", [
    ("OPENBLAS_CORETYPE", "Haswell"), ("OPENBLAS_CORETYPE", "SkylakeX"),
    ("OPENBLAS_CORETYPE", "Nehalem"), ("OPENBLAS_CORETYPE", "Prescott"),
    ("NPY_DISABLE_CPU_FEATURES", None)],
    ids=["Haswell", "SkylakeX", "Nehalem", "Prescott", "no-avx512"])
def test_fit_fixtures_round_to_goldens_on_any_cpu_dispatch(var, value,
                                                           tmp_path):
    """The rainbow_fit and bazin_fit oracle rows compare the fits of two
    fixtures, rounded as ``_r`` rounds them, with golden literals of the
    fits' optimum.  The fit must reach those digits whatever kernels
    OpenBLAS (``OPENBLAS_CORETYPE``) and numpy's SIMD dispatch
    (``NPY_DISABLE_CPU_FEATURES``: every AVX-512 feature the host's numpy
    reports) pick, so each setting runs the fits in a fresh numpy-only
    process on the same float64 fixture arrays."""
    import __spark_entry__ as E
    if value is None:
        feats = _avx512_features()
        if not feats:
            pytest.skip("numpy reports no AVX-512 feature on this host")
        value = " ".join(feats)
    arrays = {}
    for pdf in (E._rainbow_fixture_pdf(), E._bazin_fixture_pdf()):
        for doc, g in pdf.groupby("doc_id"):
            for col in ("t", "m", "sigma", "band"):
                if col in g:
                    arrays[f"{doc}/{col}"] = g[col].to_numpy().astype(
                        "U" if col == "band" else "f8")
    path = str(tmp_path / "fixtures.npz")
    np.savez(path, **arrays)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _FIT_FIXTURES_PROBE, root, path,
         json.dumps(E.RAINBOW_WAVES), json.dumps(sorted(E.RAINBOW_GOLDEN)),
         json.dumps(sorted(E.BAZIN_GOLDEN))],
        env={**os.environ, var: value}, capture_output=True, text=True,
        timeout=300)
    assert res.returncode == 0, res.stderr
    got = json.loads(res.stdout)

    def r6(x):
        # Spark's round(x + EPS_ROUND, 6): HALF_UP on the decimal string
        return float(Decimal(repr(x + E.EPS_ROUND)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP))

    bad = []
    for golden, cols in ((E.RAINBOW_GOLDEN, E._RAINBOW_COLS),
                         (E.BAZIN_GOLDEN, E._BAZIN_COLS)):
        for doc, row in golden.items():
            for col, x in zip(cols, got[doc]):
                if r6(x) != row[col]:
                    bad.append(f"{doc}.{col}: {x!r} -> {r6(x)!r}, "
                               f"golden {row[col]!r}")
    assert not bad, f"{var}={value}: " + "; ".join(bad)
