"""Array-valued per-entity operators: periodogram spectra and dense dm-dt
maps (the reference's ``freq_power()`` / ``DmDt.points`` / ``DmDt.gausses``
surfaces, src/features.rs:4632-4706 and src/dmdt.rs:156-420).

Each returns one row per entity with ``array<double>`` payloads — the Arrow
round trip keeps them columnar end to end.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.kernels import EVAL_ERRORS, periodogram_power
from .dmdt import (count_dt_kernel, dmdt_gausses_kernel, dmdt_points_kernel,
                   normalize_dmdt)
from .grouped import grouped_map

__all__ = ["periodogram_freq_power", "multiband_periodogram",
           "multiband_power", "dmdt_maps", "rainbow_fit"]


def periodogram_freq_power(obs: DataFrame, entity_col: str = "doc_id",
                           t_col: str = "t", m_col: str = "m",
                           resolution: float = 10.0,
                           max_freq_factor: float = 1.0,
                           nyquist="average",
                           normalization: str = "psd",
                           fast: bool = True) -> DataFrame:
    """(entity, freqs array, power array) — raw Lomb-Scargle grid per
    entity.  fast=True (the reference default) uses the Press-Rybicki FFT
    evaluator.  An entity whose spectrum cannot be evaluated (one point,
    zero variance, zero time span) gets no row, like an entity with no
    usable band in :func:`multiband_power`."""
    out_fields = [
        T.StructField("freqs", T.ArrayType(T.DoubleType()), False),
        T.StructField("power", T.ArrayType(T.DoubleType()), False),
    ]

    def fn(t, m):
        try:
            freqs, power = periodogram_power(
                t, m, resolution=resolution,
                max_freq_factor=max_freq_factor, nyquist=nyquist,
                normalization=normalization, fast=fast)
        except EVAL_ERRORS:
            return None
        return [freqs], [power]

    return grouped_map(obs, entity_col, [t_col, m_col], out_fields, fn,
                       order_cols=(t_col, m_col))


def _band_power(t_all, m_all, s_all, b_all, bands, weighting, power):
    """Weighted mean of per-band standardized powers — the combine stage
    of the reference's multiband Periodogram (src/features.rs:4513-4543),
    weights 'chi2' (per-band Σ((m-m̄)/σ)²) or 'count' (per-band n).
    ``power(t, y)`` evaluates one band; bands with fewer than 3 points or
    zero variance are skipped, and ``None`` means no band was usable."""
    num = 0.0
    den = 0.0
    for b in bands:
        mask = b_all == b
        if mask.sum() < 3:
            continue
        t, m, s = t_all[mask], m_all[mask], s_all[mask]
        std = np.std(m, ddof=1)
        if std == 0:
            continue
        y = (m - np.mean(m)) / std
        w = (float(np.sum(((m - np.mean(m)) / s) ** 2))
             if weighting == "chi2" else float(len(m)))
        num = num + w * power(t, y)
        den += w
    return num / den if den > 0 else None


def multiband_periodogram(obs: DataFrame, bands: Sequence[str],
                          entity_col: str = "doc_id", t_col: str = "t",
                          m_col: str = "m", sigma_col: str = "sigma",
                          band_col: str = "band", peaks: int = 1,
                          resolution: float = 10.0,
                          max_freq_factor: float = 1.0,
                          weighting: str = "chi2",
                          fast: bool = True) -> DataFrame:
    """Multiband Lomb-Scargle (src/features.rs:4219-4227, :4513-4543):
    per-band standardized powers on a shared frequency grid (grid from the
    full multi-band time sampling), combined as a weighted mean with weights
    'chi2' (per-band Σ((m-m̄)/σ)²) or 'count' (per-band n) — a textbook
    partial/final aggregate.  Outputs peak periods + S/N like the
    single-band kernel.

    fast=True (the reference's default algorithm) evaluates each band's
    power with the Press-Rybicki O(n log n) FFT estimator: the shared auto
    grid is exactly the fast evaluator's native zero-based linear layout,
    so each band drops straight in — at survey scale the direct O(n*n_f)
    sums are the same scale-killer the single-band kernel already
    eliminated."""
    import math as _math

    from ..functions.fastperiodogram import lomb_scargle_power_fast
    from ..functions.kernels import (
        lomb_scargle_power,
        periodogram_freq_grid,
        periodogram_peak_indices,
    )
    if weighting not in ("chi2", "count"):
        raise ValueError("weighting must be 'chi2' or 'count'")
    names = [x for i in range(peaks)
             for x in (f"period_{i}", f"period_s_to_n_{i}")]

    def fn(t, m, s, b):
        freqs = periodogram_freq_grid(t, resolution, max_freq_factor)
        if fast:
            power = _band_power(t, m, s, b, bands, weighting,
                                lambda tb, y: lomb_scargle_power_fast(
                                    tb, y, freqs[0], len(freqs)))
        else:
            power = _band_power(t, m, s, b, bands, weighting,
                                lambda tb, y: lomb_scargle_power(tb, y,
                                                                 freqs))
        # missing peaks are NaN, surfacing as SQL NULL
        vals = np.full(2 * peaks, np.nan)
        if power is not None:
            top = periodogram_peak_indices(power, peaks)
            p_mean = np.mean(power)
            p_std = np.std(power, ddof=1)
            for rank, i in enumerate(top):
                vals[2 * rank] = 2.0 * _math.pi / freqs[i]
                vals[2 * rank + 1] = (power[i] - p_mean) / p_std
        return vals[:, None]

    return grouped_map(obs, entity_col, [t_col, m_col, sigma_col, band_col],
                       [T.StructField(n, T.DoubleType()) for n in names],
                       fn, order_cols=(t_col, m_col))


def multiband_power(obs: DataFrame, bands: Sequence[str],
                    freqs: Sequence[float], entity_col: str = "doc_id",
                    t_col: str = "t", m_col: str = "m",
                    sigma_col: str = "sigma", band_col: str = "band",
                    weighting: str = "chi2") -> DataFrame:
    """Raw multiband Lomb-Scargle power on an EXPLICIT angular-frequency
    grid: per-band standardized powers combined as the weighted mean with
    'chi2' (per-band Σ((m-m̄)/σ)²) or 'count' weights — the combine stage
    of multiband_periodogram (src/features.rs:4513-4543) exposed row-wise
    ``(entity, freq_idx, power)`` so an external engine can reproduce it
    in closed form (the driver's DuckDB twin).  Bands with fewer than 3
    observations or zero variance are skipped; entities with no usable
    band are dropped (both engines)."""
    from ..functions.kernels import lomb_scargle_power
    if weighting not in ("chi2", "count"):
        raise ValueError("weighting must be 'chi2' or 'count'")
    freqs_arr = np.asarray(list(freqs), dtype=np.float64)
    out_fields = [
        T.StructField("freq_idx", T.LongType(), False),
        T.StructField("power", T.DoubleType(), False),
    ]

    def fn(t, m, s, b):
        power = _band_power(t, m, s, b, bands, weighting,
                            lambda tb, y: lomb_scargle_power(tb, y,
                                                             freqs_arr))
        if power is None:
            return None
        return np.arange(len(freqs_arr), dtype=np.int64), power

    return grouped_map(obs, entity_col, [t_col, m_col, sigma_col, band_col],
                       out_fields, fn, order_cols=(t_col, m_col))


def dmdt_maps(obs: DataFrame, entity_col: str = "doc_id", t_col: str = "t",
              m_col: str = "m", sigma_col: Optional[str] = None,
              dt_edges: Optional[Sequence[float]] = None,
              dm_edges: Optional[Sequence[float]] = None,
              norm: Sequence[str] = (),
              gausses: bool = False) -> DataFrame:
    """Dense per-entity dm-dt map flattened row-major into ``array<double>``
    plus the grid shape.  ``gausses=True`` uses the erf-smeared variant
    (requires sigma)."""
    dt_e = np.asarray(dt_edges if dt_edges is not None
                      else np.logspace(-1, 2, 17))
    dm_e = np.asarray(dm_edges if dm_edges is not None
                      else np.linspace(-2, 2, 17))
    cols = [t_col, m_col]
    if gausses:
        if sigma_col is None:
            raise ValueError("gausses requires sigma_col")
        cols.append(sigma_col)
    out_fields = [
        T.StructField("dmdt", T.ArrayType(T.DoubleType()), False),
        T.StructField("n_dt", T.IntegerType(), False),
        T.StructField("n_dm", T.IntegerType(), False),
    ]

    def fn(t, m, *s):
        if gausses:
            hist = dmdt_gausses_kernel(t, m, s[0], dt_e, dm_e)
        else:
            hist = dmdt_points_kernel(t, m, dt_e, dm_e)
        dtc = count_dt_kernel(t, dt_e) if "dt" in norm else None
        hist = normalize_dmdt(hist, norm, dt_counts=dtc)
        return [hist.ravel()], [hist.shape[0]], [hist.shape[1]]

    return grouped_map(obs, entity_col, cols, out_fields, fn,
                       order_cols=(t_col, m_col))


def rainbow_fit(obs: DataFrame, band_wave_cm, entity_col: str = "doc_id",
                t_col: str = "t", m_col: str = "m", sigma_col: str = "sigma",
                band_col: str = "band", with_baseline: bool = True,
                fill_value: Optional[float] = float("nan"),
                max_iter: int = 150, n_starts: int = 4,
                bolometric: str = "bazin",
                temperature: str = "sigmoid",
                spectral: str = "planck",
                upper_limit_col: Optional[str] = None,
                with_errors: bool = False) -> DataFrame:
    """Joint multiband RainbowFit per entity (default Bazin x sigmoid-T x
    Planck configuration; see functions/rainbow.py for semantics and
    documented divergences).  One output row per entity: the unscaled
    parameters + per-band baselines + r_chisq; failed/degenerate fits
    follow the engine's fill_value contract.

    ``upper_limit_col`` names an optional boolean column marking
    non-detections: their ``m`` is the upper-limit flux and they enter the
    fit through the censored Tobit likelihood (reference minuit_ml.py:
    114-128) instead of as fake measurements.

    ``with_errors=True`` adds a ``{param}_err`` column per fitted
    parameter (HESSE-style inverse-Hessian 1-sigma, fits.lm_errors) — the
    reference's Migrad/HESSE error output contract."""
    from ..functions.rainbow import rainbow_fit_arrays, rainbow_param_names
    band_names = sorted(band_wave_cm)
    names = list(rainbow_param_names(bolometric, temperature, spectral))
    if with_baseline:
        names += [f"baseline_{b}" for b in band_names]
    if with_errors:
        names += [f"{n}_err" for n in names]
    names += ["r_chisq"]
    # the fill/finite gate applies to the VALUE outputs; an error column
    # is legitimately +inf for a parameter the data cannot constrain
    # (lm_errors' documented flat-direction contract) and must not nuke
    # an otherwise-converged row
    value_idx = np.array([i for i, nm in enumerate(names)
                          if not nm.endswith("_err")])
    err_idx = np.array([i for i, nm in enumerate(names)
                        if nm.endswith("_err")], dtype=int)
    out_fields = [T.StructField(n, T.DoubleType(), True) for n in names]
    waves = {b: float(band_wave_cm[b]) for b in band_names}

    def fn(t, m, s, b, *upper):
        try:
            with np.errstate(all="ignore"):
                vec = rainbow_fit_arrays(
                    t, m, s, b, waves,
                    with_baseline=with_baseline, max_iter=max_iter,
                    n_starts=n_starts, bolometric=bolometric,
                    temperature=temperature, spectral=spectral,
                    upper_mask=upper[0].astype(bool) if upper else None,
                    with_errors=with_errors)
            if not np.all(np.isfinite(vec[value_idx])) \
                    or (len(err_idx) and np.any(np.isnan(vec[err_idx]))):
                raise ValueError("non-finite fit")
        except (ValueError, KeyError, ZeroDivisionError, RuntimeError,
                FloatingPointError, np.linalg.LinAlgError):
            if fill_value is None:
                raise
            vec = np.full(len(names), float(fill_value))
        return np.asarray(vec, dtype=np.float64)[:, None]

    cols = [t_col, m_col, sigma_col, band_col]
    if upper_limit_col is not None:
        cols.append(upper_limit_col)
    return grouped_map(obs, entity_col, cols, out_fields, fn,
                       order_cols=(t_col, m_col))
