#!/usr/bin/env python
"""High-precision optimum of the fit fixtures: the source of the
``RAINBOW_GOLDEN`` and ``BAZIN_GOLDEN`` literals in ``__spark_entry__.py``.

The models are written out again here in mpmath at 40 significant digits,
from the formulas the engine documents, without calling the engine's model
code:

- Rainbow, default configuration (``functions/rainbow.py`` module
  docstring): a Bazin bump of unit peak (zero outside
  (-100 rise_time, 100 fall_time) around ``reference_time``) times the
  sigmoid temperature T(1 + T_amplitude (2s - 1)),
  s = 1/(1 + e^{dt/t_color}) (saturated outside +-100 t_color), times
  the Planck SED ``pi B_nu / (sigma_SB T^4)`` at nu_avg, plus one baseline
  per band; the MAP cost adds the N(0, 0.25) prior on ``T_amplitude``.
  The fit's scaling is taken as the fit computes it in float64: ``t`` by
  (mean, std), ``m`` by (per-band mean, global std), ``sigma`` by the flux
  std.  ``r_chisq`` = 0.5 chi2 / (n - n_params).
- Bazin (``functions/fits.py``): ``b + a exp(-dt/fall) / (1 + exp(-dt/rise))``,
  weights ``sigma^-2``; ``reduced_chi2`` = chi2 / (n - 5).

The fixtures' float64 arrays (``_rainbow_fixture_pdf``,
``_bazin_fixture_pdf``) are the input.  Each fit's optimum is the zero of
the MAP cost's gradient, found by Gauss-Newton with central-difference
derivatives (step 1e-18 relative), steps halved while they raise the
cost by more than its rounding, from the parameters the fixture was drawn
from.  The optima are interior to the fits' boxes, so the box plays no
part.

For every golden cell the script prints the value, its rounding under the
oracle's convention (``x + EPS_ROUND``, half-up to 6 decimals, as
``_r``), and the distance to the nearest rounding boundary; per fit it
prints the last Gauss-Newton step (max over parameters of
|step| / max(|p|, 1)).  ``--emit`` also prints the two dict literals.

    python scripts/fit_golden.py [--emit]

~2 min on one core; no Spark session is started.
"""

from __future__ import annotations

import argparse
import os
import sys

import mpmath as mp
import numpy as np

mp.mp.dps = 40

SIGMA_SB = mp.mpf("5.6703744191844314e-05")   # erg / (cm^2 s K^4)
SPEED_OF_LIGHT = mp.mpf("2.99792458e10")     # cm / s
PLANCK_H = mp.mpf("6.62607004e-27")          # erg s
BOLTZMAN_K = mp.mpf("1.380649e-16")          # erg / K
T_AMPLITUDE_PRIOR_SIGMA = mp.mpf("0.25")
DIFF_STEP = mp.mpf("1e-18")
STOP_STEP = mp.mpf("1e-21")
COST_ROUNDING = mp.mpf(10) ** (5 - mp.mp.dps)

RAINBOW_COLS = ["reference_time", "amplitude", "rise_time", "fall_time",
                "T", "T_amplitude", "t_color", "baseline_g", "baseline_r",
                "r_chisq"]
BAZIN_COLS = ["bazin_fit_a", "bazin_fit_b", "bazin_fit_t0",
              "bazin_fit_rise", "bazin_fit_fall", "bazin_fit_reduced_chi2"]


# --- models (mpmath) ----------------------------------------------------------

def rainbow_flux(t, wave, avg_nu, band_idx, p):
    """Default Rainbow flux at one point (scaled parameters ``p``:
    reference_time, amplitude, rise_time, fall_time, T, T_amplitude,
    t_color, baseline per band)."""
    t0, amp, rise, fall, temp, t_amp, t_color = p[:7]
    dt = t - t0
    if -100 * rise < dt < 100 * fall:
        r = fall / rise
        scale = r ** (rise / (fall + rise)) + r ** (-fall / (fall + rise))
        bol = amp * scale / (mp.exp(-dt / rise) + mp.exp(dt / fall))
    else:
        bol = mp.mpf(0)
    if dt <= -100 * t_color:
        t_inst = temp * (1 + t_amp)
    elif dt >= 100 * t_color:
        t_inst = temp * (1 - t_amp)
    else:
        s = 1 / (1 + mp.exp(dt / t_color))
        t_inst = temp * (1 + t_amp * (2 * s - 1))
    nu = SPEED_OF_LIGHT / wave
    x = PLANCK_H * nu / (BOLTZMAN_K * t_inst)
    planck = 2 * PLANCK_H / SPEED_OF_LIGHT ** 2 * nu ** 3 \
        * mp.exp(-x) / (-mp.expm1(-x))
    norm = SIGMA_SB * t_inst ** 4 / mp.pi / avg_nu
    return planck / norm * bol + p[7 + band_idx]


def bazin_flux(t, p):
    a, b, t0, rise, fall = p
    dt = t - t0
    return b + a * mp.exp(-dt / fall) / (1 + mp.exp(-dt / rise))


# --- Gauss-Newton on the gradient of the MAP cost -----------------------------

class Problem:
    """Weighted residuals r_i = (f(t_i; p) - y_i) / s_i plus a diagonal
    Gaussian prior: cost = sum r^2 + sum_k ((p_k - mu_k) / sigma_k)^2."""

    def __init__(self, flux, y, s, priors=None):
        self.flux = flux            # flux(i, p) -> model at point i
        self.y = y
        self.s = s
        self.priors = priors or {}  # k -> (mu, sigma)

    def residuals(self, p):
        return [(self.flux(i, p) - yi) / si
                for i, (yi, si) in enumerate(zip(self.y, self.s))]

    def chi2(self, p):
        return mp.fsum(r * r for r in self.residuals(p))

    def cost(self, p):
        return self.chi2(p) + mp.fsum(((p[k] - mu) / sg) ** 2
                                      for k, (mu, sg) in self.priors.items())

    def solve(self, p, max_iter=200):
        """Returns (p, last relative step, number of steps); stops after a
        step below STOP_STEP (~100x the noise floor that DIFF_STEP leaves
        at this precision)."""
        p = list(p)
        n = len(p)
        cost = self.cost(p)
        rel = mp.inf
        for it in range(1, max_iter + 1):
            r = self.residuals(p)
            cols = []
            for k in range(n):
                h = DIFF_STEP * max(abs(p[k]), 1)
                pp, pm = list(p), list(p)
                pp[k] += h
                pm[k] -= h
                rp, rm = self.residuals(pp), self.residuals(pm)
                cols.append([(a - b) / (2 * h) for a, b in zip(rp, rm)])
            H = mp.matrix(n, n)
            g = mp.matrix(n, 1)
            for a in range(n):
                g[a] = mp.fsum(x * y for x, y in zip(cols[a], r))
                for b in range(a, n):
                    H[a, b] = H[b, a] = mp.fsum(
                        x * y for x, y in zip(cols[a], cols[b]))
            for k, (mu, sg) in self.priors.items():
                g[k] += (p[k] - mu) / sg ** 2
                H[k, k] += 1 / sg ** 2
            delta = mp.lu_solve(H, -g)
            for _halving in range(60):
                p_new = [p[k] + delta[k] for k in range(n)]
                cost_new = self.cost(p_new)
                if cost_new <= cost * (1 + COST_ROUNDING):
                    break
                delta = delta / 2
            else:
                raise RuntimeError("no step lowers the cost")
            rel = max(abs(delta[k]) / max(abs(p[k]), 1) for k in range(n))
            p, cost = p_new, cost_new
            if rel < STOP_STEP:
                return p, rel, it
        raise RuntimeError(f"no convergence in {max_iter} steps "
                           f"(last step {mp.nstr(rel, 3)})")


# --- fixtures -----------------------------------------------------------------

def rainbow_optimum(g, waves):
    """(cells, (last step, steps)) for one Rainbow fixture curve ``g``."""
    t = g["t"].to_numpy()
    m = g["m"].to_numpy()
    sigma = g["sigma"].to_numpy()
    band = g["band"].to_numpy()
    bands = sorted(waves)
    # the fit's float64 scaling, as given
    t_shift, t_scale = float(np.mean(t)), float(np.std(t))
    m_scale = float(np.std(m))
    shift = {b: float(np.mean(m[band == b])) for b in bands}
    ts = [(mp.mpf(x) - t_shift) / t_scale for x in t]
    ms = [(mp.mpf(x) - shift[b]) / m_scale for x, b in zip(m, band)]
    ss = [mp.mpf(x) / m_scale for x in sigma]
    wave = [mp.mpf(waves[b]) for b in band]
    bidx = [bands.index(b) for b in band]
    avg_nu = SPEED_OF_LIGHT / (mp.fsum(mp.mpf(waves[b]) for b in bands)
                               / len(bands))
    prob = Problem(lambda i, p: rainbow_flux(ts[i], wave[i], avg_nu,
                                             bidx[i], p),
                   ms, ss, {5: (mp.mpf(0), T_AMPLITUDE_PRIOR_SIGMA)})
    # start: the parameters the fixture was drawn from (scaled)
    d = int(g["doc_id"].iloc[0][3:])
    start = [(60 + 10 * d - t_shift) / mp.mpf(t_scale),
             (8 + d) / mp.mpf(m_scale), (5 + d) / mp.mpf(t_scale),
             (20 + 2 * d) / mp.mpf(t_scale), mp.mpf(8000 + 500 * d),
             mp.mpf("0.3"), 10 / mp.mpf(t_scale)]
    start += [(mp.mpf(b0) - shift[b]) / m_scale
              for b, b0 in zip(bands, ("0.5", "0.2"))]
    p, *step = prob.solve(start)
    n_par = len(p)
    cells = [p[0] * t_scale + t_shift, p[1] * m_scale, p[2] * t_scale,
             p[3] * t_scale, p[4], p[5], p[6] * t_scale]
    cells += [p[7 + i] * m_scale + shift[b] for i, b in enumerate(bands)]
    cells.append(prob.chi2(p) / 2 / (len(t) - n_par))
    return cells, step


def bazin_optimum(g):
    t = [mp.mpf(x) for x in g["t"].to_numpy()]
    y = [mp.mpf(x) for x in g["m"].to_numpy()]
    s = [mp.mpf(x) for x in g["sigma"].to_numpy()]
    prob = Problem(lambda i, p: bazin_flux(t[i], p), y, s)
    e = int(g["doc_id"].iloc[0][2:])
    start = [mp.mpf(x) for x in (100 + 5 * e, 100 - 3 * e, 50 + 2 * e,
                                 10 + e, 20 + 2 * e)]
    p, *step = prob.solve(start)
    return list(p) + [prob.chi2(p) / (len(t) - len(p))], step


# --- rounding under the oracle's convention -----------------------------------

def round6(x, eps):
    """(rounded float, distance of x to the nearest rounding boundary):
    ROUND(x + eps, 6), half away from zero."""
    y = (x + eps) * 10 ** 6
    k = int(mp.sign(y) * mp.floor(abs(y) + mp.mpf("0.5")))
    frac = abs(y) - mp.floor(abs(y))
    return k / 10 ** 6, abs(frac - mp.mpf("0.5")) / 10 ** 6


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose __spark_entry__ fixtures to solve")
    ap.add_argument("--emit", action="store_true",
                    help="also print the golden dict literals")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.root))
    import __spark_entry__ as E
    eps = mp.mpf(E.EPS_ROUND)
    goldens = {}
    jobs = [("RAINBOW_GOLDEN", RAINBOW_COLS, E._rainbow_fixture_pdf(),
             lambda g: rainbow_optimum(g, E.RAINBOW_WAVES)),
            ("BAZIN_GOLDEN", BAZIN_COLS, E._bazin_fixture_pdf(),
             bazin_optimum)]
    print(f"{'entity':7} {'column':24} {'optimum':>26} {'golden':>16} "
          f"{'to boundary':>11}")
    for name, cols, pdf, solve in jobs:
        goldens[name] = {}
        for doc, g in pdf.groupby("doc_id", sort=True):
            cells, step = solve(g)
            row = {}
            for col, x in zip(cols, cells):
                rounded, dist = round6(x, eps)
                row[col] = rounded
                print(f"{doc:7} {col:24} {mp.nstr(x, 20, min_fixed=-1):>26}"
                      f" {rounded!r:>16} {mp.nstr(dist, 2):>11}")
            print(f"{doc:7} {'(last Gauss-Newton step)':24} "
                  f"{mp.nstr(step[0], 3):>26}  after {step[1]} steps")
            goldens[name][doc] = row
    if args.emit:
        for name, rows in goldens.items():
            print(f"\n{name} = {{")
            for doc, row in rows.items():
                print(f"    {doc!r}: {row!r},")
            print("}")


if __name__ == "__main__":
    main()
