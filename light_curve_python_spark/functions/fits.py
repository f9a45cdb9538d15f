"""Parametric curve-fit features: BazinFit, VillarFit, LinexpFit.

scipy is unavailable here, so the optimizer is a self-contained weighted
Levenberg–Marquardt (numerical Jacobian, box bounds by clipping) — per-curve
problem sizes are tiny (4-7 params, 10^2-10^3 points), so the pure-numpy loop
is adequate executor-side.

The LM runs in two phases.  The descent (forward-difference Jacobian, a step
accepted only if it lowers the cost) stops once a step lowers the cost by
less than ``ftol`` or moves the parameters by less than ``ptol``, relative.
That point is near the optimum but not on it: the forward differences' error
moves the fixed point, and the last digits it lands on depend on the CPU's
BLAS and SIMD kernels.  A refinement phase then takes Gauss–Newton steps on
a fourth-order finite-difference Jacobian, accepting a step unless it raises
the cost by more than rounding, and returns once a step falls below 1e-13
relative or stops halving (see ``_refine``).  On the oracle's fit fixtures
the result lies within ~1e-10*max(|p|, 1) of the optimum that
scripts/fit_golden.py solves at high precision, under every OpenBLAS core
type and numpy SIMD setting tried; the descent alone stops 4e-7 (Rainbow
``T``) to 4e-6 (``t_color``) relative away from it.

Model semantics:
- Bazin: ``b + a * exp(-dt/fall) / (1 + exp(-dt/rise))``, dt = t - t0 —
  pinned verbatim by the reference's own test
  (/root/reference/light-curve/tests/test_w_bench.py:312-315); binding class
  /root/reference/light-curve/src/features.rs:3493-3506.
- Villar: the SN plateau model of Villar et al. 2019 (ApJ 884, 83), eq. 1,
  plus a baseline: rise sigmoid × (linear plateau | exponential decline after
  t0 + gamma); 7 params (features.rs:4885-4901).
- Linexp: linear rise × exponential decay ``a·dt·exp(-dt/fall) + b``
  (features.rs:3912-3925).

Outputs per fit: fitted params + reduced chi2, names ``{prefix}_{param}`` /
``{prefix}_reduced_chi2``.  Fill semantics as all kernels: non-convergence /
non-finite => fill_value.
"""

from __future__ import annotations

import contextlib
import ctypes
import functools
import glob
import math
import os
from typing import Callable, Optional, Sequence, Tuple

import numpy as np

from .kernels import Kernel, _register, on_arrays

__all__ = ["levenberg_marquardt", "lm_errors", "norm_logcdf",
           "bazin_model", "villar_model", "linexp_model", "LnPrior",
           "villar_hosseinzadeh2020_priors"]


class LnPrior:
    """1-D parameter prior for *Fit kernels — the reference's ``ln_prior``
    submodule (/root/reference/light-curve/src/ln_prior.rs:57-149): none /
    normal / log_normal / log_uniform / uniform / mix.  The fit maximizes
    ln-likelihood + sum(ln_prior_i(param_i)), i.e. minimizes
    chi2 - 2*sum(ln_prior); outside a (log_)uniform support the prior is
    -inf and the step is rejected.

    Instances are plain picklable data; ``spec`` round-trips through JSON
    (["normal", {"mu": .., "sigma": ..}]) for plans/spec.py serialization.
    """

    def __init__(self, kind: str, **kw):
        self.kind = kind
        self.kw = kw

    # ---- constructors (mirroring ln_prior.rs function names) -------------
    @classmethod
    def none(cls):
        return cls("none")

    @classmethod
    def normal(cls, mu: float, sigma: float):
        return cls("normal", mu=float(mu), sigma=float(sigma))

    @classmethod
    def log_normal(cls, mu: float, sigma: float):
        return cls("log_normal", mu=float(mu), sigma=float(sigma))

    @classmethod
    def uniform(cls, left: float, right: float):
        return cls("uniform", left=float(left), right=float(right))

    @classmethod
    def log_uniform(cls, left: float, right: float):
        return cls("log_uniform", left=float(left), right=float(right))

    @classmethod
    def mix(cls, weights_priors):
        return cls("mix", mix=[(float(w), pr) for w, pr in weights_priors])

    # ---- (de)serialization -------------------------------------------------
    @property
    def spec(self):
        if self.kind == "mix":
            return ["mix", {"mix": [[w, pr.spec]
                                    for w, pr in self.kw["mix"]]}]
        return [self.kind, dict(self.kw)]

    @classmethod
    def from_spec(cls, spec):
        if isinstance(spec, LnPrior):
            return spec
        kind, kw = spec
        if kind == "mix":
            return cls.mix([(w, cls.from_spec(s)) for w, s in kw["mix"]])
        return cls(kind, **kw)

    def support(self) -> Tuple[float, float]:
        """Closed interval outside which the prior is -inf (used to project
        warm starts into the feasible region before a MAP fit)."""
        k = self.kind
        if k in ("uniform", "log_uniform"):
            return (self.kw["left"], self.kw["right"])
        if k == "log_normal":
            return (5e-324, math.inf)
        if k == "mix":
            los, his = zip(*(pr.support() for _, pr in self.kw["mix"]))
            return (min(los), max(his))
        return (-math.inf, math.inf)

    # ---- evaluation ----------------------------------------------------------
    def __call__(self, x: float) -> float:
        k = self.kind
        if k == "none":
            return 0.0
        kw = self.kw
        if k == "normal":
            s = kw["sigma"]
            return (-0.5 * ((x - kw["mu"]) / s) ** 2
                    - math.log(s * math.sqrt(2.0 * math.pi)))
        if k == "log_normal":
            if x <= 0:
                return -math.inf
            s = kw["sigma"]
            lx = math.log(x)
            return (-0.5 * ((lx - kw["mu"]) / s) ** 2 - lx
                    - math.log(s * math.sqrt(2.0 * math.pi)))
        if k == "uniform":
            left, right = kw["left"], kw["right"]
            if left <= x <= right:
                return -math.log(right - left)
            return -math.inf
        if k == "log_uniform":
            left, right = kw["left"], kw["right"]
            if left <= x <= right:
                return -math.log(x) - math.log(math.log(right / left))
            return -math.inf
        if k == "mix":
            # log-sum-exp: the linear-space sum underflows to -inf past
            # ~-745 where the exact log-density is finite, silently
            # turning the prior's far tail into a hard bound
            pairs = kw["mix"]
            tot = sum(w for w, _ in pairs)
            lps = [math.log(w / tot) + pr(x) for w, pr in pairs
                   if pr(x) > -math.inf]
            if not lps:
                return -math.inf
            mx = max(lps)
            return mx + math.log(sum(math.exp(lp - mx) for lp in lps))
        raise ValueError(f"unknown prior kind: {k}")


def norm_logcdf(x: np.ndarray) -> np.ndarray:
    """ln Phi(x), the reference's piecewise form (minuit_ml.py:180-191):
    asymptotic series in the far left tail (x < -5, where erf-based
    evaluation loses precision/underflows), ln(0.5) + log1p(erf(x/sqrt2))
    elsewhere.  Pure numpy (the engine's Cody erf stands in for
    scipy.special.erf)."""
    from .special import erf
    x = np.asarray(x, dtype=np.float64)
    out = np.empty_like(x)
    left = x < -5.0
    xl = x[left]
    out[left] = -xl ** 2 / 2.0 - 1.0 / xl ** 2 - 0.9189385336 \
        - np.log(-xl)
    xr = x[~left]
    out[~left] = math.log(0.5) + np.log1p(erf(xr / math.sqrt(2.0)))
    return out


def _make_residuals(model: Callable, t: np.ndarray, m: np.ndarray,
                    sw: np.ndarray,
                    upper_mask: Optional[np.ndarray]) -> Callable:
    """r(p) with sum(r^2) = 2*NLL: plain weighted residuals for
    detections, the sqrt-Tobit transform for censored rows (see
    levenberg_marquardt)."""
    def residuals(params):
        r = sw * (model(t, *params) - m)
        if upper_mask is not None:
            # z = (limit - model)/sigma = -r on censored rows
            nll = -norm_logcdf(-r[upper_mask])
            r[upper_mask] = np.sqrt(np.maximum(2.0 * nll, 0.0))
        return r
    return residuals


@functools.lru_cache(maxsize=None)
def _openblas_threads():
    """(get, set) of the thread count of numpy's bundled OpenBLAS (the
    wheel's ``numpy.libs/libopenblas64_*``, 64-bit interface), or None
    under any other BLAS."""
    libs = glob.glob(os.path.join(os.path.dirname(np.__file__), os.pardir,
                                  "numpy.libs", "libopenblas64_*.so*"))
    if len(libs) != 1:
        return None
    try:
        # numpy already loaded this file: dlopen returns the same handle
        lib = ctypes.CDLL(libs[0])
        get = lib.openblas_get_num_threads64_
        set_ = lib.openblas_set_num_threads64_
    except (OSError, AttributeError):
        return None
    get.argtypes, get.restype = [], ctypes.c_int
    set_.argtypes, set_.restype = [ctypes.c_int], None
    return get, set_


@contextlib.contextmanager
def _one_blas_thread():
    """Run the block on one OpenBLAS thread and restore the count after.
    A threaded GEMM/solve sums in another order, so the same fit would
    differ in the last bits with the host's BLAS thread count; on one
    thread it is bitwise reproducible.  No-op under any other BLAS."""
    handles = _openblas_threads()
    n = handles[0]() if handles else 1
    if n != 1:
        handles[1](1)
    try:
        yield
    finally:
        if n != 1:
            handles[1](n)


@_one_blas_thread()
def levenberg_marquardt(model: Callable, t: np.ndarray, m: np.ndarray,
                        w: np.ndarray, p0: np.ndarray,
                        lower: np.ndarray, upper: np.ndarray,
                        max_iter: int = 100, ftol: float = 1e-10,
                        ptol: float = 1e-10,
                        ln_priors: Optional[Sequence["LnPrior"]] = None,
                        upper_mask: Optional[np.ndarray] = None
                        ) -> Tuple[np.ndarray, float]:
    """Minimize sum(w * (model(t, p) - m)^2) - 2*sum(ln_prior_i(p_i)) (MAP
    when priors given, plain weighted least squares otherwise); returns
    (params, DATA chi2 — the penalty steers the optimum but is not
    reported).

    Two phases (module docstring).  The descent uses a forward-difference
    Jacobian and accepts a step only if it lowers the cost; it ends after
    ``max_iter`` steps, when no damping finds a lower cost (the point is
    returned as it is), or when an accepted step changes the cost by less
    than ``ftol`` or the parameters by less than ``ptol``, relative.  In
    that last case the refinement phase (``_refine``) continues with
    Gauss–Newton steps on a fourth-order Jacobian until a step falls
    below 1e-13 relative or stops halving; it moves no parameter by more
    than 2e-4*max(|p_k|, 1), so it polishes the optimum the descent found
    and never picks another one.

    ``upper_mask`` marks censored observations (upper limits): those rows
    contribute the Tobit term -ln Phi((m - f)/sigma) to the negative log
    likelihood instead of the Gaussian z^2/2 (reference minuit_ml.py:
    114-128).  Implemented as the square-root residual transform
    r = sqrt(2 * (-ln Phi(z))): sum(r^2) then equals 2*NLL for both row
    kinds (a detection's r stays the plain weighted residual), so the
    same LM normal equations minimize the mixed likelihood and the
    returned "chi2" remains 2*NLL_data on the shared scale."""
    p = np.clip(np.asarray(p0, dtype=np.float64), lower, upper)
    sw = np.sqrt(w)
    residuals = _make_residuals(model, t, m, sw, upper_mask)

    def penalty(params) -> float:
        if ln_priors is None:
            return 0.0
        return -2.0 * sum(pr(x) for pr, x in zip(ln_priors, params))

    r = residuals(p)
    chi2 = float(r @ r)
    cost = chi2 + penalty(p)
    if not np.isfinite(cost):
        # p0 outside a uniform prior's support: nothing sane to do
        cost = math.inf
    lam = 1e-3
    n_par = len(p)
    eye = np.eye(n_par)

    for _ in range(max_iter):
        # numerical Jacobian (forward differences, relative step)
        J = np.empty((len(t), n_par))
        for k in range(n_par):
            # absolute floor keeps the step sane when p[k] == 0
            step = 1e-6 * max(abs(p[k]), 1.0)
            pk = p.copy()
            pk[k] += step
            J[:, k] = (residuals(pk) - r) / step
        g = J.T @ r
        H = J.T @ J
        if ln_priors is not None:
            # the penalty is separable: add its per-param gradient /
            # curvature (central differences) to the normal equations; the
            # LM gradient scale is grad(C)/2
            for k, pr in enumerate(ln_priors):
                if pr.kind == "none":
                    continue
                step = 1e-6 * max(abs(p[k]), 1.0)
                f0 = -2.0 * pr(p[k])
                fp = -2.0 * pr(p[k] + step)
                fm = -2.0 * pr(p[k] - step)
                if math.isfinite(fp) and math.isfinite(fm) \
                        and math.isfinite(f0):
                    g[k] += 0.5 * (fp - fm) / (2.0 * step)
                    H[k, k] += max(0.5 * (fp - 2.0 * f0 + fm) / step ** 2,
                                   0.0)
        improved = False
        for _try in range(12):
            try:
                delta = np.linalg.solve(H + lam * np.diag(np.diag(H))
                                        + 1e-300 * eye, -g)
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            p_new = np.clip(p + delta, lower, upper)
            r_new = residuals(p_new)
            chi2_new = float(r_new @ r_new)
            cost_new = chi2_new + penalty(p_new)
            if np.isfinite(cost_new) and cost_new < cost:
                rel_f = (cost - cost_new) / max(abs(cost), 1e-300)
                rel_p = np.max(np.abs(p_new - p)
                               / np.maximum(np.abs(p), 1e-12))
                p, r, chi2, cost = p_new, r_new, chi2_new, cost_new
                lam = max(lam / 10, 1e-12)
                improved = True
                if rel_f < ftol or rel_p < ptol:
                    return _refine(residuals, penalty, ln_priors, p, r,
                                   chi2, cost, lam, lower, upper)
                break
            lam *= 10
        if not improved:
            break
    return p, chi2


def _refine_jacobian(residuals, p) -> Optional[np.ndarray]:
    """Fourth-order central-difference Jacobian at ``p`` (step
    1e-4*max(|p_k|, 1)); None if a residual on the stencil is not
    finite."""
    cols = []
    for k in range(len(p)):
        h = 1e-4 * max(abs(p[k]), 1.0)
        col = 0.0
        for off, c in ((2, -1.0), (1, 8.0), (-1, -8.0), (-2, 1.0)):
            pk = p.copy()
            pk[k] += off * h
            col = col + c * residuals(pk)
        col = col / (12.0 * h)
        if not np.all(np.isfinite(col)):
            return None
        cols.append(col)
    return np.stack(cols, axis=1)


def _prior_terms(ln_priors, p) -> Tuple[np.ndarray, np.ndarray]:
    """Gradient and (non-negative) curvature of -2*sum(ln_prior) at ``p``
    by fourth-order central differences (same step as _refine_jacobian);
    zero for a prior that is not finite on the whole stencil."""
    grad = np.zeros(len(p))
    curv = np.zeros(len(p))
    if ln_priors is None:
        return grad, curv
    for k, pr in enumerate(ln_priors):
        if pr.kind == "none":
            continue
        h = 1e-4 * max(abs(p[k]), 1.0)
        f = [-2.0 * pr(p[k] + j * h) for j in (2, 1, 0, -1, -2)]
        if all(math.isfinite(v) for v in f):
            grad[k] = (-f[0] + 8.0 * f[1] - 8.0 * f[3] + f[4]) / (12.0 * h)
            curv[k] = max((-f[0] + 16.0 * f[1] - 30.0 * f[2] + 16.0 * f[3]
                           - f[4]) / (12.0 * h * h), 0.0)
    return grad, curv


def _refine(residuals, penalty, ln_priors, p, r, chi2, cost, lam,
            lower, upper) -> Tuple[np.ndarray, float]:
    """The refinement phase of levenberg_marquardt: damped Gauss-Newton
    steps from the descent's stopping point on an accurate Jacobian
    (_refine_jacobian), so that the fit lands on the optimum itself
    rather than on the forward-difference fixed point near it.

    - A parameter on a box bound whose gradient points out of the box is
      held there (left out of the step).
    - A step is accepted unless its cost exceeds the current cost by more
      than the rounding of that cost (near the optimum a step changes the
      cost by less than its rounding, so ``<`` would stall).
    - Each step, relative to max(|p_k|, 1), must be at most 1e-4 (the
      differencing step) and at most half the previous step; the phase
      returns before the first step that is not.  So it moves each
      parameter by less than 2e-4*max(|p_k|, 1) in all and cannot carry
      the fit into another basin.
    - It returns after a step below 1e-13 (converged to rounding)."""
    n_par = len(p)
    eps = np.finfo(np.float64).eps
    limit = 1e-4
    for _ in range(64):
        J = _refine_jacobian(residuals, p)
        if J is None:
            break
        g_pr, h_pr = _prior_terms(ln_priors, p)
        g = J.T @ r + 0.5 * g_pr
        H = J.T @ J + np.diag(0.5 * h_pr)
        held = ((p <= lower) & (g > 0)) | ((p >= upper) & (g < 0))
        free = np.flatnonzero(~held)
        if not len(free):
            break
        Hf = H[np.ix_(free, free)]
        slack = 4.0 * (len(r) + n_par) * eps * (chi2 + abs(cost - chi2))
        step = None
        for _try in range(12):
            delta = np.zeros(n_par)
            try:
                delta[free] = np.linalg.solve(
                    Hf + lam * np.diag(np.diag(Hf))
                    + 1e-300 * np.eye(len(free)), -g[free])
            except np.linalg.LinAlgError:
                lam *= 10
                continue
            p_new = np.clip(p + delta, lower, upper)
            r_new = residuals(p_new)
            chi2_new = float(r_new @ r_new)
            cost_new = chi2_new + penalty(p_new)
            if np.isfinite(cost_new) and cost_new <= cost + slack:
                step = (p_new, r_new, chi2_new, cost_new)
                break
            lam *= 10
        if step is None:
            break
        rel = float(np.max(np.abs(step[0] - p) / np.maximum(np.abs(p), 1.0)))
        if rel > limit and rel >= 1e-13:
            break
        p, r, chi2, cost = step
        lam = max(lam / 10, 1e-12)
        if rel < 1e-13:
            break
        limit = 0.5 * rel
    return p, chi2


@_one_blas_thread()
def lm_errors(model: Callable, t: np.ndarray, m: np.ndarray,
              w: np.ndarray, p: np.ndarray,
              ln_priors: Optional[Sequence["LnPrior"]] = None,
              upper_mask: Optional[np.ndarray] = None) -> np.ndarray:
    """HESSE-style 1-sigma parameter errors at the optimum ``p``:
    sqrt(diag(H^-1)) with H the Gauss-Newton Hessian of the NLL,
    J_r^T J_r (+ Gaussian-prior curvature on the diagonal) — the same
    approximation Minuit's HESSE applies to the reference's LIKELIHOOD-
    errordef cost (_base.py Migrad/HESSE protocol).  ZERO-CURVATURE
    directions (a parameter with an exactly-zero Jacobian column, i.e.
    the data does not constrain it at all) give +inf via the
    pseudo-inverse guard.  A parameter railed at a box bound with a
    nonzero gradient is NOT detected here: it reports the finite
    curvature-based error, which ignores the bound truncation (check
    ``|p - bound|`` at the call site if that distinction matters).

    DOCUMENTED DIVERGENCE: HESSE differentiates the exact cost; this uses
    the Gauss-Newton approximation (second-order residual terms dropped),
    exact for linear models and standard for converged least-squares fits.
    """
    p = np.asarray(p, dtype=np.float64)
    sw = np.sqrt(w)
    residuals = _make_residuals(model, t, m, sw, upper_mask)
    r = residuals(p)
    n_par = len(p)
    J = np.empty((len(t), n_par))
    for k in range(n_par):
        step = 1e-6 * max(abs(p[k]), 1.0)
        pk = p.copy()
        pk[k] += step
        J[:, k] = (residuals(pk) - r) / step
    H = J.T @ J
    if ln_priors is not None:
        for k, pr in enumerate(ln_priors):
            if pr.kind == "none":
                continue
            step = 1e-6 * max(abs(p[k]), 1.0)
            f0 = -2.0 * pr(p[k])
            fp = -2.0 * pr(p[k] + step)
            fm = -2.0 * pr(p[k] - step)
            if math.isfinite(fp) and math.isfinite(fm) \
                    and math.isfinite(f0):
                H[k, k] += max(0.5 * (fp - 2.0 * f0 + fm) / step ** 2, 0.0)
    cov = np.linalg.pinv(H, hermitian=True)
    var = np.diag(cov).copy()
    # a parameter the data does not constrain at all (zero J column) has
    # pinv-variance 0 — report inf, not spuriously perfect confidence
    flat = np.diag(H) <= 0
    var[flat] = np.inf
    return np.sqrt(np.maximum(var, 0.0))


# --- models ------------------------------------------------------------------

def bazin_model(t, a, b, t0, rise, fall):
    dt = t - t0
    with np.errstate(over="ignore"):
        return b + a * np.exp(-dt / fall) / (1.0 + np.exp(-dt / rise))


def villar_model(t, a, b, t0, gamma, beta, tau_rise, tau_fall):
    dt = t - t0
    with np.errstate(over="ignore"):
        sigmoid = 1.0 / (1.0 + np.exp(-dt / tau_rise))
        plateau = a * (1.0 - beta * dt) * sigmoid
        decline = (a * (1.0 - beta * gamma)
                   * np.exp(-(dt - gamma) / tau_fall) * sigmoid)
        return b + np.where(dt < gamma, plateau, decline)


def linexp_model(t, a, b, t0, fall):
    dt = t - t0
    with np.errstate(over="ignore"):
        return b + a * dt * np.exp(-dt / fall)


# --- named prior presets -------------------------------------------------------

def villar_hosseinzadeh2020_priors(t, m):
    """The reference's named VillarFit prior preset
    (/root/reference/light-curve/src/features.rs:4893-4900,
    ``ln_prior='hosseinzadeh2020'``), re-derived from the published source
    it credits: Hosseinzadeh et al. 2020, ApJ 905, 93 (Superphot), priors
    on the Villar et al. 2019 model.  Assumes ``t`` in DAYS (the
    reference's own documented caveat) and positive survey-like flux
    units (amplitude >= 1).

    DOCUMENTED DIVERGENCE: the crate's ``VillarLnPrior::hosseinzadeh2020``
    source is absent from /root/reference, so these constants are
    re-derived from the paper and UNVERIFIED against the reference
    preset: the t0 window padding (+/-50 d on both sides), the amplitude
    log-uniform floor (1.0) and ceiling factor (100x max flux), and the
    beta upper bound (0.01/d).  Pin against reference outputs when an
    installable wheel or the crate source is available.

    Per-curve (data-adaptive bounds), ordered as the engine's villar
    parametrization (a, b, t0, gamma, beta, tau_rise, tau_fall):

    - amplitude: log-uniform up to 100x the max flux;
    - baseline: unconstrained (the published model carries no baseline;
      the engine's b absorbs the survey zero level);
    - t0: uniform over the data span padded by 50 d;
    - gamma: the paper's signature BIMODAL plateau-duration prior —
      2/3 N(5 d, 5 d) + 1/3 N(60 d, 30 d) (short-lived events vs
      SN IIP-like plateaus);
    - beta: uniform [0, 0.01] /d (declining plateau);
    - tau_rise: uniform [0.01, 50] d; tau_fall: uniform [1, 300] d.
    """
    if 100.0 * float(np.max(m)) <= 1.0:
        # the amplitude prior log_uniform(1, 100*max) would have an
        # empty/inverted support: the MAP cost is -inf at every start,
        # LM never moves, and the clipped start would be reported as a
        # converged fit with a finite (huge) chi2 — fail instead (the
        # operator's fill contract catches ValueError)
        raise ValueError(
            "hosseinzadeh2020 priors assume survey-like flux units with "
            f"max flux > 0.01 (got {float(np.max(m)):.3g}); rescale the "
            "flux or use explicit priors")
    return [
        LnPrior.log_uniform(1.0, 100.0 * float(np.max(m))),
        LnPrior.none(),
        LnPrior.uniform(float(t[0]) - 50.0, float(t[-1]) + 50.0),
        LnPrior.mix([(2.0 / 3.0, LnPrior.normal(5.0, 5.0)),
                     (1.0 / 3.0, LnPrior.normal(60.0, 30.0))]),
        LnPrior.uniform(0.0, 0.01),
        LnPrior.uniform(0.01, 50.0),
        LnPrior.uniform(1.0, 300.0),
    ]


_NAMED_PRIORS = {
    # key -> (fit kernel it applies to, per-curve builder)
    "hosseinzadeh2020": ("villar_fit", villar_hosseinzadeh2020_priors),
}


# --- kernel factories ---------------------------------------------------------

def _fit_kernel(key: str, model: Callable, param_names: Sequence[str],
                init_fn: Callable, bounds_fn: Callable):
    @_register(key)
    def factory(init: Optional[Sequence[float]] = None,
                bounds: Optional[Sequence[Tuple[float, float]]] = None,
                max_iter: int = 100,
                ln_prior: Optional[object] = None) -> Kernel:
        names = tuple(f"{key}_{p}" for p in param_names) \
            + (f"{key}_reduced_chi2",)
        n_par = len(param_names)
        priors = None
        named_prior = None
        if isinstance(ln_prior, str):
            # the reference's named presets (fit_evaluator! ln_prior arg,
            # features.rs:4885-4901): data-adaptive, resolved per curve
            if ln_prior == "no":
                ln_prior = None
            else:
                target, named_prior = _NAMED_PRIORS.get(
                    ln_prior, (None, None))
                if named_prior is None or target != key:
                    raise ValueError(
                        f"unsupported ln_prior name {ln_prior!r} for {key}")
        if ln_prior is not None and named_prior is None:
            priors = [LnPrior.from_spec(s) for s in ln_prior]
            if len(priors) != n_par:
                raise ValueError(
                    f"{key}: ln_prior needs {n_par} entries "
                    f"(one per parameter), got {len(priors)}")
        # validate explicit init/bounds AT CONSTRUCTION — a wrong length
        # only surfaces per curve as a broadcast error that the fill
        # contract converts into a silently all-fill column
        if init is not None and len(init) != n_par:
            raise ValueError(f"{key}: init needs {n_par} values, "
                             f"got {len(init)}")
        if bounds is not None:
            if len(bounds) != n_par:
                raise ValueError(f"{key}: bounds needs {n_par} (lo, hi) "
                                 f"pairs, got {len(bounds)}")
            for lo, hi in bounds:
                if not lo <= hi:
                    raise ValueError(
                        f"{key}: inverted bound pair ({lo}, {hi})")

        def fn(t, m, s):
            if len(t) <= n_par + 1:
                raise ValueError("not enough points")
            w = s ** -2.0
            p0 = np.asarray(init if init is not None else init_fn(t, m),
                            dtype=np.float64)
            if bounds is not None:
                lower = np.array([lo for lo, _ in bounds], dtype=np.float64)
                upper = np.array([hi for _, hi in bounds], dtype=np.float64)
            else:
                lower, upper = bounds_fn(t, m)
            curve_priors = named_prior(t, m) if named_prior is not None \
                else priors
            if curve_priors is None:
                p, chi2 = levenberg_marquardt(model, t, m, w, p0,
                                              lower, upper,
                                              max_iter=max_iter)
            else:
                # MAP is basin-sensitive when priors reshape the cost
                # surface (hard uniform supports, multimodal mixes): warm
                # start from the plain ML optimum as well as from p0 and
                # keep the better MAP cost — deterministic, and the ML fit
                # is the natural second basin candidate
                p_ml, _ = levenberg_marquardt(model, t, m, w, p0,
                                              lower, upper,
                                              max_iter=max_iter)
                # project starts into every prior's support (a hard
                # uniform bound the ML optimum violates would otherwise
                # leave the MAP run at infinite cost, unable to move)
                sup_lo, sup_hi = zip(*(pr.support()
                                       for pr in curve_priors))
                best = None
                for start in (p0, p_ml):
                    start = np.clip(start, sup_lo, sup_hi)
                    p_c, chi2_c = levenberg_marquardt(
                        model, t, m, w, start, lower, upper,
                        max_iter=max_iter, ln_priors=curve_priors)
                    pen = -2.0 * sum(pr(x) for pr, x in
                                     zip(curve_priors, p_c))
                    cost = chi2_c + pen
                    if best is None or cost < best[0]:
                        best = (cost, p_c, chi2_c)
                _, p, chi2 = best
            return np.concatenate([p, [chi2 / (len(t) - n_par)]])

        if named_prior is not None:
            prior_param = ln_prior          # the name string, JSON-stable
        elif priors is not None:
            prior_param = [pr.spec for pr in priors]
        else:
            prior_param = None
        return Kernel(key=key, names=names, func=on_arrays(fn),
                      min_obs=n_par + 2, needs_sigma=True,
                      params={"init": init, "bounds": bounds,
                              "max_iter": max_iter,
                              "ln_prior": prior_param})
    return factory


def _bazin_init(t, m):
    span = t[-1] - t[0]
    return [np.max(m) - np.min(m), np.min(m), t[int(np.argmax(m))],
            0.1 * span, 0.1 * span]


def _bazin_bounds(t, m):
    span = t[-1] - t[0]
    amp = np.max(m) - np.min(m)
    lower = np.array([0.0, np.min(m) - 10 * amp, t[0] - span,
                      1e-4 * span, 1e-4 * span])
    upper = np.array([100 * amp, np.max(m) + 10 * amp, t[-1] + span,
                      10 * span, 10 * span])
    return lower, upper


_fit_kernel("bazin_fit", bazin_model, ("a", "b", "t0", "rise", "fall"),
            _bazin_init, _bazin_bounds)


def _villar_init(t, m):
    span = t[-1] - t[0]
    return [np.max(m) - np.min(m), np.min(m), t[int(np.argmax(m))],
            0.1 * span, 0.0, 0.05 * span, 0.1 * span]


def _villar_bounds(t, m):
    span = t[-1] - t[0]
    amp = np.max(m) - np.min(m)
    lower = np.array([0.0, np.min(m) - 10 * amp, t[0] - span, 0.0,
                      -1.0 / max(span, 1e-9), 1e-4 * span, 1e-4 * span])
    upper = np.array([100 * amp, np.max(m) + 10 * amp, t[-1] + span,
                      span, 1.0 / max(span, 1e-9), 10 * span, 10 * span])
    return lower, upper


_fit_kernel("villar_fit", villar_model,
            ("a", "b", "t0", "gamma", "beta", "tau_rise", "tau_fall"),
            _villar_init, _villar_bounds)


def _linexp_init(t, m):
    span = t[-1] - t[0]
    i_max = int(np.argmax(m))
    fall0 = max(t[i_max] - t[0], 0.05 * span)
    a0 = (np.max(m) - np.min(m)) / (fall0 * math.exp(-1.0))
    return [a0, np.min(m), t[0] - 0.01 * span, fall0]


def _linexp_bounds(t, m):
    span = t[-1] - t[0]
    amp = np.max(m) - np.min(m)
    big_a = 1e3 * amp / max(1e-4 * span, 1e-12)
    lower = np.array([-big_a, np.min(m) - 10 * amp, t[0] - 2 * span,
                      1e-4 * span])
    upper = np.array([big_a, np.max(m) + 10 * amp, t[-1] + span, 10 * span])
    return lower, upper


_fit_kernel("linexp_fit", linexp_model, ("a", "b", "t0", "fall"),
            _linexp_init, _linexp_bounds)
