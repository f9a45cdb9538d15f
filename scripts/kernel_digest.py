#!/usr/bin/env python
"""Bitwise digest of the feature kernels on a fixed golden corpus.

Prints five sha256 digests over the uint64 views of their outputs:

- ``evaluate_many``: every curve of the corpus, whole-curve windows;
- ``prefix_battery``: ``PrefixBattery.evaluate_prefixes`` on the same
  curves at nine prefix ends each (0 and n included);
- ``prefix_nosigma``: the same battery with ``sigma=None``, so every
  sigma-requiring kernel takes the battery's fill branch;
- ``prefix_fill``: the same battery with ``fill_value=-1.0``, so every
  filled block is told apart from a NaN output;
- ``dmdt``: the dm-dt kernels (``dmdt_points_kernel``,
  ``dmdt_gausses_kernel``, ``count_dt_kernel``) on every curve.

The corpus is 45 seeded curves of 1-1000 points, among them constant-``m``
curves and curves offset by 1e6 in ``t`` and ``m``.  The kernel set is the
full per-window battery plus ``chi2_pvar``, ``peak_to_peak_var``, a
periodogram with spectrum and phase-folded sub-features, and
``flux_n_not_det_before_fd``.

A kernel change is bitwise-neutral when the digests of two checkouts match:

    python scripts/kernel_digest.py --root /path/to/base/checkout
    python scripts/kernel_digest.py --root .
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

import numpy as np

BATTERY = [
    "amplitude", "mean", "median", "standard_deviation", "mean_variance",
    "median_absolute_deviation", "weighted_mean", "kurtosis", "skew",
    "percent_amplitude", "observation_count", "duration", "time_mean",
    "time_standard_deviation", "maximum_time_interval",
    "minimum_time_interval", "inter_percentile_range",
    "percent_difference_magnitude_percentile", "magnitude_percentage_ratio",
    "median_buffer_range_percentage", "beyond_n_std", "stetson_k",
    "excess_variance", "reduced_chi2", "roms", "cusum", "eta", "eta_e",
    "maximum_slope", "anderson_darling_normal",
    "lafler_kinman_string_length", "linear_fit", "linear_trend", "otsu_split",
    "chi2_pvar", "peak_to_peak_var", "flux_n_not_det_before_fd",
]


def kernels(make_kernel):
    return [make_kernel(k) for k in BATTERY] + [make_kernel(
        "periodogram", peaks=2,
        features=["mean", "standard_deviation", "beyond_n_std"],
        phase_features=["eta", "linear_fit", "stetson_k"])]


def corpus():
    rng = np.random.default_rng(20261018)
    sizes = [1, 2, 3, 4, 5, 7, 10, 16, 31, 64, 100, 200, 500, 1000, 333]
    for kind in ("plain", "constant", "offset"):
        for n in sizes:
            t = np.sort(rng.uniform(0, 1000, n))
            m = rng.uniform(15, 21, n)
            s = rng.uniform(0.5, 4.0, n)
            if kind == "constant":
                m = np.full(n, 18.25)
            elif kind == "offset":
                t = t + 1e6
                m = m + 1e6
            yield t, m, s


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose light_curve_python_spark package is digested")
    root = os.path.abspath(ap.parse_args(argv).root)
    sys.path.insert(0, root)
    from light_curve_python_spark.functions.battery import PrefixBattery
    from light_curve_python_spark.functions.kernels import (evaluate_many,
                                                            make_kernel)
    import light_curve_python_spark as pkg
    assert os.path.dirname(os.path.dirname(pkg.__file__)) == root, pkg.__file__

    ks = kernels(make_kernel)
    battery = PrefixBattery(ks)
    filled = PrefixBattery(ks, fill_value=-1.0)
    many, prefix, nosigma, fill = (hashlib.sha256() for _ in range(4))
    for t, m, s in corpus():
        many.update(evaluate_many(ks, t, m, s).view(np.uint64).tobytes())
        ends = np.unique(np.linspace(0, len(t), 9).astype(np.int64))
        for h, b, sigma in ((prefix, battery, s), (nosigma, battery, None),
                            (fill, filled, s)):
            h.update(b.evaluate_prefixes(t, m, sigma, ends)
                     .view(np.uint64).tobytes())
    print(f"evaluate_many  {many.hexdigest()}")
    print(f"prefix_battery {prefix.hexdigest()}")
    print(f"prefix_nosigma {nosigma.hexdigest()}")
    print(f"prefix_fill    {fill.hexdigest()}")
    print(f"dmdt           {dmdt_digest()}")


def dmdt_digest() -> str:
    from light_curve_python_spark.operators.dmdt import (
        asinh_edges, count_dt_kernel, dmdt_gausses_kernel,
        dmdt_points_kernel, linear_edges, log_dt_edges)
    dt_e = log_dt_edges(-1.0, 3.0, 12)
    dm_e = asinh_edges(-6.0, 6.0, 10)
    gauss_e = linear_edges(-4.0, 4.0, 16)
    h = hashlib.sha256()
    for t, m, s in corpus():
        for out in (dmdt_points_kernel(t, m, dt_e, dm_e),
                    dmdt_gausses_kernel(t, m, s, dt_e, gauss_e),
                    count_dt_kernel(t, dt_e)):
            h.update(out.view(np.uint64).tobytes())
    return h.hexdigest()


if __name__ == "__main__":
    main()
