"""Driver-side kernel controls: no Spark, one core.

They time the kernel layer directly on entities from the same seeded
generator and serve as the per-core ceiling for it: a Spark job cannot
evaluate probes faster than ``cores / battery.probe_us``.
"""

from __future__ import annotations

import time

import numpy as np

import gen


def _median_s(fn, reps: int) -> float:
    """Median seconds of ``reps`` calls after one warm call."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def kernel_controls(seed: int, sizes: dict, battery_keys, window_keys,
                    horizon: float, reps: int = 5) -> dict:
    from light_curve_python_spark.functions.battery import PrefixBattery
    from light_curve_python_spark.functions.fastperiodogram import \
        lomb_scargle_power_fast
    from light_curve_python_spark.functions.kernels import (
        evaluate_many, make_kernel, periodogram_freq_grid)

    # non-hot entities of the pit_features draw for this seed, half of
    # them at each point count
    points, n_toks = gen.entity_shapes(
        seed, sizes["entities"], sizes["n_obs"], sizes["hot"],
        sizes["hot_factor"])
    picked = []
    for n in sizes["n_obs"]:
        idx = [i for i in range(sizes["hot"], sizes["entities"])
               if points[i] == n]
        picked += idx[:sizes["controls"] // len(sizes["n_obs"])]
    ents = [gen.entity_draw(seed, i, points[i], n_toks[i],
                            sizes["probes_per_entity"]) for i in picked]

    battery = PrefixBattery([make_kernel(k) for k in battery_keys])
    ends = [np.searchsorted(t, ts, side="right") for t, _, _, ts, _ in ents]
    n_probes = sum(len(e) for e in ends)

    def run_battery():
        for (t, m, s, _, _), e in zip(ents, ends):
            battery.evaluate_prefixes(t, m, s, e)

    kernels = [make_kernel(k) for k in window_keys]
    windows = []
    for t, m, s, ts, _ in ents:
        for c in ts:
            lo = np.searchsorted(t, c - horizon, side="left")
            hi = np.searchsorted(t, c, side="right")
            windows.append((t[lo:hi], m[lo:hi], s[lo:hi]))

    def run_windows():
        for t, m, s in windows:
            evaluate_many(kernels, t, m, s)

    curves = []
    for t, m, _, _, _ in ents:
        freqs = periodogram_freq_grid(t)
        curves.append((t, m - m.mean(), freqs[0], len(freqs)))

    def run_periodogram():
        for t, y, step, nf in curves:
            lomb_scargle_power_fast(t, y, step, nf)

    return {
        "battery.probe_us": _median_s(run_battery, reps) / n_probes * 1e6,
        "kernels.window_us":
            _median_s(run_windows, reps) / len(windows) * 1e6,
        "periodogram.curve_us":
            _median_s(run_periodogram, reps) / len(curves) * 1e6,
    }
