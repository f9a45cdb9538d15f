"""PrefixBattery — expanding-window vectorized evaluation.

Point-in-time probes over one entity are *prefixes* of the time-sorted
observation arrays (window = t <= ts).  Evaluating each probe independently
re-does O(window) work per probe; this module computes a whole probe set in
one pass:

- prefix cumulative sums (m, m², m³, m⁴, t, t², w, w·m, w·t, w·t·m, w·t²,
  w·m², Δm², (Δm/Δt)², |m-med|? no — see below) → most moment/OLS/dispersion
  features become O(1) per probe via fancy indexing;
- running extrema (max/min of m, Δt, |Δm/Δt|, m±σ) → amplitude/slope/interval
  features O(1);
- an incrementally *merged* sorted prefix (each probe's new observations are
  merge-inserted, never re-sorted) → order-statistics features (median,
  Hazen quantiles, Otsu, Anderson-Darling, counts-in-range) at O(window)
  numpy work without any per-probe sort;
- a small per-probe residual loop only for genuinely non-prefix sums
  (StetsonK / Roms absolute deviations around window-dependent centers,
  Cusum ptp).

Numerically: cumulative-sum forms differ from the kernels' two-pass
``WindowContext`` forms by O(1e-12) relative — asserted against
``evaluate_many`` at rtol 1e-9 in tests/test_battery.py.  fill_value/min_obs
semantics are those of ``evaluate_kernel``, which also evaluates every
kernel outside ``SUPPORTED`` on each probe's sliced window.  A probe's
output also depends on the OTHER probes of the same call: the flat
stetson/roms passes and the otsu subset stds take one cumsum over every
probe's snapshot and subtract per-segment bases, so the rounding of a
segment depends on the segments before it.  On the benchmark's 120
``pit_features`` entities (seed 1), evaluating each distinct window end
once and gathering differed bitwise from evaluating every probe, repeated
ends included, on 107 entities, in stetson_k, roms and the two otsu stds,
by up to 3.3e-10 relative.  So neither deduplicating repeated cutoffs
nor splitting one entity's probes across calls is bitwise-neutral until
those passes sum each segment exactly.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np

from .kernels import Kernel, _sorted_median, evaluate_kernel
from .special import chi2_sf, ndtr

__all__ = ["PrefixBattery"]


def _csum(x):
    out = np.empty(len(x) + 1)
    out[0] = 0.0
    np.cumsum(x, out=out[1:])
    return out


def _runmax(x):
    return np.maximum.accumulate(x)


def _runmin(x):
    return np.minimum.accumulate(x)


class _Ctx:
    """Lazy prefix-arrays over one entity's sorted observations."""

    def __init__(self, t, m, sigma, ends):
        self.t = t
        self.m = m
        self.sigma = sigma
        self.ends = ends                       # (P,) int window lengths
        self.k = ends.astype(np.float64)
        self.n = len(t)
        # shifted copies: central-moment prefix sums computed on these stay
        # well-conditioned (raw power sums lose ~(mean/std)^p digits to
        # cancellation).  Anchor = FIRST observation, which belongs to every
        # prefix window — so rows after a cutoff can never perturb that
        # window's arithmetic, keeping zero-leakage BIT-exact (a global mean
        # anchor would drift by 1 ulp when post-cutoff rows are added)
        self.ms = m - (m[0] if len(m) else 0.0)
        self.ts = t - (t[0] if len(t) else 0.0)
        self._c = {}

    def get(self, key):
        v = self._c.get(key)
        if v is not None:
            return v
        t, m, s = self.t, self.m, self.sigma
        if key == "cm":
            v = _csum(m)
        elif key == "cms":
            v = _csum(self.ms)
        elif key == "cms2":
            v = _csum(self.ms * self.ms)
        elif key == "cms3":
            v = _csum(self.ms ** 3)
        elif key == "cms4":
            v = _csum(self.ms ** 4)
        elif key == "ct":
            v = _csum(t)
        elif key == "cts":
            v = _csum(self.ts)
        elif key == "cts2":
            v = _csum(self.ts * self.ts)
        elif key == "ctsms":
            v = _csum(self.ts * self.ms)
        elif key == "cwms":
            v = _csum(self.get("w") * self.ms)
        elif key == "cwms2":
            v = _csum(self.get("w") * self.ms * self.ms)
        elif key == "w":
            v = s ** -2.0
        elif key == "cw":
            v = _csum(self.get("w"))
        elif key == "cwm":
            v = _csum(self.get("w") * m)
        elif key == "cwm2":
            v = _csum(self.get("w") * m * m)
        elif key == "cwt":
            v = _csum(self.get("w") * t)
        elif key == "cwt2":
            v = _csum(self.get("w") * t * t)
        elif key == "cwtm":
            v = _csum(self.get("w") * t * m)
        elif key == "cs2":
            v = _csum(s * s)
        elif key == "dm":
            v = np.diff(m)
        elif key == "dt":
            v = np.diff(t)
        elif key == "cdm2":
            v = _csum(self.get("dm") ** 2)
        elif key == "cslope2":
            v = _csum((self.get("dm") / self.get("dt")) ** 2)
        elif key == "runmax_m":
            v = _runmax(m)
        elif key == "runmin_m":
            v = _runmin(m)
        elif key == "runmax_dt":
            v = _runmax(self.get("dt")) if self.n > 1 else np.empty(0)
        elif key == "runmin_dt":
            v = _runmin(self.get("dt")) if self.n > 1 else np.empty(0)
        elif key == "runmax_absslope":
            v = (_runmax(np.abs(self.get("dm") / self.get("dt")))
                 if self.n > 1 else np.empty(0))
        elif key.startswith("runmax_msub_"):
            # parameterized by the kernel's nstd (a fixed m - s would
            # silently ignore any non-default setting)
            v = _runmax(m - float(key.rsplit("_", 1)[1]) * s)
        elif key.startswith("runmin_madd_"):
            v = _runmin(m + float(key.rsplit("_", 1)[1]) * s)
        elif key == "cumsum_m":
            v = np.cumsum(m)
        else:
            raise KeyError(key)
        self._c[key] = v
        return v

    # window-indexed helpers --------------------------------------------------
    def S(self, key):
        """prefix sum evaluated at each window end."""
        return self.get(key)[self.ends]

    def last(self, key):
        """running array evaluated at index end-1 (requires ends >= 1)."""
        arr = self.get(key)
        idx = np.clip(self.ends - 1, 0, max(len(arr) - 1, 0))
        if len(arr) == 0:
            return np.full(len(self.ends), np.nan)
        return arr[idx]

    def diff_last(self, key):
        """running-diff array at index end-2 (requires ends >= 2)."""
        arr = self.get(key)
        idx = np.clip(self.ends - 2, 0, max(len(arr) - 1, 0))
        if len(arr) == 0:
            return np.full(len(self.ends), np.nan)
        return arr[idx]

    @property
    def mean(self):
        return self.S("cm") / self.k

    @property
    def var1(self):
        return (self.S("cms2") - self.S("cms") ** 2 / self.k) / (self.k - 1)

    @property
    def wchi2(self):
        """sum w (m - wmean)^2, shift-stable."""
        return self.S("cwms2") - self.S("cwms") ** 2 / self.S("cw")

    @property
    def std1(self):
        return np.sqrt(self.var1)

    @property
    def wmean(self):
        return self.S("cwm") / self.S("cw")


class PrefixBattery:
    """Compiled probe-set evaluator for a kernel list.

    Kernels whose key is in SUPPORTED are computed via prefix math (plus the
    sorted-prefix loop); any other kernel falls back to per-window
    ``evaluate_kernel`` on the sliced arrays, so every registry feature works
    here — only speed differs.
    """

    PREFIX_KEYS = {
        "observation_count", "mean", "standard_deviation", "mean_variance",
        "weighted_mean", "kurtosis", "skew", "amplitude", "duration",
        "time_mean", "time_standard_deviation", "maximum_time_interval",
        "minimum_time_interval", "eta", "eta_e", "maximum_slope",
        "lafler_kinman_string_length", "linear_fit", "linear_trend",
        "reduced_chi2", "excess_variance", "chi2_pvar", "peak_to_peak_var",
    }
    SORTED_KEYS = {
        "median", "median_absolute_deviation", "percent_amplitude",
        "inter_percentile_range", "percent_difference_magnitude_percentile",
        "magnitude_percentage_ratio", "median_buffer_range_percentage",
        "otsu_split", "anderson_darling_normal", "beyond_n_std",
    }
    LOOP_KEYS = {"stetson_k", "roms", "cusum"}
    SUPPORTED = PREFIX_KEYS | SORTED_KEYS | LOOP_KEYS

    # deferred-snapshot flush threshold (elements ~ 8 B each);
    # overridable for tests and memory-constrained executors
    FLUSH_ELEMS = 8_000_000

    def __init__(self, kernels: Sequence[Kernel],
                 fill_value: Optional[float] = np.nan):
        self.kernels = list(kernels)
        self.fill_value = fill_value
        self.size = sum(k.size for k in kernels)
        self.needs_sorted = any(k.key in self.SORTED_KEYS or
                                k.key in self.LOOP_KEYS
                                for k in kernels)
        self.needs_loop = any(k.key in self.LOOP_KEYS for k in kernels)
        # column layout of the output matrix, for the one-pass fill:
        # kernel j owns columns [starts[j], starts[j] + sizes[j])
        self.sizes = np.array([k.size for k in self.kernels], dtype=np.int64)
        self.starts = np.cumsum(self.sizes) - self.sizes
        self.min_obs = np.array([k.min_obs for k in self.kernels])
        # reduceat needs strictly increasing in-range segment starts, so
        # a zero-width kernel (no columns to fill) takes no segment
        self._seg_kernels = np.flatnonzero(self.sizes)
        self._seg_starts = self.starts[self._seg_kernels]

    # ---- public ----------------------------------------------------------

    def evaluate_prefixes(self, t, m, sigma, ends) -> np.ndarray:
        """(P, total_size) feature matrix; ends[i] = window length of probe
        i (0 allowed => all-fill row)."""
        ends = np.asarray(ends, dtype=np.int64)
        P = len(ends)
        out = np.empty((P, self.size), dtype=np.float64)
        if P == 0:
            return out
        if len(t) == 0:  # every window empty => all fill
            if self.fill_value is None:
                raise ValueError("empty observation set")
            out[:] = float(self.fill_value)
            return out
        ctx = _Ctx(np.asarray(t, np.float64), np.asarray(m, np.float64),
                   None if sigma is None else np.asarray(sigma, np.float64),
                   ends)
        sorted_stats = self._sorted_pass(ctx) if self.needs_sorted else {}
        strict = self.fill_value is None
        with np.errstate(all="ignore"):
            for kern, c0 in zip(self.kernels, self.starts):
                cols = out[:, c0:c0 + kern.size]
                if kern.needs_sigma and ctx.sigma is None:
                    # evaluate_kernel fills sigma-requiring kernels when
                    # no sigma is provided; raising TypeError from
                    # w = s**-2 would violate that contract
                    if strict:
                        raise ValueError(f"{kern.key}: needs sigma (or a "
                                         "fill_value)")
                    cols[:] = float(self.fill_value)
                    continue
                # assignment copies: some blocks are views into the shared
                # sorted-pass arrays that a later kernel still reads
                cols[:] = np.reshape(
                    self._eval_kernel(kern, ctx, sorted_stats), cols.shape)
                if strict and (ends.min() < kern.min_obs
                               or not np.isfinite(cols).all()):
                    raise ValueError(f"{kern.key}: fill required")
        if not strict:
            # fill semantics, once over the matrix: a kernel's whole row
            # block is filled when its window is below min_obs or any of
            # its outputs is non-finite
            bad = ends[:, None] < self.min_obs
            bad[:, self._seg_kernels] |= np.logical_or.reduceat(
                ~np.isfinite(out), self._seg_starts, axis=1)
            out[np.repeat(bad, self.sizes, axis=1)] = float(self.fill_value)
        return out

    @property
    def names(self) -> List[str]:
        return [n for k in self.kernels for n in k.names]

    # ---- sorted-prefix pass ------------------------------------------------

    def _sorted_pass(self, ctx: _Ctx) -> Dict[str, np.ndarray]:
        """Maintain a merged sorted prefix; per probe compute the order
        statistics every sorted-family kernel needs.

        Asymptotics (probes processed in ascending window length):
        - the sorted prefix lives in two PREALLOCATED ping-pong buffers;
          each new chunk is merged with one searchsorted + two masked
          assignments — O(L + c) memmove-speed, never np.insert's
          allocate-and-fancy-index;
        - quantiles/median are O(1) indexing, counts-in-range
          (median_buffer_range_percentage, beyond_n_std) are O(log k)
          searchsorteds;
        - stetson/roms use the prefix-sum identity
          sum |m - c| / sigma = c*W_below - MW_below + (MW - MW_below)
          - c*(W - W_below) over w = 1/sigma and mw = m/sigma carried
          through the merge IN SORTED ORDER — one cumsum pair per probe,
          no per-element abs/divide;
        - otsu / anderson-darling / median_absolute_deviation / cusum stay
          O(k) per probe: each is a full-window functional with no prefix
          structure across probes (the reference computes them per curve
          at the same cost).
        """
        order = np.argsort(ctx.ends, kind="mergesort")
        P = len(ctx.ends)
        need_keys = {k.key for k in self.kernels}
        qs = set()
        for k in self.kernels:
            p = k.params
            if k.key == "inter_percentile_range" or \
                    k.key == "percent_difference_magnitude_percentile":
                q = p.get("quantile", 0.25)
                qs |= {q, 1 - q}
            elif k.key == "magnitude_percentage_ratio":
                qn = p.get("quantile_numerator", 0.4)
                qd = p.get("quantile_denominator", 0.05)
                qs |= {qn, 1 - qn, qd, 1 - qd}
        qs = sorted(qs)
        nstds = sorted({k.params.get("nstd", 1.0) for k in self.kernels
                        if k.key == "beyond_n_std"})
        res = {
            "median": np.full(P, np.nan),
            "medabsdev": np.full(P, np.nan),
            "otsu": np.full((P, 4), np.nan),
            "ad": np.full(P, np.nan),

            "stetson_num": np.full(P, np.nan),
            "roms_sum": np.full(P, np.nan),
            "cusum_ptp": np.full(P, np.nan),
        }
        res["quantiles"] = {q: np.full(P, np.nan) for q in qs}
        res["beyond_count"] = {v: np.full(P, np.nan) for v in nstds}
        # keyed per quantile like beyond_count: two mbrp kernels with
        # different quantiles must not share one count array
        mbrp_qs = sorted({k.params.get("quantile", 0.1)
                          for k in self.kernels
                          if k.key == "median_buffer_range_percentage"})
        res["mbrp_count"] = {q: np.full(P, np.nan) for q in mbrp_qs}
        need_median = bool(need_keys & {
            "median", "median_absolute_deviation", "percent_amplitude",
            "percent_difference_magnitude_percentile",
            "median_buffer_range_percentage", "roms"})
        need_otsu = "otsu_split" in need_keys
        need_ad = "anderson_darling_normal" in need_keys
        need_stetson = "stetson_k" in need_keys
        need_roms = "roms" in need_keys
        need_cusum = "cusum" in need_keys
        need_medabsdev = "median_absolute_deviation" in need_keys

        n = ctx.n
        m = ctx.m
        sig = ctx.sigma
        cumsum_m = ctx.get("cumsum_m") if need_cusum else None
        # sigma-less input: stetson_k must FILL (the per-kernel guard
        # below), not crash here computing sigma**-2 prefix sums
        cw = ctx.get("cw") if need_stetson and sig is not None else None
        cwm = ctx.get("cwm") if need_stetson and sig is not None else None
        if nstds:
            # zero/one-point windows divide by k or k-1 here; the NaNs are
            # the intended fill signal — silence exactly this computation
            # so real NaN regressions elsewhere still warn
            with np.errstate(invalid="ignore", divide="ignore"):
                means = ctx.mean
                stds = ctx.std1
        need_wsums = (need_stetson or need_roms) and sig is not None
        # ping-pong sorted buffers; w/mw ride along in the SAME sorted order
        buf_a = np.empty(n)
        buf_b = np.empty(n)
        # per-merge scratch, allocated ONCE (a fresh np.ones/np.arange per
        # probe was pure allocator/dispatch overhead in the profile)
        mask_buf = np.empty(n, dtype=bool)
        ar0 = np.arange(n)
        if qs:
            # Hazen plotting positions depend only on (q, k): precompute
            # the lo/hi/g gather plan for every probe OUTSIDE the loop —
            # the same expressions _hazen_sorted evaluates per call
            # (q*n + 0.5 - 1.0, clipped to [0, n-1]), vectorized over the
            # ends array, so each in-loop evaluation is one fused gather.
            # Rows with k == 0 are never read (the loop `continue`s).
            _qarr = np.asarray(qs, dtype=np.float64)
            _kf = ctx.ends.astype(np.float64)
            _kcap = np.maximum(_kf - 1.0, 0.0)[:, None]
            _qpos = np.clip(_qarr[None, :] * _kf[:, None] + 0.5 - 1.0,
                            0.0, _kcap)
            _qlo = np.floor(_qpos).astype(np.int64)
            _qhi = np.minimum(_qlo + 1,
                              np.maximum(ctx.ends - 1, 0)[:, None])
            _qg = _qpos - _qlo
            _qmat = np.full((P, len(qs)), np.nan)
        if need_wsums:
            w_time = 1.0 / sig
            # anchored to m[0] (like every central prefix sum): c*W - MW
            # with raw m would cancel catastrophically when mean >> spread
            mw_time = ctx.ms / sig
            m0 = m[0] if n else 0.0
            wbuf_a = np.empty(n)
            wbuf_b = np.empty(n)
            mwbuf_a = np.empty(n)
            mwbuf_b = np.empty(n)

        prev = 0
        ad_parts: list = []      # sorted-prefix snapshots, loop order
        ad_pis: list = []
        otsu_parts: list = []
        otsu_cums: list = []
        otsu_pis: list = []
        w_parts: list = []
        mw_parts: list = []
        w_pis: list = []
        st_j: list = []
        st_c: list = []
        ro_j: list = []
        ro_c: list = []
        # deferred snapshots copy each probe's full sorted prefix, so an
        # unbounded accumulation peaks at O(sum window lengths) — a hot
        # 50k-obs/10k-probe entity would hold GBs.  Flush each family
        # through its flat pass once it holds ~8M elements (~64 MB);
        # the flat passes already operate on arbitrary probe subsets
        # (per-segment base subtraction), so results only move by the
        # same ulp class the oracle rounding absorbs.
        _FLUSH = self.FLUSH_ELEMS
        ad_elems = otsu_elems = w_elems = 0
        ar1 = np.arange(1, n + 1) if need_cusum else None
        # hoist per-probe dict/key lookups out of the loop (pure Python
        # overhead; the arrays are the same objects res holds)
        med_arr = res["median"]
        mad_arr = res["medabsdev"]
        mbrp_pairs = [(mq, res["mbrp_count"][mq]) for mq in mbrp_qs]
        nstd_pairs = [(v, res["beyond_count"][v]) for v in nstds]
        cusum_arr = res["cusum_ptp"]
        for pi in order:
            k = int(ctx.ends[pi])
            if k > prev:
                c = k - prev
                if need_wsums:
                    chunk_order = np.argsort(m[prev:k], kind="mergesort")
                    chunk = m[prev:k][chunk_order]
                else:
                    chunk = np.sort(m[prev:k], kind="mergesort")
                if prev == 0:
                    buf_a[:c] = chunk
                    if need_wsums:
                        wbuf_a[:c] = w_time[prev:k][chunk_order]
                        mwbuf_a[:c] = mw_time[prev:k][chunk_order]
                else:
                    pos = buf_a[:prev].searchsorted(chunk)
                    tgt = pos + ar0[:c]
                    mask = mask_buf[:k]
                    mask[:] = True
                    mask[tgt] = False
                    buf_b[tgt] = chunk
                    buf_b[:k][mask] = buf_a[:prev]
                    buf_a, buf_b = buf_b, buf_a
                    if need_wsums:
                        wbuf_b[tgt] = w_time[prev:k][chunk_order]
                        wbuf_b[:k][mask] = wbuf_a[:prev]
                        mwbuf_b[tgt] = mw_time[prev:k][chunk_order]
                        mwbuf_b[:k][mask] = mwbuf_a[:prev]
                        wbuf_a, wbuf_b = wbuf_b, wbuf_a
                        mwbuf_a, mwbuf_b = mwbuf_b, mwbuf_a
                prev = k
            if k == 0:
                continue
            win_s = buf_a[:k]  # sorted prefix of length k
            if np.isnan(win_s[k - 1]):
                # non-finite magnitudes present (NaN sorts last):
                # positional order statistics would silently return a
                # finite value computed over garbage — leave every
                # sorted/loop-family output NaN (-> fill).  Ingest
                # validates finiteness; this only arises on unvalidated
                # input.
                continue
            if need_median:
                med_arr[pi] = _sorted_median(win_s)
            if qs:
                # precomputed Hazen gather plan (see above) — the same
                # (1-g)*sm[lo] + g*sm[hi] _hazen_sorted evaluates
                _qmat[pi] = (1.0 - _qg[pi]) * win_s[_qlo[pi]] \
                    + _qg[pi] * win_s[_qhi[pi]]
            if need_medabsdev and k >= 1:
                dev = np.abs(win_s - med_arr[pi])
                mid_i = k // 2
                if k % 2:
                    dev.partition(mid_i)  # fresh temporary: in place
                    mad_arr[pi] = dev[mid_i]
                else:
                    # np.median's even-n arithmetic without its wrapper
                    # stack: partition at both middles, mean of the two
                    # ((a+b)/2.0 — the same expression _mean evaluates;
                    # dev is finite here, the NaN tail bailed out above)
                    dev.partition((mid_i - 1, mid_i))
                    mad_arr[pi] = (dev[mid_i - 1] + dev[mid_i]) / 2.0
            for mq, mbrp_arr in mbrp_pairs:
                width = mq * (win_s[-1] - win_s[0]) / 2
                med = med_arr[pi]
                lo_i = win_s.searchsorted(med - width, side="right")
                hi_i = win_s.searchsorted(med + width, side="left")
                # strict |med - m| < width
                mbrp_arr[pi] = max(hi_i - lo_i, 0)
            for v, beyond_arr in nstd_pairs:
                if k < 2:
                    continue
                mean = means[pi]
                std = stds[pi]
                lo_i = win_s.searchsorted(mean - v * std, side="left")
                hi_i = win_s.searchsorted(mean + v * std, side="right")
                beyond_arr[pi] = lo_i + (k - hi_i)
            if need_otsu and k >= 2:
                # DEFERRED like AD: snapshot the sorted prefix and its
                # fresh per-segment cumsum (computed HERE so the split
                # selection stays bit-identical to np.cumsum of the
                # window — a global-cumsum-minus-offset trick would not
                # be); the icv/argmax/std arithmetic runs flat after the
                # loop
                otsu_parts.append(win_s.copy())
                otsu_cums.append(win_s.cumsum())
                otsu_pis.append(pi)
                otsu_elems += k
                if otsu_elems >= _FLUSH:
                    self._otsu_flat(otsu_parts, otsu_cums, otsu_pis,
                                    res["otsu"])
                    otsu_parts, otsu_cums, otsu_pis = [], [], []
                    otsu_elems = 0
            if need_ad and k >= 4:
                # DEFERRED: snapshot the sorted prefix; all probes' A²
                # evaluate in ONE flat ndtr/log pass after the loop (the
                # per-probe ndtr call was 58% of the full battery — its
                # branch-mask overhead dominates at a few hundred points)
                ad_parts.append(win_s.copy())
                ad_pis.append(pi)
                ad_elems += k
                if ad_elems >= _FLUSH:
                    self._ad_flat(ad_parts, ad_pis, res["ad"])
                    ad_parts, ad_pis = [], []
                    ad_elems = 0
            if need_wsums and k >= 2:
                # DEFERRED: snapshot the sorted-order weight rails; the
                # two cumsums per probe become ONE flat cumsum after the
                # loop (only two positions of each cumsum are ever read —
                # the split index and the total)
                w_parts.append(wbuf_a[:k].copy())
                mw_parts.append(mwbuf_a[:k].copy())
                w_pis.append(pi)
                if need_stetson:
                    mu = cwm[k] / cw[k]
                    st_j.append(int(win_s.searchsorted(mu)))
                    st_c.append(mu - m0)
                if need_roms:
                    med = med_arr[pi]
                    ro_j.append(int(win_s.searchsorted(med)))
                    ro_c.append(med - m0)
                w_elems += k
                if w_elems >= _FLUSH:
                    self._wsums_flat(w_parts, mw_parts, w_pis,
                                     st_j, st_c, res["stetson_num"],
                                     ro_j, ro_c, res["roms_sum"])
                    w_parts, mw_parts, w_pis = [], [], []
                    st_j, st_c, ro_j, ro_c = [], [], [], []
                    w_elems = 0
            if need_cusum and k >= 2:
                c_ = cumsum_m[:k] - ar1[:k] * (cumsum_m[k - 1] / k)
                cusum_arr[pi] = float(c_.max() - c_.min())
        if w_parts:
            self._wsums_flat(w_parts, mw_parts, w_pis,
                             st_j, st_c, res["stetson_num"],
                             ro_j, ro_c, res["roms_sum"])
        if ad_parts:
            self._ad_flat(ad_parts, ad_pis, res["ad"])
        if otsu_parts:
            self._otsu_flat(otsu_parts, otsu_cums, otsu_pis, res["otsu"])
        if qs:
            for qi, q in enumerate(qs):
                res["quantiles"][q][:] = _qmat[:, qi]
        return res

    @staticmethod
    def _wsums_flat(w_parts, mw_parts, pis, st_j, st_c, st_out,
                    ro_j, ro_c, ro_out):
        """stetson/roms weighted-sum identities over every snapshot at
        once: one flat cumsum pair with per-segment base subtraction
        (each probe reads only the split position and the segment total;
        values differ from the per-probe cumsum by ulps, absorbed by
        oracle rounding)."""
        ks = np.array([len(p) for p in w_parts], dtype=np.int64)
        starts = np.concatenate(([0], np.cumsum(ks)[:-1]))
        cs_w = np.cumsum(np.concatenate(w_parts))
        cs_mw = np.cumsum(np.concatenate(mw_parts))
        base_w = np.where(starts > 0, cs_w[starts - 1], 0.0)
        base_mw = np.where(starts > 0, cs_mw[starts - 1], 0.0)
        W = cs_w[starts + ks - 1] - base_w
        MW = cs_mw[starts + ks - 1] - base_mw

        def emit(js, cents, out):
            j = np.asarray(js, dtype=np.int64)
            c = np.asarray(cents, dtype=np.float64)
            pos = starts + j - 1
            Wb = np.where(j > 0, cs_w[np.maximum(pos, 0)] - base_w, 0.0)
            MWb = np.where(j > 0, cs_mw[np.maximum(pos, 0)] - base_mw, 0.0)
            vals = c * Wb - MWb + (MW - MWb) - c * (W - Wb)
            for i, pi in enumerate(pis):
                out[pi] = vals[i]

        if st_j:
            emit(st_j, st_c, st_out)
        if ro_j:
            emit(ro_j, ro_c, ro_out)

    @staticmethod
    def _otsu_flat(parts, cums, pis, out):
        """Otsu split over every snapshot at once.  The inter-class
        variance and its argmax are ELEMENTWISE on the in-loop per-window
        cumsums, so the chosen split is bit-identical to the per-probe
        form; the subset stds use shifted prefix-sum identities (values
        within an ulp-scale of np.std(ddof=1), absorbed by oracle
        rounding)."""
        ks = np.array([len(p) for p in parts], dtype=np.int64)
        starts = np.concatenate(([0], np.cumsum(ks)[:-1]))
        N = int(ks.sum())
        flat = np.concatenate(parts)
        flat_cum = np.concatenate(cums)
        kr = np.repeat(ks, ks).astype(np.float64)
        tot = np.repeat(flat_cum[starts + ks - 1], ks)
        lpos = np.arange(N) - np.repeat(starts, ks)      # 0-based in-segment
        cnt0 = lpos + 1.0
        with np.errstate(divide="ignore", invalid="ignore"):
            mean0 = flat_cum / cnt0
            mean1 = (tot - flat_cum) / (kr - cnt0)
            w0 = cnt0 / kr
            icv = w0 * (1.0 - w0) * (mean0 - mean1) ** 2
        icv[lpos == kr - 1] = -np.inf                    # no empty upper set
        seg_max = np.maximum.reduceat(icv, starts)
        # first index attaining the max == np.argmax's tie rule
        cand = np.where(icv == np.repeat(seg_max, ks), np.arange(N), N)
        argpos = np.minimum.reduceat(cand, starts)       # global flat index
        arg = argpos - starts                            # == old local arg
        # subset stds via prefix sums of FIRST-ELEMENT-shifted values
        # (the shift bounds the cancellation by the window range, not the
        # absolute magnitude); ddof=1, single-element subsets -> 0
        shifted = flat - np.repeat(flat[starts], ks)
        cs = np.cumsum(shifted)
        csq = np.cumsum(shifted * shifted)
        base_s = np.where(starts > 0, cs[starts - 1], 0.0)
        base_q = np.where(starts > 0, csq[starts - 1], 0.0)
        s_lo = cs[argpos] - base_s
        q_lo = csq[argpos] - base_q
        s_tot = cs[starts + ks - 1] - base_s
        q_tot = csq[starts + ks - 1] - base_q
        n_lo = (arg + 1).astype(np.float64)
        n_up = ks - n_lo
        with np.errstate(divide="ignore", invalid="ignore"):
            var_lo = (q_lo - s_lo * s_lo / n_lo) / (n_lo - 1.0)
            var_up = ((q_tot - q_lo) - (s_tot - s_lo) ** 2 / n_up) \
                / (n_up - 1.0)
        std_lo = np.where(n_lo > 1, np.sqrt(np.maximum(var_lo, 0.0)), 0.0)
        std_up = np.where(n_up > 1, np.sqrt(np.maximum(var_up, 0.0)), 0.0)
        for i, pi in enumerate(pis):
            p = argpos[i]
            out[pi] = (mean1[p] - mean0[p], std_lo[i], std_up[i],
                       (arg[i] + 1) / ks[i])

    @staticmethod
    def _ad_flat(parts, pis, out):
        """AndersonDarlingNormal over every snapshot at once: one
        concatenated ndtr + log evaluation with per-segment weights —
        logsf's reversal folds into the weight (2(k-j)+1)/k, so no
        per-segment flips are needed.  Identical formula to the per-probe
        form; summation is segment reduceat instead of np.sum (ulp-level
        difference only, absorbed by the oracle rounding)."""
        ks = np.array([len(p) for p in parts], dtype=np.int64)
        starts = np.concatenate(([0], np.cumsum(ks)[:-1]))
        flat = np.concatenate(parts)
        kr = np.repeat(ks, ks).astype(np.float64)
        means = np.add.reduceat(flat, starts) / ks
        centered = flat - np.repeat(means, ks)
        var = np.add.reduceat(centered * centered, starts) / (ks - 1.0)
        ok = var > 0
        with np.errstate(divide="ignore", invalid="ignore"):
            z = centered / np.repeat(np.sqrt(var), ks)
            cdf = ndtr(z)
            eps = np.finfo(np.float64).tiny
            logcdf = np.log(np.clip(cdf, eps, None))
            logsf = np.log(np.clip(1.0 - cdf, eps, None))
            j = np.arange(len(flat)) - np.repeat(starts, ks) + 1.0
            contrib = ((2.0 * j - 1.0) / kr * logcdf
                       + (2.0 * (kr - j) + 1.0) / kr * logsf)
            a2 = -ks - np.add.reduceat(contrib, starts)
            a2 = a2 * (1 + 4.0 / ks - 25.0 / ks ** 2)
        for i, pi in enumerate(pis):
            if ok[i]:
                out[pi] = a2[i]

    # ---- per-kernel dispatch -------------------------------------------------

    def _eval_kernel(self, kern: Kernel, ctx: _Ctx, ss: dict) -> np.ndarray:
        key = kern.key
        k = ctx.k
        if key == "observation_count":
            return k.copy()
        if key == "mean":
            return ctx.mean
        if key == "standard_deviation":
            return ctx.std1
        if key == "mean_variance":
            return ctx.std1 / ctx.mean
        if key == "weighted_mean":
            return ctx.wmean
        if key == "amplitude":
            return 0.5 * (ctx.last("runmax_m") - ctx.last("runmin_m"))
        if key == "duration":
            return ctx.t[np.clip(ctx.ends - 1, 0, None)] - ctx.t[0]
        if key == "time_mean":
            return ctx.S("ct") / k
        if key == "time_standard_deviation":
            return np.sqrt((ctx.S("cts2") - ctx.S("cts") ** 2 / k) / (k - 1))
        if key == "maximum_time_interval":
            return ctx.diff_last("runmax_dt")
        if key == "minimum_time_interval":
            return ctx.diff_last("runmin_dt")
        if key == "maximum_slope":
            return ctx.diff_last("runmax_absslope")
        if key == "eta":
            return (ctx.get("cdm2")[np.clip(ctx.ends - 1, 0, None)]
                    / ((k - 1) * ctx.var1))
        if key == "eta_e":
            span = ctx.t[np.clip(ctx.ends - 1, 0, None)] - ctx.t[0]
            return (ctx.get("cslope2")[np.clip(ctx.ends - 1, 0, None)]
                    * span ** 2 / ((k - 1) ** 3 * ctx.var1))
        if key == "lafler_kinman_string_length":
            css = ctx.S("cms2") - ctx.S("cms") ** 2 / k
            return ctx.get("cdm2")[np.clip(ctx.ends - 1, 0, None)] / css
        if key == "kurtosis":
            d = ctx.S("cms") / k  # window mean of the shifted values
            s4 = (ctx.S("cms4") - 4 * d * ctx.S("cms3")
                  + 6 * d ** 2 * ctx.S("cms2") - 3 * k * d ** 4)
            return (k * (k + 1) * s4
                    / ((k - 1) * (k - 2) * (k - 3) * ctx.var1 ** 2)
                    - 3 * (k - 1) ** 2 / ((k - 2) * (k - 3)))
        if key == "skew":
            d = ctx.S("cms") / k
            s2 = ctx.S("cms2") - k * d ** 2
            s3 = (ctx.S("cms3") - 3 * d * ctx.S("cms2") + 2 * k * d ** 3)
            g1 = (s3 / k) / (s2 / k) ** 1.5
            return g1 * np.sqrt(k * (k - 1)) / (k - 2)
        if key == "beyond_n_std":
            nstd = kern.params.get("nstd", 1.0)
            return ss["beyond_count"][nstd] / k
        if key == "excess_variance":
            return (ctx.var1 - ctx.S("cs2") / k) / ctx.mean ** 2
        if key == "reduced_chi2":
            return ctx.wchi2 / (k - 1)
        if key == "chi2_pvar":
            chi2 = ctx.wchi2
            with np.errstate(all="ignore"):
                dof = np.maximum(ctx.ends - 1, 1)
                return np.where(
                    ctx.ends >= 2,
                    chi2_sf(np.maximum(chi2, 0.0), dof), np.nan)
        if key == "peak_to_peak_var":
            nstd = float(kern.params.get("nstd", 1.0))
            a = ctx.last(f"runmax_msub_{nstd!r}")
            b = ctx.last(f"runmin_madd_{nstd!r}")
            neg = ctx.last("runmin_m") < 0
            out = (a - b) / (a + b)
            out[neg] = np.nan  # reference raises on negative flux
            return out
        if key == "linear_fit":
            S = ctx.S("cw")
            St = ctx.S("cwt")
            Sm = ctx.S("cwm")
            Stt = ctx.S("cwt2")
            Stm = ctx.S("cwtm")
            Smm = ctx.S("cwm2")
            denom = S * Stt - St * St
            slope = (S * Stm - St * Sm) / denom
            intercept = (Sm - slope * St) / S
            chi2 = Smm - intercept * Sm - slope * Stm
            sig = np.sqrt(1.0 / ((Stt / S - (St / S) ** 2) * S))
            return np.stack([slope, sig, chi2 / (k - 2)], axis=1)
        if key == "linear_trend":
            sxx = ctx.S("cts2") - ctx.S("cts") ** 2 / k
            sxy = ctx.S("ctsms") - ctx.S("cts") * ctx.S("cms") / k
            syy = ctx.S("cms2") - ctx.S("cms") ** 2 / k
            slope = sxy / sxx
            red = (syy - slope * sxy) / (k - 2)
            return np.stack([slope, np.sqrt(red / sxx), np.sqrt(red)],
                            axis=1)
        # sorted-family + loop features from the sorted pass
        if key == "median":
            return ss["median"]
        if key == "median_absolute_deviation":
            return ss["medabsdev"]
        if key == "percent_amplitude":
            med = ss["median"]
            return np.maximum(ctx.last("runmax_m") - med,
                              med - ctx.last("runmin_m"))
        if key == "inter_percentile_range":
            q = kern.params.get("quantile", 0.25)
            return ss["quantiles"][1 - q] - ss["quantiles"][q]
        if key == "percent_difference_magnitude_percentile":
            q = kern.params.get("quantile", 0.25)
            return (ss["quantiles"][1 - q] - ss["quantiles"][q]) \
                / ss["median"]
        if key == "magnitude_percentage_ratio":
            qn = kern.params.get("quantile_numerator", 0.4)
            qd = kern.params.get("quantile_denominator", 0.05)
            return (ss["quantiles"][1 - qn] - ss["quantiles"][qn]) \
                / (ss["quantiles"][1 - qd] - ss["quantiles"][qd])
        if key == "median_buffer_range_percentage":
            return ss["mbrp_count"][kern.params.get("quantile", 0.1)] / k
        if key == "otsu_split":
            return ss["otsu"]
        if key == "anderson_darling_normal":
            return ss["ad"]
        if key == "stetson_k":
            return ss["stetson_num"] / np.sqrt(k * ctx.wchi2)
        if key == "roms":
            return ss["roms_sum"] / (k - 1)
        if key == "cusum":
            return ss["cusum_ptp"] / (k * ctx.std1)
        return self._eval_fallback(kern, ctx)

    def _eval_fallback(self, kern: Kernel, ctx: _Ctx) -> np.ndarray:
        out = np.empty((len(ctx.ends), kern.size))
        for i, e in enumerate(ctx.ends):
            sl = slice(0, int(e))
            out[i] = evaluate_kernel(
                kern, ctx.t[sl], ctx.m[sl],
                None if ctx.sigma is None else ctx.sigma[sl],
                fill_value=self.fill_value)
        return out
