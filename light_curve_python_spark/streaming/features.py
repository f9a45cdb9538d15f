"""Streaming point-in-time feature extraction (the north rule's PIT
features as a live stream): per entity, emit the feature vector over all
observations with t <= the arriving row's t — exactly what the batch
engine computes per probe — by folding each micro-batch into carried
state with ``stateful.stateful_map``.

``streaming_pit_features`` carries the batch ``PrefixBattery``'s prefix
sums (n, the anchor m0/t0, Σm, Σ(m−m0), Σ(m−m0)², Σw, Σwm, running
min/max, max Δt) and extends them with seeded cumulative folds, so for an
in-order stream its moment family — observation_count, mean,
standard_deviation (ddof=1), amplitude, weighted_mean, duration,
maximum_time_interval — is bitwise the battery's.  Quantile-family
features come from a bounded histogram sketch
(``streaming_quantile_features``).  Zero temporal leakage by
construction: a row's output is computed BEFORE folding any later row.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .stateful import Arrays, stateful_map

__all__ = ["streaming_pit_features", "STREAM_FEATURE_NAMES",
           "streaming_quantile_features", "QUANTILE_STREAM_NAMES"]

STREAM_FEATURE_NAMES = ("observation_count", "mean", "standard_deviation",
                        "amplitude", "weighted_mean", "duration",
                        "maximum_time_interval")


def _schema(ts_col: str, names) -> T.StructType:
    return T.StructType([T.StructField(n, T.DoubleType())
                         for n in (ts_col,) + tuple(names)])


def _late(late_policy: str) -> str:
    if late_policy not in ("drop", "fold"):
        raise ValueError("late_policy must be 'drop' or 'fold'")
    return "drop" if late_policy == "drop" else "keep"


def _run(op, seed, x):
    """``op``-accumulate ``x`` continuing from ``seed``: ``[seed, ...]``.
    One accumulate over the seeded array is bitwise the accumulate over
    the whole history (``seed + np.cumsum(x)`` is not)."""
    return op.accumulate(np.concatenate(([seed], x)))


def streaming_pit_features(obs: DataFrame, key_col: str = "doc_id",
                           t_col: str = "t", m_col: str = "m",
                           sigma_col: str = "sigma",
                           late_policy: str = "drop") -> DataFrame:
    """One output row per observation: the moment-family feature vector of
    the entity's history INCLUDING that observation (emit-after-fold; use
    lag semantics downstream if strictly-before is needed).  Rows with a
    non-finite t or m are skipped; a zero/NaN sigma is a missing-error
    sentinel whose row enters the unweighted moments only (documented
    divergence — the batch kernel NaNs exactly the windows containing it).

    Rows within a micro-batch are processed in event-time order, but a
    row arriving in a LATER micro-batch with t below the state's last
    folded t cannot be served leakage-free from O(1) state (its history
    already contains future points).  ``late_policy``:

    - ``'drop'`` (default): late rows emit nothing and are not folded —
      every emitted vector is a LEAK-FREE feature vector computed over
      the entity's on-time history only.  Batch equivalence holds
      exactly until the first cross-batch late row; after a drop, later
      vectors for that entity are missing the dropped observation that
      a batch PIT extractor would include (zero leakage is preserved,
      batch equality is not).  Pair with source-side watermarking if
      late data must be quantified or reprocessed.
    - ``'fold'``: fold and emit anyway — the vector is over ARRIVAL
      order, leaking the already-folded future rows (duration/max_dt can
      go negative); only for pipelines that explicitly want running
      arrival-order stats."""
    late = _late(late_policy)

    def fold(_, a: Arrays, st: Arrays):
        t, m, s = a[t_col], a[m_col], a[sigma_col]
        if st["n"] == 0 and len(t):
            st["m0"], st["t0"] = m[0], t[0]
        k = st["n"] + np.arange(1.0, len(t) + 1.0)
        ms = m - st["m0"]
        w = np.where(s > 0.0, s, np.inf) ** -2.0    # bad sigma: weight 0
        dt = np.diff(t, prepend=st["last_t"])
        dt[np.isnan(dt)] = -np.inf                  # no interval before row 1
        acc = {"sm": _run(np.add, st["sm"], m),
               "sms": _run(np.add, st["sms"], ms),
               "sms2": _run(np.add, st["sms2"], ms * ms),
               "sw": _run(np.add, st["sw"], w),
               "swm": _run(np.add, st["swm"], w * m),
               "mn": _run(np.minimum, st["mn"], m),
               "mx": _run(np.maximum, st["mx"], m),
               "max_dt": _run(np.maximum, st["max_dt"], dt)}
        c = {n: v[1:] for n, v in acc.items()}
        with np.errstate(all="ignore"):
            # PrefixBattery._Ctx's formulas and fill rule (non-finite ->
            # NaN), so an in-order stream is bitwise the batch battery
            feats = np.stack([
                k, c["sm"] / k,
                np.sqrt((c["sms2"] - c["sms"] ** 2 / k) / (k - 1)),
                0.5 * (c["mx"] - c["mn"]), c["swm"] / c["sw"],
                t - st["t0"], c["max_dt"]])
        feats[~np.isfinite(feats)] = np.nan
        st.update({n: v[-1] for n, v in acc.items()})
        st["n"] = st["n"] + len(t)
        return {t_col: t, **dict(zip(STREAM_FEATURE_NAMES, feats))}, st

    # -0.0 seeds the sums: it is the exact additive identity (0.0 would
    # turn a leading -0.0 into +0.0)
    init = {"n": np.array(0.0), "m0": np.array(np.nan),
            "t0": np.array(np.nan),
            **{n: np.array(-0.0) for n in ("sm", "sms", "sms2", "sw", "swm")},
            "mn": np.array(np.inf), "mx": np.array(-np.inf),
            "max_dt": np.array(-np.inf)}
    return stateful_map(obs.select(key_col, t_col, m_col, sigma_col),
                        key_col, t_col, fold,
                        _schema(t_col, STREAM_FEATURE_NAMES), init,
                        finite_cols=[m_col], late=late)


# --- quantile family from bounded state --------------------------------------

QUANTILE_STREAM_NAMES = ("observation_count", "median",
                         "inter_percentile_range", "q05", "q95",
                         "quantile_err_bound")

_HALF_MAX = 8.988465674311579e307    # DBL_MAX / 2: keeps hi - lo finite
_QS = np.array([0.05, 0.25, 0.5, 0.75, 0.95])
_BLOCK_CELLS = 1 << 18               # rows x bins per cumulative-count block


def _hist_quantiles(counts, lo, width, n, qs):
    """Hazen quantile estimates for all ``qs`` at once, one row per
    histogram: ``counts`` is (R, bins), ``n`` (R,), the result (R, len(qs)).
    Interpolates between the two bracketing ORDER-STATISTIC estimates (the
    true k-th order statistic lies in the bin where the cumulative count
    reaches k, so each estimate — and their convex combination — is within
    one bin width of its true value; interpolating cumulative position
    directly would be off by the full gap between adjacent order
    statistics, not by a bin)."""
    cum = np.cumsum(counts, axis=1)
    h = np.clip(np.asarray(qs, dtype=np.float64) * n[:, None] - 0.5, 0.0,
                (n - 1.0)[:, None])
    k = np.floor(h).astype(np.int64)
    frac = h - k

    def order_stat(ranks):
        # first bin with cum >= rank
        idx = (cum[:, None, :] < ranks[:, :, None]).sum(axis=2)
        prev = np.where(idx > 0, np.take_along_axis(
            cum, np.maximum(idx - 1, 0), 1), 0)
        return lo + (idx + (ranks - prev - 0.5)
                     / np.take_along_axis(counts, idx, 1)) * width

    x0 = order_stat(k + 1)
    x1 = order_stat(np.minimum(k + 2, n.astype(np.int64)[:, None]))
    return (1.0 - frac) * x0 + frac * x1


def streaming_quantile_features(obs: DataFrame, key_col: str = "doc_id",
                                t_col: str = "t", m_col: str = "m",
                                bins: int = 256,
                                late_policy: str = "drop") -> DataFrame:
    """Quantile-family PIT features from BOUNDED state — the family
    ``streaming_pit_features`` cannot serve from O(1) moments.  Per
    entity the state is a ``bins``-cell equi-width histogram whose range
    doubles (merging bin pairs) whenever a value lands outside, so state
    stays O(bins) regardless of history length.

    Emits per observation: observation_count, median,
    inter_percentile_range (q75 - q25), q05, q95, and
    ``quantile_err_bound`` — the self-describing ERROR CONTRACT: every
    quantile estimate is within ``2 * (hi - lo) / bins`` (two bin
    widths — one for the histogram's value resolution, one for the
    rank-interpolation straddle) of the exact Hazen quantile of the same
    history, and the bound is emitted alongside the estimates so
    downstream consumers never guess.  The range only ever doubles, so
    ``hi - lo < 4 * true_range`` and the bound stays proportional to the
    entity's actual value spread.  Estimates are deterministic (no
    sampling) and independent of micro-batch boundaries for on-time
    rows.  Rows with a non-finite t or m are skipped.

    ``late_policy`` follows ``streaming_pit_features`` ('drop' keeps the
    zero-leakage guarantee; 'fold' is arrival-order).  Resuming a
    checkpoint with a different ``bins`` raises ``ValueError``."""
    late = _late(late_policy)
    if bins < 2 or bins % 2 != 0:
        # range doubling merges bin PAIRS; an odd count would crash at
        # the first expansion, mid-stream, after state was committed
        raise ValueError("bins must be an even number >= 2")
    init = {"lo": np.array(np.nan), "hi": np.array(np.nan),
            "counts": np.zeros(bins, np.int64)}
    return stateful_map(obs.select(key_col, t_col, m_col), key_col, t_col,
                        _quantile_fold(t_col, m_col, bins),
                        _schema(t_col, QUANTILE_STREAM_NAMES), init,
                        finite_cols=[m_col], late=late)


def _quantile_fold(t_col: str, m_col: str, bins: int):
    """The sketch's fold: rows enter the histogram in time order and each
    row's quantiles are read off the histogram that includes it.  Python
    loops once per range change (first value, first distinct value, each
    doubling) and once per block of rows, never per row."""
    block = max(1, _BLOCK_CELLS // bins)

    def fold(_, a: Arrays, st: Arrays):
        # magnitudes beyond DBL_MAX/2 clamp into the boundary cells (the
        # error contract does not cover such inputs; unclamped, range
        # doubling would overflow lo/hi to +/-inf)
        v = np.clip(a[m_col], -_HALF_MAX, _HALF_MAX)
        lo, hi, counts = float(st["lo"]), float(st["hi"]), st["counts"]
        n = float(counts.sum())
        out = []

        def cells(x):
            width = (hi - lo) / bins
            if width <= 0.0:
                # identical values, or a subnormal spread whose
                # (hi-lo)/bins underflows: everything lands in cell 0
                return np.zeros(len(x), np.int64)
            return np.clip((x - lo) / width, 0, bins - 1).astype(np.int64)

        def emit(idx):
            # add rows to cells idx in order, emitting each row's estimates
            nonlocal n
            width = (hi - lo) / bins
            for b in range(0, len(idx), block):
                cell = idx[b:b + block]
                hist = np.zeros((len(cell), bins), np.int64)
                hist[np.arange(len(cell)), cell] = 1
                hist = counts + np.cumsum(hist, axis=0)
                counts[:] = hist[-1]
                rn = n + np.arange(1.0, len(cell) + 1.0)
                n += len(cell)
                if width <= 0.0:
                    q, err = np.full((len(cell), len(_QS)), lo), hi - lo
                else:
                    q = _hist_quantiles(hist, lo, width, rn, _QS)
                    err = 2.0 * width
                out.append(np.column_stack(
                    [rn, q[:, 2], q[:, 3] - q[:, 1], q[:, 0], q[:, 4],
                     np.full(len(cell), err)]))

        i = 0
        while i < len(v):
            if np.isnan(lo):
                lo = hi = v[i]
            flat = hi == lo
            rest = v[i:]
            # rows that fit the current range (or clamp at the DBL_MAX/2
            # edges) are added without changing it
            grow = rest != lo if flat else \
                ((rest < lo) & (lo > -_HALF_MAX)) \
                | ((rest >= hi) & (hi < _HALF_MAX))
            j = i + int(np.argmax(grow)) if grow.any() else len(v)
            emit(cells(v[i:j]))
            if j == len(v):
                break
            x = v[j]
            if flat:
                # the first distinct value spreads [lo, hi] over the cells
                seed_n, seed_v = counts[0], lo
                counts[0] = 0
                lo, hi = min(lo, x), max(hi, x)
                counts[cells(np.array([seed_v]))[0]] = seed_n
                emit(cells(v[j:j + 1]))
                j += 1
            while not flat and ((x < lo and lo > -_HALF_MAX)
                                or (x >= hi and hi < _HALF_MAX)):
                # double the range, merging bin pairs (old mass maps to
                # the upper/lower half) — state stays O(bins) forever
                width = hi - lo
                merged = counts.reshape(bins // 2, 2).sum(axis=1)
                counts[:] = 0
                if x < lo:
                    counts[bins // 2:] = merged
                    lo = max(lo - width, -_HALF_MAX)
                else:
                    counts[:bins // 2] = merged
                    hi = min(hi + width, _HALF_MAX)
            i = j
        res = np.concatenate(out) if out \
            else np.empty((0, len(QUANTILE_STREAM_NAMES)))
        return ({t_col: a[t_col], **dict(zip(QUANTILE_STREAM_NAMES, res.T))},
                {"lo": lo, "hi": hi, "counts": counts})

    return fold
