"""dm-dt maps — the reference's 2-D pair-histogram operator
(/root/reference/light-curve/src/dmdt.rs, see SURVEY.md §2.11).

For every observation pair (i < j) of one entity: a 2-D histogram of
(lg Δt, Δm).  The kernels here are dense numpy per-curve maps
(reference ``points``/``gausses``/``count_dt``, dmdt.rs:88-242 /
:287-420); ``operators/spectral.py`` ``dmdt_maps`` runs them once per
entity through ``grouped_map``.  ``gausses`` smears each pair over the dm
bins with the Gaussian CDF (erf), per-pair normalized.  Pairs are visited
in ``np.triu_indices`` order in bounded blocks (``_pair_blocks``), so a
long curve never holds all n(n-1)/2 pair indices at once.

Normalizations (dmdt.rs:68-86): 'dt' divides each lg-dt row by that dt
bin's TOTAL pair count — ``count_dt`` over all pairs, including pairs whose
dm falls outside the dm grid (and, for gausses, mass outside the span);
zero-count rows divide by 1.  'max' divides by the global maximum.

``edge_bin_sql`` / ``sql_double_lit`` write the same half-open binning and
the same border doubles as DuckDB SQL, for the entry queries' oracle twins.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence, Tuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.special import erf

__all__ = ["log_dt_edges", "linear_edges", "asinh_edges", "grid_edges",
           "from_borders", "dmdt_points_kernel",
           "dmdt_gausses_kernel", "count_dt_kernel", "normalize_dmdt",
           "edge_bin_sql", "sql_double_lit", "erode_observations"]


def log_dt_edges(min_lgdt: float, max_lgdt: float, n: int) -> np.ndarray:
    return np.logspace(min_lgdt, max_lgdt, n + 1)


def linear_edges(lo: float, hi: float, n: int) -> np.ndarray:
    return np.linspace(lo, hi, n + 1)


def asinh_edges(lo: float, hi: float, n: int) -> np.ndarray:
    """Borders uniform in asinh space — linear near 0, logarithmic in the
    tails, defined for negative values (the natural dm grid for
    heavy-tailed magnitude differences; the upstream light-curve-dmdt
    crate's Asinh grid family).  Consumed as a generic border array by
    every kernel here (binning is searchsorted-based, grid-agnostic)."""
    return np.sinh(np.linspace(np.arcsinh(float(lo)), np.arcsinh(float(hi)),
                               n + 1))


# the reference's uniformity tolerance (dmdt.rs:984 ``EPS = 1000 * eps``)
_GRID_EPS = 1000.0 * np.finfo(np.float64).eps


def grid_edges(borders: Sequence[float], kind: str = "auto") -> np.ndarray:
    """The reference ``DmDt(dt, dm, dt_type=..., dm_type=...)`` grid
    contract (src/dmdt.rs:900-965): validate ascending borders, then

    - ``'linear'``: regenerate a uniform grid from the first/last border
      (LinearGrid — interior values are NOT kept);
    - ``'log'``: regenerate uniform-in-lg borders from first/last
      (LgGrid; requires a positive start);
    - ``'asis'``: keep the array exactly as given (generic ArrayGrid —
      this is how arbitrary grids, e.g. ``asinh_edges``, enter);
    - ``'auto'``: detect uniform linear spacing (relative step error
      < 1000*eps), else uniform lg spacing, else fall back to as-is.
    """
    a = np.asarray(borders, dtype=np.float64)
    if a.ndim != 1 or len(a) < 2:
        raise ValueError("dmdt grid needs at least two borders")
    if not np.all(a[1:] > a[:-1]):
        raise ValueError("dmdt grid must be in ascending order")
    n = len(a) - 1
    if kind == "linear":
        return np.linspace(a[0], a[-1], n + 1)
    if kind == "log":
        if a[0] <= 0:
            raise ValueError("log grid needs a positive start")
        return np.logspace(np.log10(a[0]), np.log10(a[-1]), n + 1)
    if kind == "asis":
        return a
    if kind != "auto":
        raise ValueError(
            "grid kind must be 'auto', 'linear', 'log' or 'asis'")
    step = a[1] - a[0]
    if np.all(np.abs((step - np.diff(a[1:])) / step) < _GRID_EPS):
        return np.linspace(a[0], a[-1], n + 1)
    if a[0] > 0:
        ln_step = np.log(a[1] / a[0])
        if np.all(np.abs((ln_step - np.diff(np.log(a[1:]))) / ln_step)
                  < _GRID_EPS):
            return np.logspace(np.log10(a[0]), np.log10(a[-1]), n + 1)
    return a


def from_borders(min_lgdt: float, max_lgdt: float, lgdt_size: int,
                 max_abs_dm: float, dm_size: int
                 ) -> Tuple[np.ndarray, np.ndarray]:
    """The reference's ``DmDt.from_borders`` constructor
    (src/dmdt.rs:1048-1082): a uniform-in-lg dt grid over
    [10^min_lgdt, 10^max_lgdt] and a symmetric linear dm grid over
    [-max_abs_dm, max_abs_dm].  Returns ``(dt_edges, dm_edges)`` for the
    kernel / SQL operators here."""
    return (log_dt_edges(min_lgdt, max_lgdt, lgdt_size),
            linear_edges(-max_abs_dm, max_abs_dm, dm_size))


# pair budget of one _pair_blocks block: the kernels' temporaries cost about
# 50 bytes per pair (times the dm width for gausses), so a block stays near
# 50 MB however long the curve
_PAIR_BLOCK = 1 << 20


def _pair_blocks(n: int, width: int = 1):
    """The i < j pairs of an ``n``-point curve as ``(i, j)`` index arrays,
    in ``np.triu_indices(n, k=1)`` order, cut into blocks of whole rows
    ``i`` of at most ``_PAIR_BLOCK // width`` pairs (a longer row is a
    block of its own).  Accumulating block after block keeps the order of
    the one-shot form, so the maps are bitwise identical to it."""
    counts = np.arange(n - 1, 0, -1)          # pairs of row i: n - 1 - i
    ends = np.cumsum(counts)
    budget = max(_PAIR_BLOCK // width, 1)
    i0, done = 0, 0
    while i0 < n - 1:
        i1 = max(int(np.searchsorted(ends, done + budget, side="right")),
                 i0 + 1)
        c = counts[i0:i1]
        i = np.repeat(np.arange(i0, i1), c)
        first = np.repeat(ends[i0:i1] - c - done, c)  # block offset of row
        yield i, np.arange(len(i)) - first + i + 1
        done = int(ends[i1 - 1])
        i0 = i1


def _bin_exclusive(x: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """Half-open binning [edge_i, edge_{i+1}) including the grid contract's
    exclusive TOP edge (dmdt.rs:779 documents the plane as limited by
    [min; max)) — np.histogram would include the last bin's right edge."""
    idx = np.searchsorted(edges, x, side="right") - 1
    idx[x == edges[0]] = 0  # left edge inclusive
    out_of_range = (idx < 0) | (idx >= len(edges) - 1) | (x >= edges[-1])
    idx[out_of_range] = -1
    return idx


def dmdt_points_kernel(t: np.ndarray, m: np.ndarray,
                       dt_edges: np.ndarray,
                       dm_edges: np.ndarray) -> np.ndarray:
    """Dense (n_dt, n_dm) pair-count map (dmdt.rs:156-242); all intervals
    half-open per the reference's [min; max) grid contract."""
    t = np.asarray(t, float)
    m = np.asarray(m, float)
    dt_edges = np.asarray(dt_edges, float)
    dm_edges = np.asarray(dm_edges, float)
    hist = np.zeros((len(dt_edges) - 1, len(dm_edges) - 1))
    for i, j in _pair_blocks(len(t)):
        a = _bin_exclusive(t[j] - t[i], dt_edges)
        b = _bin_exclusive(m[j] - m[i], dm_edges)
        ok = (a >= 0) & (b >= 0)
        np.add.at(hist, (a[ok], b[ok]), 1.0)
    return hist


def dmdt_gausses_kernel(t: np.ndarray, m: np.ndarray, sigma: np.ndarray,
                        dt_edges: np.ndarray,
                        dm_edges: np.ndarray) -> np.ndarray:
    """Gaussian-smeared map (dmdt.rs:287-420): each pair contributes to its
    dt row the probability mass of N(dm_pair, sigma_i^2 + sigma_j^2) within
    each dm bin: 0.5*(erf((edge_hi - dm)/(sqrt(2) s)) - erf((edge_lo - dm)/..))."""
    t = np.asarray(t, float)
    m = np.asarray(m, float)
    sigma = np.asarray(sigma, float)
    out = np.zeros((len(dt_edges) - 1, len(dm_edges) - 1))
    for i, j in _pair_blocks(len(t), len(dm_edges)):
        dm = m[j] - m[i]
        s = np.sqrt(sigma[i] ** 2 + sigma[j] ** 2)
        row = np.searchsorted(dt_edges, t[j] - t[i], side="right") - 1
        ok = (row >= 0) & (row < out.shape[0])
        z = (dm_edges[None, :] - dm[ok, None]) \
            / (math.sqrt(2.0) * s[ok, None])
        cdf = 0.5 * (1.0 + erf(z))
        np.add.at(out, row[ok], np.diff(cdf, axis=1))
    return out


def count_dt_kernel(t: np.ndarray,
                    dt_edges: np.ndarray) -> np.ndarray:
    """1-D Δt pair histogram — the reference's ``count_dt``
    (src/dmdt.rs:88-154: ``dt_points`` over ALL pairs, no dm filtering)."""
    t = np.asarray(t, float)
    dt_edges = np.asarray(dt_edges, float)
    hist = np.zeros(len(dt_edges) - 1)
    for i, j in _pair_blocks(len(t)):
        b = _bin_exclusive(t[j] - t[i], dt_edges)
        np.add.at(hist, b[b >= 0], 1.0)
    return hist


def normalize_dmdt(hist: np.ndarray, norm: Sequence[str] = (),
                   dt_counts: Optional[np.ndarray] = None) -> np.ndarray:
    """Reference normalize (src/dmdt.rs:68-86): 'dt' divides each lg-dt row
    by ``dt_counts`` — the count_dt histogram over ALL pairs (zeros -> 1),
    NOT the in-dm-range row sum; 'max' divides by the global maximum."""
    out = hist.astype(np.float64)
    if "dt" in norm:
        if dt_counts is None:
            raise ValueError(
                "'dt' normalization needs dt_counts = count_dt_kernel(t, "
                "dt_edges): the reference divides by the total pair count "
                "of each dt bin, including pairs outside the dm grid")
        counts = np.where(np.asarray(dt_counts, float) == 0, 1.0,
                          np.asarray(dt_counts, float))
        out /= counts[:, None]
    if "max" in norm:
        mx = out.max()
        if mx > 0:
            out /= mx
    return out


def sql_double_lit(v: float) -> str:
    """An EXACT double literal for DuckDB oracle SQL.  The STRING-cast
    form is load-bearing: DuckDB types a bare fractional literal as
    DECIMAL before any cast applies, rounding the value by an ulp,
    whereas a string parses straight to DOUBLE; Python repr round-trips
    the shortest exact form, so both engines hold the same IEEE value.
    Shared by every generated twin that embeds float constants."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def edge_bin_sql(expr: str, edges: Sequence[float]) -> str:
    """``_bin_exclusive`` as a DuckDB expression over a literal border
    array: ``|{e in edges : e <= x}| - 1`` (searchsorted(right) - 1), with
    the kernels' border doubles via ``sql_double_lit``; callers keep
    ``0 <= bin < len(edges) - 1``."""
    lits = ", ".join(sql_double_lit(e) for e in edges)
    return f"(len(list_filter([{lits}], e -> e <= ({expr}))) - 1)"


def erode_observations(df: DataFrame, entity_col: str = "doc_id",
                       drop_nobs=0.0, seed: int = 0,
                       key_cols: Optional[Sequence[str]] = None,
                       on_short: str = "error") -> DataFrame:
    """Per-entity random observation erosion — the Spark mapping of the
    reference's ``points_batches``/``gausses_batches`` ``drop_nobs``
    contract (src/dmdt.rs:440-530 ``dropped_index``: per curve drop ``x``
    observations (int form) or ``round(x * n)`` (float in [0, 1)),
    sampled uniformly WITHOUT replacement; survivors keep time order;
    dropping >= n raises).

    Instead of a seeded ``rand()`` column (nondeterministic under task
    retry and partition re-planning), every row gets a deterministic
    pseudo-random rank ``md5(seed:entity:key)``.  Ranking iid hash values
    is a uniform random permutation of each curve, so keeping the
    ``n - drop`` smallest ranks is exactly a uniform sample without
    replacement — reproducible across engines (DuckDB computes the
    identical md5/rank), across retries, and across partitionings.
    Different ``seed`` values give independent erosions, which is the
    batches-iterator use case: one erosion per training epoch.

    ``key_cols`` must identify a row within its entity (default: every
    non-entity column).  Integer/string keys hash identically in any
    engine; float keys are formatted via their shortest repr (Spark
    CAST to STRING), exact for round-trip but engine-specific in corner
    cases — prefer an id column for cross-engine oracles.

    ``on_short``: 'error' raises (the reference contract) when
    ``drop >= n`` for some entity; 'skip' silently drops those entities
    (the corpus-scale convenience, where one short curve must not kill
    a 1000-executor job).
    """
    if isinstance(drop_nobs, bool):
        raise ValueError("drop_nobs must be an int count or float "
                         "fraction, not bool")
    if isinstance(drop_nobs, (int, np.integer)):
        drop_nobs = int(drop_nobs)
        if drop_nobs < 0:
            raise ValueError("drop_nobs must be >= 0")
    elif isinstance(drop_nobs, (float, np.floating)):
        drop_nobs = float(drop_nobs)
        if not 0.0 <= drop_nobs < 1.0:
            raise ValueError(
                "if drop_nobs is float, it must be in [0.0, 1.0)")
    else:
        raise TypeError(f"drop_nobs must be int or float, "
                        f"got {type(drop_nobs).__name__}")
    if on_short not in ("error", "skip"):
        raise ValueError("on_short must be 'error' or 'skip'")
    reserved = {"_erode_n", "_erode_rk", "_keep"} & set(df.columns)
    if reserved:
        raise ValueError(f"erode_observations reserves column names "
                         f"{sorted(reserved)}; rename them first")
    keys = list(key_cols) if key_cols is not None else \
        [c for c in df.columns if c != entity_col]
    # concat_ws silently SKIPS null inputs, which would collapse
    # ('a', NULL) and (NULL, 'a') keys onto one hash and make the survivor
    # choice run-dependent — coalesce each component to a sentinel no cast
    # output contains (a DuckDB twin using '||' must apply the same
    # coalesce; the shipped oracle row uses non-null integer keys)
    _s = lambda c: F.coalesce(c.cast("string"), F.lit("\x00null"))
    h = F.md5(F.concat_ws(
        ":", F.lit(str(seed)), _s(F.col(entity_col)),
        *[_s(F.col(k)) for k in keys]))
    # materialize _n/_rk ONCE: every later textual reference to the
    # window expression would otherwise expand into its own window
    # function (the first cut evaluated count(1) six times per row in the
    # physical Window operator)
    w = Window.partitionBy(entity_col)
    df = df.withColumn("_erode_n", F.count(F.lit(1)).over(w)) \
        .withColumn("_erode_rk", F.row_number().over(
            w.orderBy(h, *[F.col(k) for k in keys])))
    n, rk = F.col("_erode_n"), F.col("_erode_rk")
    if isinstance(drop_nobs, int):
        drop = F.lit(drop_nobs)
    else:
        # f64::round is round-half-away-from-zero; Spark/DuckDB round()
        # agree for non-negative arguments
        drop = F.round(F.lit(drop_nobs) * n).cast("long")
    if on_short == "error":
        # assert_true must sit INSIDE the surviving predicate so Catalyst
        # cannot prune it; it yields NULL on pass, so wrap in coalesce
        guard = F.coalesce(
            F.assert_true(drop < n, F.format_string(
                "cannot drop %d observations from light curve "
                "containing %d points", drop, n)).cast("boolean"),
            F.lit(True))
        keep = guard & (rk <= n - drop)
    else:
        keep = (drop < n) & (rk <= n - drop)
    return (df.withColumn("_keep", keep).filter("_keep")
            .drop("_keep", "_erode_n", "_erode_rk"))
