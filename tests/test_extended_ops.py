"""Tests for multiband colors, dm-dt maps, sequence reductions, and the
periodogram composition (spectrum + phase-folded features)."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from light_curve_python_spark.datagen import (
    generate_observations,
    generate_sequences,
)
from light_curve_python_spark.functions.kernels import (
    evaluate_kernel,
    make_kernel,
)
from light_curve_python_spark.functions.multiband import (
    color_features_sql,
    color_of,
    color_spread,
    color_spread_sql,
)
from light_curve_python_spark.operators.dmdt import (
    count_dt_kernel,
    dmdt_gausses_kernel,
    dmdt_points_kernel,
    linear_edges,
    log_dt_edges,
    normalize_dmdt,
)
from light_curve_python_spark.operators.reductions import (
    non_overlapping_windows,
    reduce_sequence,
)


@pytest.fixture(scope="module")
def obs(spark):
    return generate_observations(spark, 10, seed=21,
                                 n_obs_choices=(40,)).cache()


def test_color_features_sql(spark, obs):
    got = color_features_sql(obs, "g", "r").toPandas().set_index("doc_id")
    pdf = obs.toPandas()
    for doc_id, row in got.iterrows():
        g = pdf[(pdf.doc_id == doc_id) & (pdf.band == "g")].m.to_numpy()
        r = pdf[(pdf.doc_id == doc_id) & (pdf.band == "r")].m.to_numpy()
        assert row.color_of_maximum == pytest.approx(g.max() - r.max())
        assert row.color_of_minimum == pytest.approx(g.min() - r.min())
        assert row.color_of_median == pytest.approx(
            np.median(g) - np.median(r))
        codes = pd.Categorical(pdf[pdf.doc_id == doc_id].band,
                               categories=["g", "r"]).codes
        assert color_of("max", pdf[pdf.doc_id == doc_id].m.to_numpy(),
                        codes, 0, 1) == pytest.approx(row.color_of_maximum)


def test_color_spread_sql(spark, obs):
    got = color_spread_sql(obs, ["g", "r"]).toPandas().set_index("doc_id")
    pdf = obs.toPandas()
    for doc_id, row in got.iterrows():
        d = pdf[pdf.doc_id == doc_id]
        wmeans = []
        for b in ("g", "r"):
            sub = d[d.band == b]
            w = sub.sigma.to_numpy() ** -2.0
            wmeans.append(np.average(sub.m.to_numpy(), weights=w))
        assert row.color_spread == pytest.approx(np.std(wmeans), rel=1e-9)
        codes = pd.Categorical(d.band, categories=["g", "r"]).codes
        assert color_spread(d.m.to_numpy(), d.sigma.to_numpy(), codes, 2) \
            == pytest.approx(row.color_spread, rel=1e-9)


def test_dmdt_kernel_vs_brute():
    rng = np.random.default_rng(5)
    n = 60
    t = np.sort(rng.uniform(0, 100, n))
    m = rng.uniform(15, 21, n)
    dt_edges = log_dt_edges(-1, 2, 8)
    dm_edges = linear_edges(-3, 3, 8)
    got = dmdt_points_kernel(t, m, dt_edges, dm_edges)
    brute = np.zeros_like(got)
    for i in range(n):
        for j in range(i + 1, n):
            dt, dm = t[j] - t[i], m[j] - m[i]
            di = np.searchsorted(dt_edges, dt, side="right") - 1
            dj = np.searchsorted(dm_edges, dm, side="right") - 1
            if 0 <= di < 8 and 0 <= dj < 8:
                brute[di, dj] += 1
    np.testing.assert_array_equal(got, brute)
    assert got.sum() <= n * (n - 1) / 2
    # normalizations — 'dt' divides by the TOTAL pair count of each dt bin
    # (count_dt over all pairs, incl. out-of-dm-range), reference dmdt.rs
    # normalize semantics; rows where some pairs fall outside the dm grid
    # therefore sum to < 1
    dtc = count_dt_kernel(t, dt_edges)
    brute_dtc = np.zeros(8)
    for i in range(n):
        for j in range(i + 1, n):
            di = np.searchsorted(dt_edges, t[j] - t[i], side="right") - 1
            if 0 <= di < 8:
                brute_dtc[di] += 1
    np.testing.assert_array_equal(dtc, brute_dtc)
    nd = normalize_dmdt(got, ("dt",), dt_counts=dtc)
    expected = got / np.where(dtc == 0, 1.0, dtc)[:, None]
    np.testing.assert_allclose(nd, expected)
    assert np.all(nd.sum(axis=1) <= 1.0 + 1e-12)
    with pytest.raises(ValueError):
        normalize_dmdt(got, ("dt",))  # dt_counts is mandatory for 'dt'
    nm = normalize_dmdt(got, ("max",))
    assert nm.max() == 1.0


def test_dmdt_gausses_mass_conservation():
    rng = np.random.default_rng(6)
    n = 30
    t = np.sort(rng.uniform(0, 100, n))
    m = rng.uniform(-0.5, 0.5, n)
    sigma = np.full(n, 0.05)
    dt_edges = log_dt_edges(-1, 2, 8)
    dm_edges = linear_edges(-10, 10, 40)  # wide => mass ~1 per pair
    got = dmdt_gausses_kernel(t, m, sigma, dt_edges, dm_edges)
    pts = dmdt_points_kernel(t, m, dt_edges, np.array([-10.0, 10.0]))
    np.testing.assert_allclose(got.sum(axis=1), pts[:, 0], atol=1e-9)


def test_reduce_sequence_strategies(spark):
    seqs = generate_sequences(spark, 12, seed=3).cache()
    pdf = seqs.toPandas().set_index("doc_id")
    for strategy in ("beginning", "end", "middle", "random_subsample"):
        out = reduce_sequence(seqs, seq_size=32, strategy=strategy) \
            .toPandas().set_index("doc_id")
        for doc_id, row in out.iterrows():
            tok = np.asarray(pdf.loc[doc_id, "tokens"])
            seq = np.asarray(row.sequence)
            mask = np.asarray(row["mask"])
            assert len(seq) == 32 and len(mask) == 32
            real = min(len(tok), 32)
            assert mask.sum() == real
            assert (seq[~mask] == 0).all()
            if strategy == "beginning":
                np.testing.assert_array_equal(seq[:real], tok[:32])
            elif strategy == "end":
                np.testing.assert_array_equal(seq[:real], tok[-32:])
            elif strategy == "middle":
                n = len(tok)
                cut = n // 2
                start = max(0, min(cut - 16, n - 32))
                np.testing.assert_array_equal(seq[:real],
                                              tok[start:start + 32])
            else:  # random_subsample: order-preserving subset
                kept = seq[:real]
                idx = []
                pos = 0
                for v in kept:
                    while pos < len(tok) and tok[pos] != v:
                        pos += 1
                    assert pos < len(tok), "not an order-preserving subset"
                    idx.append(pos)
                    pos += 1


def test_random_subsample_deterministic(spark):
    seqs = generate_sequences(spark, 6, seed=3)
    a = reduce_sequence(seqs, seq_size=16, strategy="random_subsample",
                        seed=7).toPandas().sort_values("doc_id")
    b = reduce_sequence(seqs.repartition(5), seq_size=16,
                        strategy="random_subsample", seed=7) \
        .toPandas().sort_values("doc_id")
    for x, y in zip(a.sequence, b.sequence):
        np.testing.assert_array_equal(np.asarray(x), np.asarray(y))


def test_non_overlapping_windows(spark):
    seqs = generate_sequences(spark, 8, seed=4).cache()
    pdf = seqs.toPandas().set_index("doc_id")
    out = non_overlapping_windows(seqs, seq_size=50).toPandas()
    for doc_id, grp in out.groupby("doc_id"):
        tok = np.asarray(pdf.loc[doc_id, "tokens"])
        assert len(grp) == math.ceil(len(tok) / 50)
        grp = grp.sort_values("window_idx")
        rebuilt = np.concatenate([np.asarray(s) for s in grp.sequence])
        masks = np.concatenate([np.asarray(s) for s in grp["mask"]])
        np.testing.assert_array_equal(rebuilt[masks], tok)
        assert (rebuilt[~masks] == 0).all()


def test_periodogram_composition():
    rng = np.random.default_rng(8)
    period = 5.0
    t = np.sort(rng.uniform(0, 100, 400))
    m = np.sin(2 * np.pi / period * t) + 0.05 * rng.normal(size=400)
    k = make_kernel("periodogram", peaks=1, max_freq_factor=2.0,
                    features=("amplitude", "standard_deviation"),
                    phase_features=("amplitude", "eta"))
    assert "spectrum_amplitude" in k.names
    assert "period_folded_amplitude" in k.names
    out = evaluate_kernel(k, t, m, None, fill_value=None)
    d = dict(zip(k.names, out))
    assert d["period_0"] == pytest.approx(period, rel=0.01)
    # folded sine keeps nearly full amplitude; eta of folded curve is small
    # (smooth) vs eta of a shuffled curve (~2)
    assert d["period_folded_amplitude"] > 0.8
    assert d["period_folded_eta"] < 0.5
    assert d["spectrum_amplitude"] > 0


def test_dmdt_grids_exclude_top_edge():
    """The reference grid is half-open [min; max) (dmdt.rs:779): a pair
    whose dt or dm equals the top edge falls OUTSIDE (regression:
    np.histogram includes the last bin's right edge)."""
    t = np.array([0.0, 1000.0])
    m = np.array([0.0, 2.0])
    dt_edges = np.logspace(-1, 3, 11)     # top edge = 1000 == dt
    dm_edges = np.linspace(-2, 2, 5)      # top edge = 2 == dm
    assert count_dt_kernel(t, dt_edges).sum() == 0
    assert dmdt_points_kernel(t, m, dt_edges, dm_edges).sum() == 0
    # strictly inside -> counted once, left edges inclusive
    t2 = np.array([0.0, 0.1])
    m2 = np.array([0.0, -2.0])
    assert count_dt_kernel(t2, dt_edges).sum() == 1      # dt == min edge
    assert dmdt_points_kernel(t2, m2, dt_edges, dm_edges).sum() == 1


def test_dmdt_pair_blocks_bitwise(monkeypatch):
    """The dm-dt kernels visit pairs in bounded row blocks: a tiny pair
    budget (many blocks, single-row blocks included) gives maps bitwise
    equal to the default one-block pass."""
    from light_curve_python_spark.operators import dmdt as D
    rng = np.random.default_rng(12)
    n = 60
    t = np.sort(rng.uniform(0, 100, n))
    m = rng.uniform(-1.5, 1.5, n)
    sigma = rng.uniform(0.05, 0.5, n)
    dt_edges = log_dt_edges(-1, 2, 8)
    dm_edges = linear_edges(-2, 2, 10)

    def maps():
        return [D.dmdt_points_kernel(t, m, dt_edges, dm_edges),
                D.dmdt_gausses_kernel(t, m, sigma, dt_edges, dm_edges),
                D.count_dt_kernel(t, dt_edges)]

    want = maps()
    ti, tj = np.triu_indices(n, k=1)
    for budget in (1, 37, 200):
        monkeypatch.setattr(D, "_PAIR_BLOCK", budget)
        blocks = list(D._pair_blocks(n))
        assert len(blocks) > 1
        np.testing.assert_array_equal(
            np.concatenate([i for i, _ in blocks]), ti)
        np.testing.assert_array_equal(
            np.concatenate([j for _, j in blocks]), tj)
        for a, b in zip(maps(), want):
            np.testing.assert_array_equal(a.view(np.uint64),
                                          b.view(np.uint64))


def test_grid_edges_contract():
    """The reference DmDt constructor grid contract (dmdt.rs:900-965):
    auto-detect uniform linear / uniform lg / generic; 'linear'/'log'
    REGENERATE uniform borders from the endpoints; 'asis' keeps the
    array; malformed grids raise."""
    from light_curve_python_spark.operators.dmdt import (asinh_edges,
                                                         grid_edges)
    np.testing.assert_allclose(
        grid_edges([0.0, 1.0, 2.0, 3.0], "auto"), [0.0, 1.0, 2.0, 3.0])
    lg = np.logspace(-1, 2, 7)
    np.testing.assert_allclose(grid_edges(lg, "auto"), lg)
    gen = asinh_edges(-5.0, 5.0, 6)
    np.testing.assert_array_equal(grid_edges(gen, "auto"), gen)
    # 'linear' ignores interior values (LinearGrid from start/end/len)
    np.testing.assert_allclose(grid_edges([0.0, 0.5, 3.0], "linear"),
                               [0.0, 1.5, 3.0])
    np.testing.assert_allclose(grid_edges([1.0, 2.0, 100.0], "log"),
                               [1.0, 10.0, 100.0])
    with pytest.raises(ValueError, match="ascending"):
        grid_edges([1.0, 1.0, 2.0], "auto")
    with pytest.raises(ValueError, match="positive"):
        grid_edges([-1.0, 1.0, 10.0], "log")
    with pytest.raises(ValueError, match="kind"):
        grid_edges([0.0, 1.0], "asinh")
    # asinh grid shape: symmetric, linear-ish near 0, log-like tails
    assert gen[0] == pytest.approx(-5.0) and gen[-1] == pytest.approx(5.0)
    np.testing.assert_allclose(gen, -gen[::-1], atol=1e-12)


def test_from_borders_constructor():
    """DmDt.from_borders (dmdt.rs:1048-1082): lg-dt grid + symmetric
    linear dm grid."""
    from light_curve_python_spark.operators.dmdt import from_borders
    dt_e, dm_e = from_borders(-2.0, 1.0, 6, 3.0, 4)
    np.testing.assert_allclose(dt_e, np.logspace(-2, 1, 7))
    np.testing.assert_allclose(dm_e, np.linspace(-3, 3, 5))


def test_edge_bin_sql_duckdb_parity():
    """edge_bin_sql (the DuckDB twin of the literal-array binning) agrees
    with the kernels' _bin_exclusive on every probe, including exact
    edges and out-of-range values."""
    import duckdb

    from light_curve_python_spark.operators.dmdt import (_bin_exclusive,
                                                         asinh_edges,
                                                         edge_bin_sql)
    edges = asinh_edges(-6.0, 6.0, 12)
    xs = np.concatenate([np.linspace(-8, 8, 101), edges, [np.nextafter(
        edges[-1], -np.inf), np.nextafter(edges[0], np.inf)]])
    con = duckdb.connect()
    con.register("xs", pd.DataFrame({"x": xs}))
    got = con.execute(
        f"SELECT {edge_bin_sql('x', edges)} AS b FROM xs").fetchnumpy()["b"]
    want = _bin_exclusive(xs.copy(), edges)
    n = len(edges) - 1
    got_valid = (got >= 0) & (got < n)
    want_valid = want >= 0
    np.testing.assert_array_equal(got_valid, want_valid)
    np.testing.assert_array_equal(got[got_valid], want[want_valid])


# --- observation erosion (the batches drop_nobs contract, dmdt.rs:440-530) --


def _erode_df(spark, n_entities=4, n_obs=10):
    rows = [(e, float(i), float(e * 100 + i))
            for e in range(n_entities) for i in range(n_obs)]
    return spark.createDataFrame(rows, "doc_id long, t double, m double")


def test_erode_exact_count_order_and_determinism(spark):
    from light_curve_python_spark.operators.dmdt import erode_observations
    df = _erode_df(spark, 4, 10)
    out = erode_observations(df, "doc_id", drop_nobs=3, seed=7) \
        .toPandas().sort_values(["doc_id", "t"])
    assert (out.groupby("doc_id").size() == 7).all()
    # survivors keep time order and are a subsequence of the original
    for e, g in out.groupby("doc_id"):
        assert list(g.t) == sorted(g.t)
        assert set(g.t) <= set(np.arange(10.0))
    # deterministic: identical rerun, partitioning-independent
    again = erode_observations(df.repartition(7), "doc_id",
                               drop_nobs=3, seed=7) \
        .toPandas().sort_values(["doc_id", "t"])
    pd.testing.assert_frame_equal(out.reset_index(drop=True),
                                  again.reset_index(drop=True))
    # a different seed erodes differently (4 curves x C(10,3) subsets:
    # collision chance ~1e-8)
    other = erode_observations(df, "doc_id", drop_nobs=3, seed=8).toPandas()
    assert set(map(tuple, other[["doc_id", "t"]].to_numpy())) != \
        set(map(tuple, out[["doc_id", "t"]].to_numpy()))


def test_erode_float_fraction_rounds_like_reference(spark):
    from light_curve_python_spark.operators.dmdt import erode_observations
    # round(0.25 * 10) = round(2.5) = 3 (half-away-from-zero, f64::round)
    out = erode_observations(_erode_df(spark, 2, 10), "doc_id",
                             drop_nobs=0.25, seed=1).toPandas()
    assert (out.groupby("doc_id").size() == 7).all()
    # drop 0 is the identity (reference maps Int(0)/0.0 to no dropping)
    df = _erode_df(spark, 2, 5)
    for zero in (0, 0.0):
        got = erode_observations(df, "doc_id", drop_nobs=zero) \
            .toPandas().sort_values(["doc_id", "t"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got, df.toPandas().sort_values(["doc_id", "t"])
            .reset_index(drop=True))


def test_erode_validation_and_short_curves(spark):
    from light_curve_python_spark.operators.dmdt import erode_observations
    df = _erode_df(spark, 2, 4)
    with pytest.raises(ValueError, match=r"\[0\.0, 1\.0\)"):
        erode_observations(df, "doc_id", drop_nobs=1.0)
    with pytest.raises(ValueError, match=">= 0"):
        erode_observations(df, "doc_id", drop_nobs=-1)
    # the reference raises when drop >= n (dmdt.rs:506-510)
    with pytest.raises(Exception, match="cannot drop"):
        erode_observations(df, "doc_id", drop_nobs=4).collect()
    # corpus-scale convenience: skip short curves instead of failing the job
    kept = erode_observations(df, "doc_id", drop_nobs=4,
                              on_short="skip").count()
    assert kept == 0
    assert erode_observations(df, "doc_id", drop_nobs=3,
                              on_short="skip").count() == 2


def test_erode_is_uniform_without_replacement(spark):
    """Distributional equivalence with the reference's dropped_index
    (uniform sample without replacement): over many entities (independent
    hash draws), each observation position survives with probability
    (n - drop)/n.  400 identical 10-obs curves, drop 4 -> expected
    retention 240 per position, sd = sqrt(400*0.6*0.4) ~ 9.8; assert
    within 5 sd.  Exact per-curve count is already asserted above, and
    ranking iid hashes is a uniform permutation, so marginal uniformity +
    exact count pin the without-replacement law."""
    from light_curve_python_spark.operators.dmdt import erode_observations
    df = _erode_df(spark, 400, 10)
    out = erode_observations(df, "doc_id", drop_nobs=4, seed=3).toPandas()
    per_pos = out.groupby("t").size()
    assert len(per_pos) == 10
    assert ((per_pos - 240).abs() < 49).all(), per_pos.to_dict()


def test_erode_composes_with_dmdt_kernel(spark):
    """Eroded curve -> dmdt_maps == numpy kernel on the eroded arrays (the
    points_batches composition: per-epoch erosion feeding the map)."""
    from light_curve_python_spark.operators.dmdt import erode_observations
    from light_curve_python_spark.operators.spectral import dmdt_maps
    df = _erode_df(spark, 3, 12)
    eroded = erode_observations(df, "doc_id", drop_nobs=0.25, seed=11)
    dt_edges = log_dt_edges(-1.0, 1.2, 6)
    dm_edges = linear_edges(-400.0, 400.0, 8)
    got = dmdt_maps(eroded, dt_edges=dt_edges, dm_edges=dm_edges) \
        .toPandas().set_index("doc_id")
    pdf = eroded.toPandas().sort_values(["doc_id", "t"])
    assert sorted(got.index) == sorted(pdf.doc_id.unique())
    for e, grp in pdf.groupby("doc_id"):
        want = dmdt_points_kernel(grp.t.to_numpy(), grp.m.to_numpy(),
                                  dt_edges, dm_edges)
        assert want.sum() > 0
        np.testing.assert_array_equal(
            np.asarray(got.loc[e, "dmdt"]).reshape(want.shape), want)


def test_erode_null_keys_hash_deterministically(spark):
    """concat_ws silently skips NULLs: without a sentinel, ('a', NULL) and
    (NULL, 'a') keys collapse onto one hash and the survivor choice becomes
    run-dependent.  With the coalesce sentinel the erosion of null-keyed
    rows is deterministic across partitionings."""
    from light_curve_python_spark.operators.dmdt import erode_observations
    rows = [(0, "a", None), (0, None, "a"), (0, "b", "c"), (0, "d", None),
            (1, "x", None), (1, None, None), (1, "y", "z"), (1, None, "x")]
    df = spark.createDataFrame(rows, "doc_id long, k1 string, k2 string")
    a = erode_observations(df, "doc_id", drop_nobs=2, seed=5,
                           key_cols=["k1", "k2"]).toPandas()
    b = erode_observations(df.repartition(5), "doc_id", drop_nobs=2,
                           seed=5, key_cols=["k1", "k2"]).toPandas()
    key = lambda p: sorted(map(tuple, p.fillna("§").to_numpy()))
    assert key(a) == key(b)
    assert (a.groupby("doc_id").size() == 2).all()


def test_erode_rejects_bool_and_numpy_scalars(spark):
    from light_curve_python_spark.operators.dmdt import erode_observations
    df = _erode_df(spark, 1, 5)
    with pytest.raises(ValueError, match="not bool"):
        erode_observations(df, "doc_id", drop_nobs=True)
    with pytest.raises(ValueError, match=r"\[0\.0, 1\.0\)"):
        erode_observations(df, "doc_id", drop_nobs=np.float32(1.5))
    # numpy scalars of valid magnitude behave like their python twins
    out = erode_observations(df, "doc_id", drop_nobs=np.int64(2), seed=1)
    assert out.count() == 3
