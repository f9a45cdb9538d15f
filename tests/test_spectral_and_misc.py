"""Tests: array-valued spectral/dmdt ops, Bins meta-feature composition,
stateful streaming counter, CSV ingest."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from light_curve_python_spark.datagen import generate_observations
from light_curve_python_spark.functions.kernels import (
    evaluate_many,
    make_kernel,
    periodogram_power,
)
from light_curve_python_spark.operators.bins import bin_series
from light_curve_python_spark.operators.dmdt import (
    dmdt_points_kernel,
    linear_edges,
    log_dt_edges,
)
from light_curve_python_spark.operators.extract import FeatureExtractor
from light_curve_python_spark.operators.spectral import (
    dmdt_maps,
    periodogram_freq_power,
)


@pytest.fixture(scope="module")
def obs(spark):
    return generate_observations(spark, 6, seed=13,
                                 n_obs_choices=(60,)).cache()


def test_periodogram_freq_power(spark, obs):
    # operator default is fast=True (reference default algorithm): parity
    # with the direct evaluator is approximate (<= 1e-4 rel); with
    # fast=False it is exact
    pdf = obs.toPandas()
    # a constant entity (zero variance) and a one-point entity (zero time
    # span) get no row instead of failing the job
    bad = spark.createDataFrame(
        [("const", float(i), 18.0, 0.1, "g") for i in range(5)]
        + [("single", 1.0, 18.0, 0.1, "g")], obs.schema)
    got = periodogram_freq_power(obs.unionByName(bad)).toPandas() \
        .set_index("doc_id")
    assert set(got.index) == set(pdf.doc_id)
    got_exact = periodogram_freq_power(obs, fast=False).toPandas() \
        .set_index("doc_id")
    for doc_id, row in got.iterrows():
        g = pdf[pdf.doc_id == doc_id].sort_values("t")
        freqs, power = periodogram_power(g.t.to_numpy(), g.m.to_numpy())
        np.testing.assert_allclose(np.asarray(row.freqs), freqs, rtol=1e-12)
        np.testing.assert_allclose(np.asarray(row.power), power, rtol=1e-4)
        np.testing.assert_allclose(
            np.asarray(got_exact.loc[doc_id].power), power, rtol=1e-9)


def test_dmdt_maps_dense(spark, obs):
    dt_e = log_dt_edges(-1, 3, 8)
    dm_e = linear_edges(-6, 6, 8)
    got = dmdt_maps(obs, dt_edges=dt_e, dm_edges=dm_e).toPandas() \
        .set_index("doc_id")
    pdf = obs.toPandas()
    for doc_id, row in got.iterrows():
        g = pdf[pdf.doc_id == doc_id].sort_values("t")
        want = dmdt_points_kernel(g.t.to_numpy(), g.m.to_numpy(), dt_e, dm_e)
        assert (row.n_dt, row.n_dm) == want.shape
        np.testing.assert_array_equal(
            np.asarray(row.dmdt).reshape(want.shape), want)
    # gaussian variant runs and conserves shape
    gg = dmdt_maps(obs, sigma_col="sigma", dt_edges=dt_e, dm_edges=dm_e,
                   gausses=True, norm=("max",)).toPandas()
    assert (gg.n_dt == 8).all()
    assert all(np.asarray(x).max() <= 1.0 + 1e-12 for x in gg.dmdt)


def test_extract_binned_composition(spark, obs):
    """Bins meta-feature == bin_series ∘ extract (checked end to end vs
    kernels on the numpy-rebinned series)."""
    ex = FeatureExtractor(["mean", "amplitude", "eta_e"])
    window, offset = 50.0, 3.0
    got = ex.extract_binned(obs, window=window, offset=offset).toPandas() \
        .set_index("doc_id").sort_index()
    binned = bin_series(obs, window=window, offset=offset).toPandas()
    for doc_id, row in got.iterrows():
        g = binned[binned.doc_id == doc_id].sort_values("t")
        want = evaluate_many(ex.kernels, g.t.to_numpy(), g.m.to_numpy(),
                             g.sigma.to_numpy(), np.nan)
        np.testing.assert_allclose(row[ex.names].to_numpy(float), want,
                                   rtol=1e-9, equal_nan=True)


def test_streaming_stateful_counter(spark, tmp_path):
    from light_curve_python_spark.streaming.stateful import (
        streaming_n_not_det_before_fd)
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: 3 non-detections then detection; user 2: never detects
    for uid, values in ((1, [10, 20, 30, 400, 50]), (2, [10, 20, 30])):
        for i, v in enumerate(values):
            rows.append((uid, base + dt.timedelta(minutes=i), float(v)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    d = str(tmp_path / "ev")
    spark.createDataFrame(pdf).write.parquet(d)
    stream = spark.readStream.schema(
        spark.read.parquet(d).schema).parquet(d)
    out = streaming_n_not_det_before_fd(stream, m_threshold=250.0)
    q = (out.writeStream.format("memory").queryName("ndet")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM ndet").toPandas() \
        .sort_values("user_id").reset_index(drop=True)
    assert res.loc[0, "n_non_detections_before_fd"] == 3
    assert bool(res.loc[0, "first_detection_seen"])
    assert res.loc[1, "n_non_detections_before_fd"] == 3
    assert not bool(res.loc[1, "first_detection_seen"])


def test_csv_ingest(spark, tmp_path):
    from light_curve_python_spark.sources.readers import read_curves_csv
    rng = np.random.default_rng(2)
    for name in ("obj1", "obj2"):
        n = 30
        pd.DataFrame({
            "time": np.sort(rng.uniform(0, 100, n)),
            "mag": rng.uniform(15, 21, n),
            "magerr": rng.uniform(0.01, 0.2, n),
        }).to_csv(tmp_path / f"{name}.csv", index=False)
    df = read_curves_csv(spark, str(tmp_path / "*.csv")).toPandas()
    assert set(df.doc_id) == {"obj1", "obj2"}
    assert len(df) == 60
    assert set(df.columns) >= {"doc_id", "t", "m", "sigma"}


def test_multiband_periodogram(spark):
    from light_curve_python_spark.operators.spectral import (
        multiband_periodogram)
    rng = np.random.default_rng(4)
    period = 6.0
    frames = []
    for e in range(3):
        n = 300
        t = np.sort(rng.uniform(0, 150, n))
        m = np.sin(2 * np.pi / period * t) + 0.05 * rng.normal(size=n)
        frames.append(pd.DataFrame({
            "doc_id": f"e{e}", "t": t, "m": m,
            "sigma": np.full(n, 0.05),
            "band": np.resize(["g", "r"], n)}))
    df = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    for weighting in ("chi2", "count"):
        got = multiband_periodogram(df, ["g", "r"], peaks=1,
                                    max_freq_factor=2.0,
                                    weighting=weighting).toPandas()
        np.testing.assert_allclose(got["period_0"].to_numpy(),
                                   [period] * 3, rtol=0.02)
        assert (got["period_s_to_n_0"] > 3).all()
    # fast (Press-Rybicki, the default) ≡ direct: same peaks, S/N within
    # the extirpolation accuracy
    fastr = multiband_periodogram(df, ["g", "r"], peaks=1,
                                  max_freq_factor=2.0).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    direct = multiband_periodogram(df, ["g", "r"], peaks=1,
                                   max_freq_factor=2.0,
                                   fast=False).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    np.testing.assert_allclose(fastr["period_0"], direct["period_0"],
                               rtol=1e-9)
    np.testing.assert_allclose(fastr["period_s_to_n_0"],
                               direct["period_s_to_n_0"], rtol=1e-3)
