"""Cross-check: the native Spark-SQL feature implementations must match the
numpy kernels bit-for-bit (same formulas, two execution paths) — the engine's
own version of the reference's Rust-vs-pure-Python equivalence tests."""

import numpy as np
import pytest

from light_curve_python_spark.datagen import generate_observations
from light_curve_python_spark.functions import sqlfeatures as S
from light_curve_python_spark.operators.extract import FeatureExtractor

RTOL = 1e-9
N = 15


@pytest.fixture(scope="module")
def obs(spark):
    return generate_observations(spark, N, seed=5,
                                 n_obs_choices=(10, 100)).cache()


def _compare(sql_df, kernel_df, entity="doc_id"):
    a = sql_df.toPandas().set_index(entity).sort_index()
    b = kernel_df.toPandas().set_index(entity).sort_index()
    shared = [c for c in a.columns if c in b.columns]
    assert shared, f"no shared columns: {a.columns} vs {b.columns}"
    assert len(a) == len(b)
    for c in shared:
        np.testing.assert_allclose(
            a[c].to_numpy(float), b[c].to_numpy(float), rtol=RTOL,
            err_msg=f"column {c}", equal_nan=True)


def test_simple_stats(spark, obs):
    ex = FeatureExtractor(
        ["observation_count", "duration", "amplitude", "mean", "median",
         "standard_deviation", "mean_variance", "percent_amplitude",
         "time_mean", "time_standard_deviation", "maximum_time_interval",
         "minimum_time_interval"])
    _compare(S.simple_stats(obs, "doc_id", "t", "m"), ex.extract(obs))


def test_dispersion(spark, obs):
    ex = FeatureExtractor(["beyond_n_std", "eta", "eta_e", "maximum_slope",
                           "cusum", "lafler_kinman_string_length"])
    _compare(S.dispersion_stats(obs, "doc_id", "t", "m"), ex.extract(obs))


def test_weighted(spark, obs):
    ex = FeatureExtractor(["weighted_mean", "reduced_chi2", "stetson_k",
                           "excess_variance", "roms"])
    _compare(S.weighted_stats(obs, "doc_id", "m", "sigma"), ex.extract(obs))


def test_skew_kurtosis(spark, obs):
    ex = FeatureExtractor(["skew", "kurtosis"])
    _compare(S.skew_kurtosis(obs, "doc_id", "m"), ex.extract(obs))


def test_linear_fit(spark, obs):
    ex = FeatureExtractor(["linear_fit"])
    _compare(S.linear_fit_sql(obs, "doc_id", "t", "m", "sigma"),
             ex.extract(obs))


def test_linear_trend(spark, obs):
    ex = FeatureExtractor(["linear_trend"])
    _compare(S.linear_trend_sql(obs, "doc_id", "t", "m"), ex.extract(obs))


def test_otsu(spark, obs):
    ex = FeatureExtractor(["otsu_split"])
    _compare(S.otsu_split_sql(obs, "doc_id", "m"), ex.extract(obs))


def test_detection_counts(spark):
    import pandas as pd
    rng = np.random.default_rng(9)
    rows = []
    for e in range(10):
        n = 40
        t = np.sort(rng.uniform(0, 100, n))
        m = rng.uniform(0, 2, n)
        m[rng.integers(5, n)] = 50.0  # guaranteed detection at random index
        sigma = np.full(n, 1.0)
        rows.append(pd.DataFrame(
            {"doc_id": f"e{e}", "t": t, "m": m, "sigma": sigma}))
    df = spark.createDataFrame(pd.concat(rows, ignore_index=True))
    got = S.detection_counts_sql(df, "doc_id", "t", "m", "sigma", 5.0) \
        .toPandas().set_index("doc_id").sort_index()
    ex = FeatureExtractor([("flux_n_not_det_before_fd",
                            {"signal_to_noise": 5.0})], fill_value=None)
    obs2 = df  # single band not needed
    want = ex.extract(obs2, band_col=None).toPandas() \
        .set_index("doc_id").sort_index()
    np.testing.assert_allclose(
        got["flux_n_non_detections_before_fd"].to_numpy(float),
        want["flux_n_non_detections_before_fd"].to_numpy(float), rtol=0)
