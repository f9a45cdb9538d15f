"""End-to-end tests of the Spark extraction operators.

Checks (per SURVEY.md §5 port plan):
- Spark output per entity / per entity×timestamp is allclose to the vendored
  formulas applied to the same numpy window (the reference's own
  cross-implementation strategy);
- ZERO temporal leakage: a poison row injected after each probe cutoff leaves
  every feature vector unchanged;
- token payload survives the whole pipeline byte-identical per row;
- salting of hot entities changes nothing about the results.
"""

import numpy as np
import pandas as pd
import pytest

from light_curve_python_spark.datagen import (
    generate_observations,
    generate_probes,
    generate_sequences,
)
from light_curve_python_spark.functions.kernels import evaluate_many, make_kernel
from light_curve_python_spark.operators.extract import FeatureExtractor

RTOL = 1e-9  # same float64 math on both sides — should be near bit-equal

FEATURES = ["amplitude", "mean", "beyond_n_std", "stetson_k",
            "inter_percentile_range", "linear_fit", "linear_trend",
            "otsu_split", "eta_e", "maximum_slope"]
N_ENTITIES = 20


@pytest.fixture(scope="module")
def data(spark):
    obs = generate_observations(spark, N_ENTITIES, seed=42,
                                n_obs_choices=(10, 100)).cache()
    probes = generate_probes(spark, N_ENTITIES, probes_per_entity=5,
                             seed=42).cache()
    obs_pd = obs.toPandas()
    probes_pd = probes.toPandas()
    return obs, probes, obs_pd, probes_pd


def _numpy_window_features(kernels, obs_pd, doc_id, cutoff=None, horizon=None):
    g = obs_pd[obs_pd.doc_id == doc_id].sort_values("t")
    t = g.t.to_numpy(float)
    m = g.m.to_numpy(float)
    s = g.sigma.to_numpy(float)
    if cutoff is not None:
        mask = t <= cutoff
        if horizon is not None:
            mask &= t >= cutoff - horizon
        t, m, s = t[mask], m[mask], s[mask]
    return evaluate_many(kernels, t, m, s, fill_value=np.nan)


def test_extract_whole_entity_matches_numpy(spark, data):
    obs, _, obs_pd, _ = data
    ex = FeatureExtractor(FEATURES)
    got = ex.extract(obs).toPandas().set_index("doc_id").sort_index()
    assert len(got) == N_ENTITIES
    kernels = ex.kernels
    for doc_id, row in got.iterrows():
        want = _numpy_window_features(kernels, obs_pd, doc_id)
        np.testing.assert_allclose(row[ex.names].to_numpy(float), want,
                                   rtol=RTOL, equal_nan=True)


def test_point_in_time_matches_numpy_and_no_leakage(spark, data):
    obs, probes, obs_pd, probes_pd = data
    ex = FeatureExtractor(FEATURES)
    got = ex.extract_point_in_time(obs, probes).toPandas()
    assert len(got) == len(probes_pd)

    for _, row in got.iterrows():
        want = _numpy_window_features(ex.kernels, obs_pd, row.doc_id,
                                      cutoff=row.ts)
        np.testing.assert_allclose(
            row[ex.names].to_numpy(float), want, rtol=RTOL, equal_nan=True)

    # leakage: add one poison row per entity AFTER each max cutoff; feature
    # vectors must not move at all
    poison = probes_pd.groupby("doc_id").ts.max().reset_index()
    poison_rows = spark.createDataFrame(pd.DataFrame({
        "doc_id": poison.doc_id,
        "t": poison.ts + 1e-6,
        "m": 1e9,
        "sigma": 1e-9,
        "band": "g",
    }))
    poisoned = obs.unionByName(poison_rows)
    got2 = ex.extract_point_in_time(poisoned, probes).toPandas()
    a = got.sort_values(["doc_id", "ts"]).reset_index(drop=True)
    b = got2.sort_values(["doc_id", "ts"]).reset_index(drop=True)
    np.testing.assert_array_equal(a[ex.names].to_numpy(),
                                  b[ex.names].to_numpy())


def test_token_payload_byte_identical(spark, data):
    obs, probes, _, probes_pd = data
    ex = FeatureExtractor(["mean", "amplitude"])
    got = ex.extract_point_in_time(obs, probes).toPandas()
    want = probes_pd.set_index(["doc_id", "ts"]).sort_index()
    got = got.set_index(["doc_id", "ts"]).sort_index()
    assert len(got) == len(want)
    for idx in want.index:
        wt = np.asarray(want.loc[idx, "tokens"], dtype=np.int32)
        gt = np.asarray(got.loc[idx, "tokens"], dtype=np.int32)
        assert wt.tobytes() == gt.tobytes()
    assert (got["n_tok"] == want["n_tok"]).all()
    assert (got["source"] == want["source"]).all()


def test_range_horizon_window(spark, data):
    obs, probes, obs_pd, _ = data
    ex = FeatureExtractor(["mean", "observation_count"])
    h = 100.0
    got = ex.extract_point_in_time(obs, probes, horizon=h).toPandas()
    for _, row in got.iterrows():
        want = _numpy_window_features(ex.kernels, obs_pd, row.doc_id,
                                      cutoff=row.ts, horizon=h)
        np.testing.assert_allclose(
            row[ex.names].to_numpy(float), want, rtol=RTOL, equal_nan=True)


def test_salted_equals_unsalted(spark):
    obs = generate_observations(spark, 6, seed=7, n_obs_choices=(50,),
                                n_hot=2, hot_factor=20).cache()
    probes = generate_probes(spark, 6, probes_per_entity=7, seed=7)
    ex = FeatureExtractor(["mean", "amplitude", "linear_trend",
                           "maximum_slope", "cusum"])
    plain = ex.extract_point_in_time(obs, probes).toPandas() \
        .sort_values(["doc_id", "ts"]).reset_index(drop=True)
    salted = ex.extract_point_in_time(
        obs, probes, salt_partitions=4, hot_threshold=200).toPandas() \
        .sort_values(["doc_id", "ts"]).reset_index(drop=True)
    assert list(plain.columns) == list(salted.columns)
    np.testing.assert_array_equal(plain[ex.names].to_numpy(),
                                  salted[ex.names].to_numpy())


def test_multiband_extract(spark, data):
    obs, _, obs_pd, _ = data
    ex = FeatureExtractor(["mean", "amplitude"], bands=["g", "r"])
    got = ex.extract(obs).toPandas().set_index("doc_id")
    assert set(ex.names) == {"mean_g", "amplitude_g", "mean_r", "amplitude_r"}
    for doc_id, row in got.iterrows():
        g = obs_pd[(obs_pd.doc_id == doc_id)].sort_values("t")
        for band in ("g", "r"):
            mb = g[g.band == band].m.to_numpy(float)
            assert row[f"mean_{band}"] == pytest.approx(mb.mean(), rel=RTOL)
            assert row[f"amplitude_{band}"] == pytest.approx(
                (mb.max() - mb.min()) / 2, rel=RTOL)


def test_empty_window_fill_value(spark, data):
    obs, _, _, _ = data
    probes_early = generate_probes(spark, N_ENTITIES, probes_per_entity=2,
                                   seed=42).withColumn(
        "ts", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(-5.0))
    ex = FeatureExtractor(["mean", "amplitude"], fill_value=-1.0)
    got = ex.extract_point_in_time(obs, probes_early).toPandas()
    assert (got["mean"] == -1.0).all()
    assert (got["amplitude"] == -1.0).all()


def test_sequences_deterministic(spark):
    a = generate_sequences(spark, 10, seed=42, partitions=2).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    b = generate_sequences(spark, 10, seed=42, partitions=7).toPandas() \
        .sort_values("doc_id").reset_index(drop=True)
    assert (a.n_tok == b.n_tok).all()
    for x, y in zip(a.tokens, b.tokens):
        assert np.asarray(x, dtype=np.int32).tobytes() == \
            np.asarray(y, dtype=np.int32).tobytes()


def test_extract_nested_matches_long(spark, data):
    """Nested array<struct<t,m,sigma>> input (the reference's Arrow
    List<Struct> contract, src/arrow_input.rs:166-284) must equal the
    long-format extraction exactly, with zero shuffles in the plan."""
    from pyspark.sql import functions as F
    obs, _, _, _ = data
    nested = (obs.groupBy("doc_id")
              .agg(F.collect_list(F.struct("t", "m", "sigma"))
                   .alias("curve")))
    ex = FeatureExtractor(FEATURES)
    got = ex.extract_nested(nested).toPandas().set_index("doc_id") \
        .sort_index()
    want = ex.extract(obs).toPandas().set_index("doc_id").sort_index()
    np.testing.assert_allclose(got[ex.names].to_numpy(float),
                               want[ex.names].to_numpy(float),
                               rtol=RTOL, equal_nan=True)
    # zero-shuffle: once the nested table exists, the extraction plan has
    # no Exchange
    plan = ex.extract_nested(
        nested.write.mode("overwrite")
        .parquet("/tmp/lcps_nested_test.parquet") or
        spark.read.parquet("/tmp/lcps_nested_test.parquet")) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # field mapping by zero-based index works identically
    got_idx = ex.extract_nested(nested, t_field=0, m_field=1,
                                sigma_field=2).toPandas() \
        .set_index("doc_id").sort_index()
    np.testing.assert_allclose(got_idx[ex.names].to_numpy(float),
                               want[ex.names].to_numpy(float),
                               rtol=RTOL, equal_nan=True)


def test_extract_nested_banded_and_validation(spark):
    from pyspark.sql import functions as F
    obs = generate_observations(spark, 6, seed=9, n_obs_choices=(60,))
    nested = (obs.groupBy("doc_id")
              .agg(F.collect_list(F.struct("t", "m", "sigma", "band"))
                   .alias("curve")))
    ex = FeatureExtractor(["mean", "amplitude"], bands=["g", "r"])
    got = ex.extract_nested(nested, band_field="band").toPandas() \
        .set_index("doc_id").sort_index()
    want = ex.extract(obs).toPandas().set_index("doc_id").sort_index()
    np.testing.assert_allclose(got[ex.names].to_numpy(float),
                               want[ex.names].to_numpy(float),
                               rtol=RTOL, equal_nan=True)
    # validation mirrors the reference's errors
    ex1 = FeatureExtractor(["mean"])
    with pytest.raises(Exception, match="array<struct"):
        ex1.extract_nested(obs, curve_col="t")
    with pytest.raises(Exception, match="no struct field named"):
        ex1.extract_nested(nested, t_field="nope")
    with pytest.raises(Exception, match="different fields"):
        ex1.extract_nested(nested, t_field="t", m_field="t",
                           sigma_field=None)
    # null rejection (features.rs:1795-1811): a null m inside a curve fails
    bad = nested.withColumn(
        "curve", F.transform(
            "curve", lambda s: F.struct(
                s.getField("t").alias("t"),
                F.when(s.getField("t") > 1e18, s.getField("m"))
                .alias("m"),
                s.getField("sigma").alias("sigma"),
                s.getField("band").alias("band"))))
    ex2 = FeatureExtractor(["mean"])
    with pytest.raises(Exception, match="null"):
        ex2.extract_nested(bad).collect()


def test_nan_probe_ts_sees_nothing(spark, data):
    """A NULL/NaN probe timestamp must produce a FILL row, never the full
    observation history (searchsorted treats NaN as +inf — silent future
    leakage otherwise).  Covers the battery, horizon, banded, and
    banded-plus-horizon windows."""
    obs, probes, _, _ = data
    from pyspark.sql import functions as F
    bad = probes.limit(3).withColumn("ts", F.lit(None).cast("double"))
    mixed = probes.limit(5).unionByName(bad)
    for bands, kwargs in ((None, {}), (None, {"horizon": 50.0}),
                          (["g", "r"], {}),
                          (["g", "r"], {"horizon": 50.0})):
        ex = FeatureExtractor(["observation_count", "mean"],
                              fill_value=-7.0, bands=bands)
        out = ex.extract_point_in_time(
            obs, mixed, entity_col="doc_id", ts_col="ts",
            **kwargs).toPandas()
        nan_rows = out[out.ts.isna()]
        assert len(nan_rows) == 3
        assert (nan_rows[ex.names] == -7.0).all().all(), (bands, kwargs)
        assert (out[out.ts.notna()][ex.names] > 0).any().any(), \
            (bands, kwargs)


def test_salted_horizon_equals_unsalted(spark, data):
    """Salting must be a pure physical-plan change on the HORIZON path too
    (round 1 covered full-history windows): hot-entity probe splitting with
    a range horizon yields identical features."""
    obs, probes, _, _ = data
    ex = FeatureExtractor(["observation_count", "mean", "maximum_slope"])
    plain = ex.extract_point_in_time(
        obs, probes, entity_col="doc_id", ts_col="ts",
        horizon=100.0).toPandas().sort_values(["doc_id", "ts"]) \
        .reset_index(drop=True)
    salted = ex.extract_point_in_time(
        obs, probes, entity_col="doc_id", ts_col="ts", horizon=100.0,
        salt_partitions=4, hot_threshold=20).toPandas() \
        .sort_values(["doc_id", "ts"]).reset_index(drop=True)
    for c in ex.names:
        np.testing.assert_allclose(plain[c].to_numpy(float),
                                   salted[c].to_numpy(float),
                                   rtol=0, atol=0, equal_nan=True)


def test_float32_input_parity(spark):
    """The reference's f32 ~= f64 metamorphic invariance
    (tests/light_curve_ext/test_feature.py:285-297): extraction from
    FloatType columns matches DoubleType results at float32 resolution
    (the engine's kernels operate on whatever dtype Arrow delivers,
    mirroring the dual-compiled evaluators of src/features.rs:320-356)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from light_curve_python_spark.operators.extract import FeatureExtractor
    rng = np.random.default_rng(12)
    frames = []
    for e in range(3):
        n = 200
        frames.append(pd.DataFrame({
            "doc_id": f"e{e}",
            "t": np.sort(rng.uniform(0, 100, n)),
            "m": rng.uniform(15, 21, n),
            "sigma": rng.uniform(0.01, 0.2, n)}))
    df64 = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    df32 = df64.select(
        "doc_id", *[F.col(c).cast("float").alias(c)
                    for c in ("t", "m", "sigma")])
    ex = FeatureExtractor(["amplitude", "mean", "weighted_mean",
                           "standard_deviation", "skew", "stetson_k",
                           "inter_percentile_range", "linear_fit",
                           "otsu_split", "eta_e"])
    a = ex.extract(df64, band_col=None).toPandas() \
        .set_index("doc_id").sort_index()
    b = ex.extract(df32, band_col=None).toPandas() \
        .set_index("doc_id").sort_index()
    # rtol: f32 inputs carry ~1e-7 relative noise which cancellation-heavy
    # aggregates (eta_e's squared-diff ratios, fit chi2) amplify by ~1e3
    # on 200-point windows; 2e-3 bounds that while still catching any
    # dtype-dependent code path divergence
    np.testing.assert_allclose(a.to_numpy(), b.to_numpy(), rtol=2e-3)


def _serial_reference(pdf, kernels, bands=None):
    """Whole-entity features by a local pandas groupby (null keys kept)
    — an independent serial twin of ``extract`` that shares only the
    kernels, not the grouping or slicing code.  Compare with RTOL, not
    bitwise: numpy's SIMD reductions inside the kernels round differently
    with the memory alignment of their input (~1e-13 relative)."""
    def one(g):
        g = g.sort_values(["t", "m"])
        t, m, s = (g[c].to_numpy(float) for c in ("t", "m", "sigma"))
        if bands is None:
            return evaluate_many(kernels, t, m, s, np.nan)
        b = g.band.to_numpy()
        return np.concatenate([
            evaluate_many(kernels, t[b == x], m[b == x], s[b == x], np.nan)
            for x in bands])
    # string keys; the null group's NaN label becomes None
    return {k if isinstance(k, str) else None: one(g)
            for k, g in pdf.groupby("doc_id", dropna=False)}


def test_extract_tiny_batches_matches_serial_reference(spark):
    """Many entities per Python call must equal the serial per-entity
    reference, including when Arrow batches are forced tiny (7 rows; the
    80-point entity alone has more points than a batch holds rows)."""
    import pandas as pd
    from light_curve_python_spark.operators.extract import FeatureExtractor
    rng = np.random.default_rng(7)
    frames = []
    for e in range(25):
        n = 80 if e == 7 else int(rng.integers(2, 30))
        frames.append(pd.DataFrame({
            "doc_id": f"e{e:02d}",
            "t": np.sort(rng.uniform(0, 100, n)),
            "m": rng.uniform(15, 21, n),
            "sigma": rng.uniform(0.01, 0.2, n)}))
    pdf = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(pdf)
    ex = FeatureExtractor(["amplitude", "mean", "standard_deviation",
                           "stetson_k", "linear_fit", "otsu_split",
                           "inter_percentile_range"])
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        got = ex.extract(df, band_col=None).toPandas() \
            .set_index("doc_id").sort_index()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = _serial_reference(pdf, ex.kernels)
    assert list(got.index) == sorted(want)
    np.testing.assert_allclose(
        got[ex.names].to_numpy(), np.stack([want[k] for k in got.index]),
        rtol=RTOL)


def test_extract_banded_matches_serial_reference(spark):
    import pandas as pd
    from light_curve_python_spark.operators.extract import FeatureExtractor
    rng = np.random.default_rng(8)
    frames = []
    for e in range(8):
        n = 40
        frames.append(pd.DataFrame({
            "doc_id": f"e{e}",
            "t": np.sort(rng.uniform(0, 100, n)),
            "m": rng.uniform(15, 21, n),
            "sigma": rng.uniform(0.01, 0.2, n),
            "band": rng.choice(["g", "r"], n)}))
    pdf = pd.concat(frames, ignore_index=True)
    ex = FeatureExtractor(["mean", "amplitude"], bands=["g", "r"])
    got = ex.extract(spark.createDataFrame(pdf)).toPandas() \
        .set_index("doc_id").sort_index()
    want = _serial_reference(pdf, ex.kernels, bands=["g", "r"])
    assert list(got.index) == sorted(want)
    np.testing.assert_allclose(
        got[ex.names].to_numpy(), np.stack([want[k] for k in got.index]),
        rtol=RTOL)


def test_extract_null_entity_key_parity(spark):
    """A null entity key forms ONE group, as in pandas
    ``groupby(dropna=False)`` (a plain pandas groupby would silently drop
    it — round-3 review finding)."""
    import pandas as pd
    from light_curve_python_spark.operators.extract import FeatureExtractor
    rng = np.random.default_rng(9)
    frames = []
    for e in ["a", None, "b"]:
        n = 12
        frames.append(pd.DataFrame({
            "doc_id": [e] * n,
            "t": np.sort(rng.uniform(0, 100, n)),
            "m": rng.uniform(15, 21, n),
            "sigma": rng.uniform(0.01, 0.2, n)}))
    pdf = pd.concat(frames, ignore_index=True)
    ex = FeatureExtractor(["mean", "amplitude"])
    got = ex.extract(spark.createDataFrame(pdf).repartition(3),
                     band_col=None).toPandas()
    want = _serial_reference(pdf, ex.kernels)
    assert len(got) == 3 and got.doc_id.isna().sum() == 1
    assert len(want) == 3
    for _, row in got.iterrows():
        key = row.doc_id if isinstance(row.doc_id, str) else None
        np.testing.assert_allclose(row[ex.names].to_numpy(float),
                                   want[key], rtol=RTOL)


def test_extract_nested_null_fill_equals_long_in_spark(spark):
    """extract_nested and extract emit fill rows the same way (SQL NULL),
    so the two outputs are equal inside Spark — checked null-safely with
    exceptAll both ways, not after toPandas (which maps both NULL and NaN
    to NaN)."""
    from pyspark.sql import functions as F
    from light_curve_python_spark.operators.extract import FeatureExtractor
    obs = spark.createDataFrame(
        [("a", 1.0, 5.0, 0.1), ("b", 1.0, 5.0, 0.1), ("b", 2.0, 6.0, 0.2),
         ("b", 3.0, 4.0, 0.1), (None, 2.0, 7.0, 0.3)],
        "doc_id string, t double, m double, sigma double")
    # standard_deviation needs >= 2 points: entities a and null fill
    ex = FeatureExtractor(["mean", "standard_deviation", "linear_fit"])
    long_out = ex.extract(obs, band_col=None)
    nested = obs.groupBy("doc_id").agg(
        F.collect_list(F.struct("t", "m", "sigma")).alias("curve"))
    nested_out = ex.extract_nested(nested)
    assert nested_out.filter(
        F.col("standard_deviation").isNull()).count() == 2
    assert nested_out.exceptAll(long_out).count() == 0
    assert long_out.exceptAll(nested_out).count() == 0


def test_review_fixes_extract_guards(spark):
    """Round-4 max-effort review regressions on the flagship path."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from light_curve_python_spark.operators.extract import FeatureExtractor

    # transforms=True == transforms="default" (the reference's spelling)
    a = FeatureExtractor(["skew"], transforms=True)
    b = FeatureExtractor(["skew"], transforms="default")
    assert a.transforms == b.transforms and a.transforms

    # feature/probe name collision fails at the driver with a clear error
    obs = spark.createDataFrame(
        [("a", float(i), float(i % 5), 0.1, "g") for i in range(20)],
        "doc_id string, t double, m double, sigma double, band string")
    probes = spark.createDataFrame([("a", 5.0, 1.0)],
                                   "doc_id string, ts double, mean double")
    with pytest.raises(ValueError, match="collide"):
        FeatureExtractor(["mean"]).extract_point_in_time(obs, probes)

    # integer-coded band column vs string bands: clear error, not
    # silent all-fill
    obs_int = obs.withColumn("band", F.lit(0))
    with pytest.raises(Exception, match="band"):
        FeatureExtractor(["mean"], bands=["g", "r"]) \
            .extract(obs_int).collect()

    # entity observed only in OTHER bands still fills (no crash)
    ex2 = FeatureExtractor(["mean"], bands=["g", "r"], fill_value=-5.0)
    obs_i = obs.withColumn("band", F.lit("i"))
    row = ex2.extract(obs_i).collect()[0]
    assert row["mean_g"] == -5.0 and row["mean_r"] == -5.0

    # banded extract_nested without band_field: driver-side error
    nested = spark.createDataFrame(
        [("a", [(1.0, 2.0, 0.1)])],
        "doc_id string, curve array<struct<t:double,m:double,sigma:double>>")
    with pytest.raises(ValueError, match="band_field"):
        FeatureExtractor(["mean"], bands=["g"]).extract_nested(nested)

    # duplicate timestamps: deterministic (value-ordered) tie handling —
    # eta over [1,2] at equal t must not depend on arrival order
    dup = spark.createDataFrame(
        [("a", 1.0, 2.0, 0.1, "g"), ("a", 1.0, 1.0, 0.1, "g"),
         ("a", 2.0, 3.0, 0.1, "g")],
        "doc_id string, t double, m double, sigma double, band string")
    vals = set()
    for _ in range(3):
        r = FeatureExtractor(["eta"]).extract(
            dup.repartition(3)).collect()[0]
        vals.add(round(r["eta"], 9))
    assert len(vals) == 1


def test_pit_arrow_duplicate_t_deterministic(spark):
    """The PIT evaluator must lexsort (m tiebreak) like extract: with
    duplicate timestamps, consecutive-difference features were
    arrival-order-dependent under a plain stable sort."""
    import pandas as pd
    rows = [("a", 1.0, 5.0, 0.1), ("a", 2.0, 9.0, 0.1),
            ("a", 2.0, 1.0, 0.1), ("a", 3.0, 4.0, 0.1),
            ("a", 4.0, 2.0, 0.1)]
    ex = FeatureExtractor(["eta", "maximum_slope", "cusum"])
    outs = []
    for perm in (rows, rows[::-1], [rows[2], rows[0], rows[4], rows[1],
                                    rows[3]]):
        obs = spark.createDataFrame(perm,
                                    "doc_id string, t double, m double, "
                                    "sigma double").repartition(3)
        probes = spark.createDataFrame([("a", 10.0)],
                                       "doc_id string, ts double")
        pdf = ex.extract_point_in_time(obs, probes).toPandas()
        outs.append(pdf[["eta", "maximum_slope", "cusum"]].iloc[0])
    for other in outs[1:]:
        pd.testing.assert_series_equal(outs[0], other, check_names=False)


def test_inline_payload_keeps_null_entity_and_checks_collisions(spark):
    """The inline Arrow payload, with and without a horizon, must (a) keep
    null-entity probe rows as fill rows (the cogroup keeps the null
    group) and (b) reject payload columns named like feature outputs
    before the job runs."""
    import numpy as np
    import pandas as pd
    obs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a"] * 5, "t": np.arange(5.0),
        "m": np.arange(5.0), "sigma": [0.1] * 5}))
    probes = spark.createDataFrame(
        [("a", 3.0, "x"), (None, 3.0, "y")],
        "doc_id string, ts double, payload string")
    ex = FeatureExtractor(["mean"])
    for horizon in (10.0, None):
        out = ex.extract_point_in_time(obs, probes,
                                       horizon=horizon).toPandas()
        assert sorted(out.payload) == ["x", "y"]
        assert out[out.payload == "x"]["mean"].iloc[0] == 1.5
        assert np.isnan(out[out.payload == "y"]["mean"].iloc[0])
        with pytest.raises(ValueError, match="collide"):
            ex.extract_point_in_time(
                obs, probes.withColumnRenamed("payload", "mean"),
                horizon=horizon)


def test_banded_point_in_time_matches_numpy(spark, data):
    """Banded PIT, full history and with a horizon: each probe's window
    split per band equals a serial per-band numpy evaluation, and the
    token payload survives byte for byte."""
    obs, probes, obs_pd, probes_pd = data
    bands = ["g", "r"]
    ex = FeatureExtractor(FEATURES, bands=bands)
    want_payload = probes_pd.set_index(["doc_id", "ts"]).sort_index()
    for horizon in (None, 100.0):
        got = ex.extract_point_in_time(obs, probes,
                                       horizon=horizon).toPandas()
        assert len(got) == len(probes_pd)
        for _, row in got.iterrows():
            g = obs_pd[obs_pd.doc_id == row.doc_id].sort_values("t")
            keep = g.t <= row.ts
            if horizon is not None:
                keep &= g.t >= row.ts - horizon
            w = g[keep]
            want = np.concatenate([evaluate_many(
                ex.kernels, w.t[w.band == b].to_numpy(float),
                w.m[w.band == b].to_numpy(float),
                w.sigma[w.band == b].to_numpy(float), fill_value=np.nan)
                for b in bands])
            np.testing.assert_allclose(
                row[ex.names].to_numpy(float), want, rtol=RTOL,
                equal_nan=True)
            wt = np.asarray(want_payload.loc[(row.doc_id, row.ts),
                                             "tokens"], dtype=np.int32)
            assert wt.tobytes() == np.asarray(row.tokens,
                                              dtype=np.int32).tobytes()


def test_extract_fill_rows_are_sql_null(spark):
    """Fill values (NaN) must surface as SQL NULL, exactly like the
    replaced mapInPandas route whose pandas serializer converted NaN to
    null — a NaN double would poison avg() and sort above every real
    value (r6 review finding on the aggregate-then-map path)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from light_curve_python_spark.operators.extract import FeatureExtractor
    pdf = pd.DataFrame({
        "doc_id": ["a", "b", "b", "b"],
        "t": [1.0, 1.0, 2.0, 3.0],
        "m": [5.0, 5.0, 6.0, 7.0],
        "sigma": [0.1, 0.1, 0.1, 0.1]})
    df = spark.createDataFrame(pdf)
    ex = FeatureExtractor(["standard_deviation"])  # needs >= 2 points
    out = ex.extract(df, band_col=None)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows["a"]["standard_deviation"] is None          # fill -> NULL
    assert rows["b"]["standard_deviation"] is not None
    assert out.filter(F.col("standard_deviation").isNull()).count() == 1
    # point-in-time, full history (prefix battery) and with a horizon
    # (per-window): a 1-point window fills, as NULL and never as NaN
    probes = spark.createDataFrame([("a", 1.0), ("b", 3.0)],
                                   "doc_id string, ts double")
    for horizon in (None, 5.0):
        pit = ex.extract_point_in_time(df, probes, horizon=horizon)
        sd = F.col("standard_deviation")
        assert pit.filter(sd.isNull()).count() == 1, horizon
        assert pit.filter(F.isnan(sd)).count() == 0, horizon
        assert pit.filter(sd.isNull()).first()["doc_id"] == "a"
