"""Structured Streaming twins: session_window + tumbling bins, driven with an
availableNow file-source trigger and cross-checked against the batch
operators on the same data."""

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from light_curve_python_spark.operators.sessionize import session_stats
from light_curve_python_spark.streaming.sessions import (
    streaming_bins,
    streaming_session_stats,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    base = dt.datetime(2024, 1, 1)
    rows = []
    for uid in range(4):
        t = base
        for i in range(30):
            gap = dt.timedelta(minutes=5 if i % 10 else 90)
            t = t + gap
            rows.append((uid, t, float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    d = str(tmp_path_factory.mktemp("events_stream"))
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
    return d


def _run_stream(spark, df, tmp):
    q = (df.writeStream.format("memory").queryName(os.path.basename(tmp))
         .outputMode("complete")
         .option("checkpointLocation", tmp + "/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {os.path.basename(tmp)}")


def test_streaming_sessions_match_batch(spark, event_dir, tmp_path):
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = _run_stream(
        spark, streaming_session_stats(stream, gap="30 minutes"),
        str(tmp_path / "s1")).toPandas()

    batch_src = spark.read.parquet(event_dir).withColumn(
        "t", F.col("ts").cast("timestamp").cast("double"))
    batch = session_stats(batch_src, "user_id", "t", gap=1800.0,
                          value_col="value").toPandas()
    # same number of sessions per user and same event totals
    a = out.groupby("user_id").size().sort_index()
    b = batch.groupby("user_id").size().sort_index()
    assert (a == b).all()
    assert out.n_events.sum() == batch.n_events.sum() == 120
    assert out.value_sum.sum() == batch.value_sum.sum()


def test_streaming_bins(spark, event_dir, tmp_path):
    schema = spark.read.parquet(event_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_dir)
    out = _run_stream(
        spark, streaming_bins(stream, window="1 hour"),
        str(tmp_path / "s2")).toPandas()
    assert out.n_obs.sum() == 120
    assert (out.groupby("user_id").n_obs.sum() == 30).all()


def test_streaming_asof_matches_batch(spark, tmp_path):
    """Streaming as-of join (applyInPandasWithState) == batch asof_join on
    the same data when everything arrives in one trigger."""
    import numpy as np

    from light_curve_python_spark.operators.asof import asof_join
    from light_curve_python_spark.streaming.asof import streaming_asof_join

    rng = np.random.default_rng(3)
    obs_rows = [(int(u), float(t), float(rng.normal()))
                for u in range(5) for t in sorted(rng.uniform(0, 100, 40))]
    probe_rows = [(int(u), float(t))
                  for u in range(5) for t in sorted(rng.uniform(0, 110, 15))]
    obs_pdf = pd.DataFrame(obs_rows, columns=["user_id", "t", "v"])
    probes_pdf = pd.DataFrame(probe_rows, columns=["user_id", "ts"])
    obs_dir = str(tmp_path / "obs")
    probes_dir = str(tmp_path / "probes")
    spark.createDataFrame(obs_pdf).write.parquet(obs_dir)
    spark.createDataFrame(probes_pdf).write.parquet(probes_dir)

    obs_stream = spark.readStream.schema("user_id long, t double, v double") \
        .parquet(obs_dir)
    probe_stream = spark.readStream.schema("user_id long, ts double") \
        .parquet(probes_dir)
    out = streaming_asof_join(probe_stream, obs_stream, on="user_id",
                              left_ts="ts", right_ts="t", value_cols=["v"])
    q = (out.writeStream.format("memory").queryName("asof_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("asof_stream").toPandas() \
        .sort_values(["user_id", "ts"]).reset_index(drop=True)

    want = asof_join(spark.createDataFrame(probes_pdf),
                     spark.createDataFrame(obs_pdf),
                     on="user_id", left_ts="ts", right_ts="t",
                     value_cols=["v"]).toPandas() \
        .sort_values(["user_id", "ts"]).reset_index(drop=True)
    assert len(got) == len(want) == len(probes_pdf)
    for c in ("v_asof", "t_asof"):
        pd.testing.assert_series_equal(got[c], want[c], check_names=False)


def test_streaming_asof_state_carries_across_restarts(spark, tmp_path):
    """Observations processed in run 1 must still match probes arriving in
    run 2 (state persisted via the checkpoint) — the resumability contract."""
    from light_curve_python_spark.streaming.asof import streaming_asof_join

    obs_dir = tmp_path / "obs2"
    probes_dir = tmp_path / "probes2"
    obs_dir.mkdir()
    probes_dir.mkdir()
    ckpt = str(tmp_path / "ckpt2")

    out_dir = str(tmp_path / "out2")

    def run_once():
        # file sink (memory sink cannot recover from a checkpoint): the
        # restart reads the SAME checkpoint, so run-1 state is restored
        obs_stream = spark.readStream \
            .schema("user_id long, t double, v double").parquet(str(obs_dir))
        probe_stream = spark.readStream \
            .schema("user_id long, ts double").parquet(str(probes_dir))
        out = streaming_asof_join(probe_stream, obs_stream, on="user_id",
                                  left_ts="ts", right_ts="t",
                                  value_cols=["v"])
        q = (out.writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # run 1: only observations (plus an empty-probe placeholder dir needs
    # at least a schema; parquet dir may be empty — write an empty frame)
    spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 1], "t": [10.0, 20.0],
                      "v": [5.0, 7.0]})).write.mode("append") \
        .parquet(str(obs_dir))
    spark.createDataFrame([], "user_id long, ts double") \
        .write.mode("append").parquet(str(probes_dir))
    run_once()

    # run 2: only probes — they must see run 1's observations from state
    spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 1], "ts": [15.0, 25.0]})) \
        .write.mode("append").parquet(str(probes_dir))
    run_once()

    got = spark.read.parquet(out_dir).toPandas().sort_values("ts")
    assert got.v_asof.tolist() == [5.0, 7.0]
    assert got.t_asof.tolist() == [10.0, 20.0]


def test_streaming_asof_lookback_bounds_state(spark, tmp_path):
    """lookback evicts history but keeps the ffill anchor: probes inside
    the horizon still match."""
    from light_curve_python_spark.streaming.asof import streaming_asof_join

    obs_dir = str(tmp_path / "obs3")
    probes_dir = str(tmp_path / "probes3")
    spark.createDataFrame(
        pd.DataFrame({"user_id": [1] * 4, "t": [1.0, 2.0, 50.0, 60.0],
                      "v": [1.0, 2.0, 50.0, 60.0]})).write.parquet(obs_dir)
    spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 1], "ts": [55.0, 3.0]})) \
        .write.parquet(probes_dir)
    obs_stream = spark.readStream.schema("user_id long, t double, v double") \
        .parquet(obs_dir)
    probe_stream = spark.readStream.schema("user_id long, ts double") \
        .parquet(probes_dir)
    out = streaming_asof_join(probe_stream, obs_stream, on="user_id",
                              left_ts="ts", right_ts="t", value_cols=["v"],
                              lookback=20.0)
    q = (out.writeStream.format("memory").queryName("asof_lb")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("asof_lb").toPandas().set_index("ts")
    # both probes are in the first (single) batch, so full within-batch
    # visibility applies; eviction only shrinks CARRIED state
    assert got.loc[55.0, "v_asof"] == 50.0
    assert got.loc[3.0, "v_asof"] == 2.0


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """First-seen-per-digest semantics, append mode: duplicates within and
    across micro-batch files are dropped; output ids == batch exact_dedup
    representative set on the same data."""
    import datetime as dt2
    from light_curve_python_spark.operators.dedup import exact_dedup
    from light_curve_python_spark.streaming.sessions import (
        streaming_exact_dedup)
    base = dt2.datetime(2024, 1, 1)
    rows = []
    texts = ["alpha beta", "gamma delta", "alpha beta", "epsilon",
             "gamma delta", "zeta", "alpha beta", "eta theta"]
    for i, tx in enumerate(texts):
        rows.append((i, base + dt2.timedelta(minutes=i), tx))
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"])
    src = str(tmp_path / "docs_src")
    # two files => at least the file-source's batching boundaries exercised
    spark.createDataFrame(pdf.iloc[:4]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[4:]).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, ts timestamp, "
                                      "text string").parquet(src))
    out_dir = str(tmp_path / "out")
    q = (streaming_exact_dedup(stream, ["text"], ts_col="ts")
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    # one row per distinct text
    assert sorted(got["text"]) == sorted(pdf["text"].unique())
    batch = exact_dedup(spark.createDataFrame(pdf), ["text"]).toPandas()
    assert set(got["text"]) == set(batch["text"])


def test_streaming_pit_features_match_batch(spark, tmp_path):
    """Running PIT features via applyInPandasWithState: availableNow over
    two files == per-row expanding-window reference, state carrying
    across micro-batch boundaries; zero leakage by construction."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        STREAM_FEATURE_NAMES,
        streaming_pit_features,
    )
    rng = np.random.default_rng(4)
    frames = []
    for e in range(3):
        n = 40
        frames.append(pd.DataFrame({
            "doc_id": f"e{e}",
            "t": np.sort(rng.choice(np.arange(1000), n, replace=False))
            .astype(float),
            "m": rng.uniform(15, 21, n),
            "sigma": rng.uniform(0.01, 0.2, n)}))
    pdf = pd.concat(frames, ignore_index=True) \
        .sort_values(["t"]).reset_index(drop=True)
    src = str(tmp_path / "src")
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, t double, m double, sigma double").parquet(src)
    out_dir = str(tmp_path / "out")
    q = (streaming_pit_features(stream)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas() \
        .sort_values(["doc_id", "t"]).reset_index(drop=True)
    assert len(got) == len(pdf)
    for e, grp in pdf.groupby("doc_id"):
        grp = grp.sort_values("t")
        g = got[got.doc_id == e].reset_index(drop=True)
        t = grp.t.to_numpy()
        m = grp.m.to_numpy()
        w = grp.sigma.to_numpy() ** -2.0
        for i in range(len(grp)):
            pref_m, pref_t, pref_w = m[:i + 1], t[:i + 1], w[:i + 1]
            want = {
                "observation_count": i + 1.0,
                "mean": pref_m.mean(),
                "standard_deviation": (np.std(pref_m, ddof=1)
                                       if i > 0 else np.nan),
                "amplitude": 0.5 * (pref_m.max() - pref_m.min()),
                "weighted_mean": (pref_w * pref_m).sum() / pref_w.sum(),
                "duration": pref_t[-1] - pref_t[0],
                "maximum_time_interval": (np.diff(pref_t).max()
                                          if i > 0 else np.nan),
            }
            for k in STREAM_FEATURE_NAMES:
                np.testing.assert_allclose(
                    g.loc[i, k], want[k], rtol=1e-8, equal_nan=True,
                    err_msg=f"{e} row {i} {k}")


def test_streaming_pit_features_drops_late_cross_batch_rows(spark,
                                                            tmp_path):
    """A row arriving in a later micro-batch with t below the state's
    last folded t cannot be served leakage-free: the default late_policy
    drops it (round-3 review finding: folding it would leak the already
    folded future rows and yield negative durations)."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        streaming_pit_features)
    src = str(tmp_path / "src")
    f1 = pd.DataFrame({"doc_id": ["x"] * 3, "t": [1.0, 2.0, 10.0],
                       "m": [5.0, 6.0, 7.0], "sigma": [0.1] * 3})
    # t=4.0 is LATE: state already folded t=10
    f2 = pd.DataFrame({"doc_id": ["x"] * 2, "t": [4.0, 12.0],
                       "m": [8.0, 9.0], "sigma": [0.1] * 2})
    spark.createDataFrame(f1).coalesce(1).write.mode("overwrite") \
        .parquet(src)
    spark.createDataFrame(f2).coalesce(1).write.mode("append") \
        .parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, t double, m double, sigma double") \
        .option("maxFilesPerTrigger", 1).parquet(src)   # 2 micro-batches
    out_dir = str(tmp_path / "out")
    q = (streaming_pit_features(stream)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas().sort_values("t") \
        .reset_index(drop=True)
    assert list(got["t"]) == [1.0, 2.0, 10.0, 12.0]   # 4.0 dropped
    assert (got["duration"] >= 0).all()
    # the t=12 row's history excludes the dropped late row
    assert got.loc[3, "observation_count"] == 4.0
    assert got.loc[3, "mean"] == pytest.approx(np.mean([5, 6, 7, 9]))


def test_streaming_quantile_features_within_bound(spark, tmp_path):
    """Quantile-family PIT features from the bounded histogram sketch:
    availableNow over two files (cross-micro-batch state carry), every
    emitted estimate within its OWN emitted quantile_err_bound of the
    exact Hazen quantile of the same prefix."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        streaming_quantile_features,
    )
    rng = np.random.default_rng(11)
    frames = []
    for e in range(3):
        n = 60
        frames.append(pd.DataFrame({
            "doc_id": f"e{e}",
            "t": np.sort(rng.choice(np.arange(1000), n, replace=False))
            .astype(float),
            # heavy-tailed + shifted per entity: exercises the
            # range-doubling path
            "m": rng.standard_normal(n) * (10 ** e) + 5 * e,
            "sigma": np.full(n, 0.1)}))
    pdf = pd.concat(frames, ignore_index=True) \
        .sort_values(["t"]).reset_index(drop=True)
    src = str(tmp_path / "qsrc")
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, t double, m double, sigma double").parquet(src)
    out_dir = str(tmp_path / "qout")
    q = (streaming_quantile_features(stream, bins=128)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "qckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas() \
        .sort_values(["doc_id", "t"]).reset_index(drop=True)
    assert len(got) == len(pdf)
    checked = 0
    for e, grp in pdf.groupby("doc_id"):
        grp = grp.sort_values("t")
        g = got[got.doc_id == e].reset_index(drop=True)
        m = grp.m.to_numpy()
        for i in range(len(grp)):
            pref = m[:i + 1]
            row = g.iloc[i]
            assert row.observation_count == i + 1
            bound = row.quantile_err_bound + 1e-12
            for q_, col in ((0.5, "median"), (0.05, "q05"), (0.95, "q95")):
                exact = np.quantile(pref, q_, method="hazen")
                assert abs(row[col] - exact) <= bound, \
                    (e, i, col, row[col], exact, bound)
            ipr_exact = (np.quantile(pref, 0.75, method="hazen")
                         - np.quantile(pref, 0.25, method="hazen"))
            assert abs(row.inter_percentile_range - ipr_exact) \
                <= 2 * bound
            checked += 1
        # the bound is proportional to the entity's actual spread: the
        # sketch range only doubles, so bound < 2 * 4 * true_range / bins
        spread = m.max() - m.min()
        assert g.quantile_err_bound.iloc[-1] <= 8.01 * spread / 128
    assert checked == len(pdf)


def test_streaming_quantile_features_extreme_values(spark, tmp_path):
    """Finite values with astronomical dynamic range must not overflow
    the range-doubling loop (lo/hi clamp at DBL_MAX/2; beyond that,
    values land in the boundary cells instead of killing the stream);
    odd bin counts are rejected at the API boundary."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        streaming_quantile_features,
    )
    pdf = pd.DataFrame({
        "doc_id": "e0",
        "t": [1.0, 2.0, 3.0, 4.0],
        "m": [1.0, 1.0 + 1e-13, -1.7e308, 1.6e308],
        "sigma": 0.1})
    src = str(tmp_path / "xsrc")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite") \
        .parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, t double, m double, sigma double").parquet(src)
    out_dir = str(tmp_path / "xout")
    q = (streaming_quantile_features(stream, bins=8)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "xckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas().sort_values("t")
    assert len(got) == 4
    assert np.isfinite(got.quantile_err_bound).all()
    assert np.isfinite(got["median"]).all()
    # median of {1, 1+eps, -1.7e308(clamped), 1.6e308} stays near 1
    # within the (huge but finite) emitted bound
    assert abs(got["median"].iloc[-1]) <= got.quantile_err_bound.iloc[-1]
    with pytest.raises(ValueError, match="even"):
        streaming_quantile_features(stream, bins=7)


def test_streaming_features_skip_nan_event_time(spark, tmp_path):
    """A NaN event time must not poison last_t (NaN comparisons are all
    False, which would silently disable the late-row drop guard):
    NaN-t rows are skipped in both streaming feature families, and a
    subsequent late row is still dropped."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        streaming_pit_features,
        streaming_quantile_features,
    )
    b1 = pd.DataFrame({"doc_id": "e0", "t": [100.0, float("nan")],
                       "m": [1.0, 2.0], "sigma": 0.1})
    b2 = pd.DataFrame({"doc_id": "e0", "t": [50.0, 200.0],
                       "m": [3.0, 4.0], "sigma": 0.1})
    src = str(tmp_path / "nsrc")
    spark.createDataFrame(b1).coalesce(1).write.mode("overwrite") \
        .parquet(src)
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)
    for name, op in (("pit", streaming_pit_features),
                     ("q", streaming_quantile_features)):
        out_dir = str(tmp_path / f"nout_{name}")
        q = (op(spark.readStream.schema(
                "doc_id string, t double, m double, sigma double")
                .option("maxFilesPerTrigger", 1).parquet(src))
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", str(tmp_path / f"nckpt_{name}"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out_dir).toPandas().sort_values("t")
        # NaN-t row skipped; t=50 (late, cross-batch) dropped; 100+200 kept
        assert sorted(got.t.tolist()) == [100.0, 200.0], name
        assert got.observation_count.max() == 2, name


def test_streaming_asof_nan_times_and_session_end(spark, tmp_path):
    """Round-4 streaming review regressions: a NaN observation time must
    not poison lookback eviction; a NaN probe ts emits an unmatched row
    (the batch twin's null match) instead of grabbing the newest
    observation; streaming session_end is the last EVENT time (max ts),
    not last + gap."""
    import numpy as np
    from light_curve_python_spark.streaming.asof import streaming_asof_join
    from light_curve_python_spark.streaming.sessions import (
        streaming_session_stats,
    )
    obs = pd.DataFrame({"k": "a", "t": [1.0, 2.0, 3.0, float("nan")],
                        "v": [10.0, 20.0, 30.0, 99.0]})
    probes = pd.DataFrame({"k": "a", "ts": [2.5, float("nan")]})
    od, pdir = str(tmp_path / "o"), str(tmp_path / "p")
    spark.createDataFrame(obs).coalesce(1).write.mode("overwrite").parquet(od)
    spark.createDataFrame(probes).coalesce(1).write.mode("overwrite") \
        .parquet(pdir)
    out = (streaming_asof_join(
        spark.readStream.schema("k string, ts double").parquet(pdir),
        spark.readStream.schema("k string, t double, v double").parquet(od),
        on="k", value_cols=["v"], lookback=20.0)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "ao"))
        .option("checkpointLocation", str(tmp_path / "ac"))
        .outputMode("append").trigger(availableNow=True).start())
    out.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "ao")).toPandas()
    assert len(got) == 2
    matched = got[got.ts == 2.5].iloc[0]
    # in-horizon probe still matches t=2 (eviction not poisoned by NaN)
    assert matched.t_asof == 2.0 and matched.v_asof == 20.0
    nanrow = got[got.ts.isna()].iloc[0]
    assert np.isnan(nanrow.t_asof) and np.isnan(nanrow.v_asof)

    ev = pd.DataFrame({"user_id": 1,
                       "ts": pd.to_datetime([0, 60], unit="s"),
                       "value": [1.0, 2.0]})
    sd = str(tmp_path / "sev")
    spark.createDataFrame(ev).coalesce(1).write.mode("overwrite").parquet(sd)
    q = (streaming_session_stats(
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(sd), gap="30 minutes")
        .writeStream.format("memory").queryName("sess_end_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "sc"))
        .trigger(availableNow=True).start())
    q.awaitTermination(120)
    srow = spark.sql("SELECT * FROM sess_end_t").toPandas().iloc[0]
    # end == last event time, not last + gap
    assert srow.session_end == pd.Timestamp(60, unit="s")
    assert srow.session_start == pd.Timestamp(0, unit="s")


def test_streaming_counter_key_schema_and_ties(spark, tmp_path):
    """The stateful counter honors a custom (string) key column and the
    batch tie rule: an equal-ts non-detection at the first detection's
    timestamp is NOT counted."""
    from light_curve_python_spark.streaming.stateful import (
        streaming_n_not_det_before_fd,
    )
    ev = pd.DataFrame({"doc_id": "e0",
                       "ts": [1.0, 5.0, 5.0],
                       "value": [10.0, 400.0, 20.0]})
    sd = str(tmp_path / "cev")
    spark.createDataFrame(ev).coalesce(1).write.mode("overwrite").parquet(sd)
    q = (streaming_n_not_det_before_fd(
        spark.readStream.schema("doc_id string, ts double, value double")
        .parquet(sd), key_col="doc_id", ts_col="ts", m_col="value")
        .writeStream.format("memory").queryName("ndet_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cc"))
        .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ndet_t").toPandas()
    row = got.iloc[-1]
    assert row.doc_id == "e0"
    assert row.n_non_detections_before_fd == 1      # only the ts=1 row
    assert bool(row.first_detection_seen)


def test_streaming_pit_features_robust_inputs(spark, tmp_path):
    """Round-5 review fixes: (a) the variance from the battery's anchored
    prefix sums is stable for large-magnitude m (the raw sum-of-squares
    form cancelled to 0/noise at flux ~1e8); (b) sigma=0/NaN rows fold into unweighted moments only
    instead of crashing or NaN-poisoning the weighted mean forever;
    (c) NaN m rows are skipped entirely."""
    import numpy as np
    from light_curve_python_spark.streaming.features import (
        streaming_pit_features)
    rng = np.random.default_rng(8)
    base = 1e8
    m = base + rng.normal(0.0, 1.0, 30)
    pdf = pd.DataFrame({
        "doc_id": "e0", "t": np.arange(30, dtype=float), "m": m,
        "sigma": [0.1] * 10 + [0.0] + [0.1] * 19})
    pdf.loc[5, "m"] = np.nan            # skipped row
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "doc_id string, t double, m double, sigma double").parquet(src)
    out_dir = str(tmp_path / "out")
    q = (streaming_pit_features(stream)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas().sort_values("t")
    assert len(got) == 29               # NaN-m row emitted nothing
    last = got.iloc[-1]
    valid = np.delete(m, 5)
    # anchored sums: std ~ 1, not the cancelled 0.0 of (sm2 - sm^2/n)
    assert last["standard_deviation"] == pytest.approx(
        valid.std(ddof=1), rel=1e-6)
    assert last["mean"] == pytest.approx(valid.mean(), rel=1e-12)
    # weighted mean over the valid-sigma rows only (sigma=0 excluded)
    wvalid = np.delete(m, [5, 10])
    assert last["weighted_mean"] == pytest.approx(wvalid.mean(), rel=1e-9)


def test_streaming_bins_null_rows_not_counted(spark, tmp_path):
    """A null-m row must not inflate sigma/n_obs (batch bin_series
    parity: count only rows whose (m, w) entered the sums)."""
    from light_curve_python_spark.streaming.sessions import streaming_bins
    pdf = pd.DataFrame({
        "user_id": [1, 1, 1],
        "ts": pd.to_datetime(["2024-01-01 01:00", "2024-01-01 02:00",
                              "2024-01-01 03:00"]),
        "value": [2.0, None, 4.0], "sigma": [0.5, 0.5, 0.5]})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts timestamp, value double, sigma double") \
        .parquet(src)
    # complete-mode memory sink: append + watermark over availableNow
    # never emits aggregates of a single file
    got = _run_stream(spark, streaming_bins(stream, sigma_col="sigma"),
                      str(tmp_path / "binsfix")).toPandas()
    assert got.n_obs.iloc[0] == 2       # was 3 with count(*)
    # batch bin_series parity: the COUNT excludes the null-m row but
    # sum_w still includes its (non-null) weight — sqrt(2 / 3*w)
    assert got.sigma.iloc[0] == pytest.approx(
        (2 / (3 * 0.5 ** -2.0)) ** 0.5)


def test_streaming_counter_sigma_rule_and_nan_m(spark, tmp_path):
    """Per-row m > s2n*sigma detection rule (the batch flux twin) and
    NaN-m rows counted as neither detection nor non-detection."""
    import numpy as np

    from light_curve_python_spark.streaming.stateful import (
        streaming_n_not_det_before_fd)
    pdf = pd.DataFrame({
        "user_id": [1] * 5,
        "ts": [1.0, 2.0, 3.0, 4.0, 5.0],
        "value": [1.0, np.nan, 2.0, 60.0, 3.0],
        "sigma": [1.0, 1.0, 1.0, 1.0, 1.0]})
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, ts double, value double, sigma double").parquet(src)
    q = (streaming_n_not_det_before_fd(stream, sigma_col="sigma",
                                       signal_to_noise=5.0)
         .writeStream.format("memory").queryName("ctrfix")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM ctrfix").toPandas()
    # detections: value > 5*sigma -> only 60.0; NaN row skipped ->
    # 2 non-detections before first detection (1.0, 2.0)
    assert got.n_non_detections_before_fd.iloc[0] == 2
    assert bool(got.first_detection_seen.iloc[0])


def test_streaming_dedup_reserved_digest_column(spark):
    from light_curve_python_spark.streaming.sessions import (
        streaming_exact_dedup)
    df = spark.readStream.format("rate").load() \
        .withColumnRenamed("value", "_digest")
    with pytest.raises(ValueError, match="_digest"):
        streaming_exact_dedup(df, ["_digest"], ts_col="timestamp")


# --- stateful_map: one primitive, restart parity, fault injection ----------

def _write_files(d, frames, first=0):
    """One parquet file per frame, with increasing mtimes so a
    ``maxFilesPerTrigger=1`` file source reads them in order."""
    os.makedirs(d, exist_ok=True)
    for i, f in enumerate(frames, start=first):
        path = os.path.join(d, f"part-{i}.parquet")
        f.to_parquet(path, index=False)
        os.utime(path, (1.7e9 + i, 1.7e9 + i))


def _digest(spark, path):
    import hashlib
    rows = sorted(repr(tuple(r)) for r in spark.read.parquet(path).collect())
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def _frames(seed, n_files=3):
    """In-order files: file k holds t in [10k, 10k + 10) for 3 entities,
    with a value range that grows file by file."""
    import numpy as np
    rng = np.random.default_rng(seed)
    obs, probes = [], []
    for k in range(n_files):
        for e in range(3):
            t = 10.0 * k + np.sort(rng.choice(1000, 8, replace=False)) / 100
            obs.append(pd.DataFrame({
                "doc_id": f"e{e}", "t": t,
                "m": rng.normal(20.0, 5.0 * (k + 1), 8),
                "sigma": rng.uniform(0.05, 0.2, 8)}))
            probes.append(pd.DataFrame({
                "doc_id": f"e{e}", "ts": 10.0 * k + rng.uniform(0, 12, 4)}))
    per = len(obs) // n_files
    return ([pd.concat(obs[i * per:(i + 1) * per]) for i in range(n_files)],
            [pd.concat(probes[i * per:(i + 1) * per])
             for i in range(n_files)])


_OBS = "doc_id string, t double, m double, sigma double"


def _consumer(name):
    """(builder(read) -> streaming DataFrame, output mode) per consumer."""
    from light_curve_python_spark.streaming.asof import streaming_asof_join
    from light_curve_python_spark.streaming.features import (
        streaming_pit_features, streaming_quantile_features)
    from light_curve_python_spark.streaming.stateful import (
        streaming_n_not_det_before_fd)
    return {
        "asof": (lambda read: streaming_asof_join(
            read("probes", "doc_id string, ts double"), read("obs", _OBS),
            on="doc_id", value_cols=["m"], lookback=15.0), "append"),
        "counter": (lambda read: streaming_n_not_det_before_fd(
            read("obs", _OBS), key_col="doc_id", ts_col="t", m_col="m",
            m_threshold=35.0), "update"),
        "pit": (lambda read: streaming_pit_features(read("obs", _OBS)),
                "append"),
        "quantile": (lambda read: streaming_quantile_features(
            read("obs", _OBS), bins=16), "append"),
    }[name]


def _run_batches(spark, build, mode, src, ckpt, out):
    """availableNow, one file per source per micro-batch; every batch is
    appended to ``out`` tagged with its batch id."""
    def read(name, schema):
        return spark.readStream.schema(schema) \
            .option("maxFilesPerTrigger", 1).parquet(os.path.join(src, name))

    def sink(batch, batch_id):
        batch.withColumn("_batch", F.lit(batch_id)) \
            .write.mode("append").parquet(out)

    q = (build(read).writeStream.foreachBatch(sink).outputMode(mode)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


@pytest.mark.parametrize("name", ["asof", "counter", "pit", "quantile"])
def test_stateful_consumers_restart_parity(spark, tmp_path, name):
    """Files 1-2, a restart, then file 3 from the same checkpoint give
    exactly the rows (and micro-batch ids) of one uninterrupted run."""
    build, mode = _consumer(name)
    obs, probes = _frames(seed=21)
    full, split = str(tmp_path / "full"), str(tmp_path / "split")
    for d, upto in ((full, 3), (split, 2)):
        _write_files(os.path.join(d, "obs"), obs[:upto])
        _write_files(os.path.join(d, "probes"), probes[:upto])
    _run_batches(spark, build, mode, full, full + "/ckpt", full + "/out")
    _run_batches(spark, build, mode, split, split + "/ckpt", split + "/out")
    _write_files(os.path.join(split, "obs"), obs[2:], first=2)
    _write_files(os.path.join(split, "probes"), probes[2:], first=2)
    _run_batches(spark, build, mode, split, split + "/ckpt", split + "/out")
    want = _digest(spark, full + "/out")
    assert want[0] > 0
    assert _digest(spark, split + "/out") == want
    batches = spark.read.parquet(split + "/out").select("_batch") \
        .distinct().count()
    assert batches == 3


def test_stateful_map_kill_mid_batch_restart(spark, tmp_path):
    """A fold that dies inside micro-batch 2 (no task retry in local
    mode) kills the query; restarting from the same checkpoint gives the
    parquet sink byte-identical rows to an uninterrupted run."""
    import numpy as np
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import types as T

    from light_curve_python_spark.streaming.stateful import stateful_map

    obs, _ = _frames(seed=5)
    marker = str(tmp_path / "fail_once")

    def fold(_, a, st):
        if len(a["t"]) and a["t"][0] >= 10.0 and os.path.exists(marker):
            os.remove(marker)
            raise RuntimeError("injected fault in micro-batch 2")
        n = st["n"] + np.arange(1, len(a["t"]) + 1)
        s = np.cumsum(np.concatenate(([st["s"]], a["m"])))
        return ({"t": a["t"], "n": n, "s": s[1:]},
                {"n": st["n"] + len(a["t"]), "s": s[-1]})

    schema = T.StructType([T.StructField("t", T.DoubleType()),
                           T.StructField("n", T.LongType()),
                           T.StructField("s", T.DoubleType())])
    init = {"n": np.array(0), "s": np.array(0.0)}

    def run(d):
        stream = spark.readStream.schema(_OBS) \
            .option("maxFilesPerTrigger", 1).parquet(d + "/src")
        q = (stateful_map(stream.select("doc_id", "t", "m"), "doc_id", "t",
                          fold, schema, init)
             .writeStream.format("parquet").option("path", d + "/out")
             .option("checkpointLocation", d + "/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    clean, killed = str(tmp_path / "clean"), str(tmp_path / "killed")
    for d in (clean, killed):
        _write_files(d + "/src", obs)
    run(clean)
    open(marker, "w").close()
    with pytest.raises(StreamingQueryException, match="injected fault"):
        run(killed)
    assert not os.path.exists(marker)
    done = _digest(spark, killed + "/out")
    assert 0 < done[0] < len(pd.concat(obs))      # died after batch 1
    run(killed)
    want = _digest(spark, clean + "/out")
    assert want[0] == len(pd.concat(obs))
    assert _digest(spark, killed + "/out") == want


def test_streaming_pit_features_bitwise_battery(spark, tmp_path):
    """In-order stream over 3 micro-batches: the moment family equals
    PrefixBattery.evaluate_prefixes over every prefix, bit for bit."""
    import numpy as np

    from light_curve_python_spark.functions.battery import PrefixBattery
    from light_curve_python_spark.functions.kernels import make_kernel
    from light_curve_python_spark.streaming.features import (
        STREAM_FEATURE_NAMES, streaming_pit_features)

    obs, _ = _frames(seed=13)
    _write_files(str(tmp_path / "src"), obs)
    stream = spark.readStream.schema(_OBS) \
        .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "src"))
    q = (streaming_pit_features(stream)
         .writeStream.format("parquet").option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    battery = PrefixBattery([make_kernel(n) for n in STREAM_FEATURE_NAMES])
    allobs = pd.concat(obs)
    for e, grp in allobs.groupby("doc_id"):
        grp = grp.sort_values("t")
        g = got[got.doc_id == e].sort_values("t")
        assert g.t.tolist() == grp.t.tolist()
        want = battery.evaluate_prefixes(
            grp.t.to_numpy(), grp.m.to_numpy(), grp.sigma.to_numpy(),
            np.arange(1, len(grp) + 1))
        have = g[list(STREAM_FEATURE_NAMES)].to_numpy(np.float64)
        np.testing.assert_array_equal(have.view(np.uint64),
                                      want.view(np.uint64), err_msg=e)


def test_stateful_map_state_layout_mismatch():
    """One binary state layout; a checkpoint written by another operator
    or parameter set (here: a different histogram size) is rejected."""
    import numpy as np

    from light_curve_python_spark.streaming.stateful import _pack, _unpack

    init = {"lo": np.array(np.nan), "counts": np.zeros(8, np.int64),
            "hist": np.empty((0, 2))}
    st = {"lo": np.array(1.5), "counts": np.arange(8),
          "hist": np.arange(10.0).reshape(5, 2)}
    back = _unpack(_pack(st), init)
    assert back.keys() == st.keys()
    for k in st:
        np.testing.assert_array_equal(back[k], st[k])
        assert back[k].dtype == init[k].dtype
    for bad in ({**init, "counts": np.zeros(16, np.int64)},
                {**init, "hist": np.empty((0, 3))},
                {"lo": init["lo"], "counts": init["counts"]}):
        with pytest.raises(ValueError, match="does not match"):
            _unpack(_pack(st), bad)


def _quantile_loop_reference(values, bins, lo, hi, counts):
    """The per-row histogram fold the vectorized sketch replaced, kept as
    its reference: returns one (n, median, ipr, q05, q95, err) row per
    value and the new (lo, hi)."""
    import math

    import numpy as np

    from light_curve_python_spark.streaming.features import _HALF_MAX

    def hist_quantiles(n, width, qs):
        cum = np.cumsum(counts)
        h = np.clip(np.asarray(qs, dtype=np.float64) * n - 0.5, 0.0, n - 1.0)
        k = np.floor(h).astype(np.int64)
        frac = h - k

        def order_stat(ranks):
            idx = np.searchsorted(cum, ranks)
            prev = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0)
            return lo + (idx + (ranks - prev - 0.5) / counts[idx]) * width

        x0 = order_stat(k + 1)
        x1 = order_stat(np.minimum(k + 2, np.int64(n)))
        return (1.0 - frac) * x0 + frac * x1

    def cell(x, width):
        if width <= 0.0:
            return 0
        return min(max(int((x - lo) / width), 0), bins - 1)

    rows, n = [], float(counts.sum())
    for v in values:
        v = min(max(v, -_HALF_MAX), _HALF_MAX)
        if math.isnan(lo):
            lo = hi = v
            counts[0] += 1
        elif hi == lo and v == lo:
            counts[0] += 1
        elif hi == lo:
            seed_n, seed_v = counts[0], lo
            counts[0] = 0
            lo, hi = min(lo, v), max(hi, v)
            counts[cell(seed_v, (hi - lo) / bins)] = seed_n
            counts[cell(v, (hi - lo) / bins)] += 1
        else:
            while v < lo or v >= hi:
                if (v < lo and lo <= -_HALF_MAX) \
                        or (v >= hi and hi >= _HALF_MAX):
                    break
                width = hi - lo
                merged = counts.reshape(bins // 2, 2).sum(axis=1)
                counts[:] = 0
                if v < lo:
                    counts[bins // 2:] = merged
                    lo = max(lo - width, -_HALF_MAX)
                else:
                    counts[:bins // 2] = merged
                    hi = min(hi + width, _HALF_MAX)
            counts[cell(v, (hi - lo) / bins)] += 1
        n += 1.0
        width = (hi - lo) / bins
        if width <= 0.0:
            q05 = q25 = q50 = q75 = q95 = lo
            err = hi - lo
        else:
            q05, q25, q50, q75, q95 = hist_quantiles(
                n, width, (0.05, 0.25, 0.5, 0.75, 0.95))
            err = 2.0 * width
        rows.append((n, q50, q75 - q25, q05, q95, err))
    return rows, lo, hi


@pytest.mark.parametrize("case", ["growing", "flat_then_spread", "extreme",
                                  "subnormal", "doubling_every_row"])
def test_quantile_fold_matches_row_loop(case, monkeypatch):
    """The vectorized sketch fold is bitwise the per-row loop it replaced,
    for any split of the rows into micro-batches and of a batch into
    cumulative-count blocks."""
    import numpy as np

    from light_curve_python_spark.streaming import features
    from light_curve_python_spark.streaming.features import (
        QUANTILE_STREAM_NAMES, _quantile_fold)

    monkeypatch.setattr(features, "_BLOCK_CELLS", 56)   # 7-row blocks

    rng = np.random.default_rng(17)
    values = {
        "growing": rng.standard_normal(3000) * np.repeat([1, 4, 50], 1000),
        "flat_then_spread": np.r_[np.full(40, 3.0), 3.0 + rng.random(60)],
        "extreme": np.array([1.0, 1.0 + 1e-13, -1.7e308, 1.6e308, 2.0]),
        "subnormal": np.array([0.0, 5e-324, 0.0, 1e-323, 5e-324]),
        "doubling_every_row": 2.0 ** np.arange(60),
    }[case]
    bins = 8
    fold = _quantile_fold("t", "m", bins)
    st = {"lo": np.nan, "hi": np.nan, "counts": np.zeros(bins, np.int64)}
    ref_counts = np.zeros(bins, np.int64)
    lo = hi = np.nan
    cuts = np.sort(rng.choice(np.arange(1, len(values)), 3, replace=False))
    for part in np.split(values, cuts):
        out, st = fold(None, {"t": np.zeros(len(part)), "m": part}, st)
        want, lo, hi = _quantile_loop_reference(part, bins, lo, hi,
                                                ref_counts)
        have = np.column_stack([out[c] for c in QUANTILE_STREAM_NAMES])
        np.testing.assert_array_equal(
            have.view(np.uint64),
            np.asarray(want, dtype=np.float64).reshape(-1, 6).view(np.uint64))
        assert (st["lo"], st["hi"]) == (lo, hi)
        np.testing.assert_array_equal(st["counts"], ref_counts)
