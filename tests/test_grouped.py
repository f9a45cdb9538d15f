"""The grouped-evaluation primitive (operators/grouped.py) against a
serial pandas ``groupby(dropna=False).apply`` reference, plus the
per-entity size assumption at one million points."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from light_curve_python_spark.operators.extract import FeatureExtractor
from light_curve_python_spark.operators.grouped import grouped_map


def _rows(t, m):
    """Per entity: nothing for a single point, else one row per point
    (rank, running sum of m in (t, m) order)."""
    if len(t) == 1:
        return None
    return np.arange(len(t), dtype=np.int64), np.cumsum(m)


def test_grouped_map_matches_pandas_groupby(spark):
    rng = np.random.default_rng(11)
    keys = [1.0] * 5 + [2.0] * 9 + [np.nan] * 6 + [3.0]
    pdf = pd.DataFrame({
        "k": keys,
        # duplicate t inside key 2.0: the m tiebreak fixes the order
        "t": [3.0, 1.0, 2.0, 5.0, 4.0] + [1.0, 1.0] + list(range(2, 9))
        + list(rng.permutation(6).astype(float)) + [0.0],
        "m": rng.uniform(0, 1, len(keys))})
    df = spark.createDataFrame(pdf).repartition(4)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        got = grouped_map(
            df, "k", ["t", "m"],
            [T.StructField("rank", T.LongType()),
             T.StructField("csum", T.DoubleType())],
            _rows, order_cols=("t", "m")).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    def ref(g):
        g = g.sort_values(["t", "m"])
        out = _rows(g.t.to_numpy(), g.m.to_numpy())
        if out is None:
            return pd.DataFrame({"rank": pd.Series([], dtype="int64"),
                                 "csum": pd.Series([], dtype="float64")})
        return pd.DataFrame({"rank": out[0], "csum": out[1]})

    want = (pdf.groupby("k", dropna=False)[["t", "m"]].apply(ref)
            .reset_index(level=0).reset_index(drop=True))
    # NaN is one group (Spark normalizes NaN keys); key 3.0 yields 0 rows
    assert got.k.isna().sum() == 6 and 3.0 not in set(got.k)
    order = ["k", "rank"]
    got = got.sort_values(order).reset_index(drop=True)
    want = want.sort_values(order).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[["k", "rank", "csum"]],
                                  want[["k", "rank", "csum"]])


def test_grouped_map_plan_has_no_sort(spark):
    df = spark.createDataFrame([("a", 1.0, 2.0)], "k string, t double, "
                               "m double")
    plan = FeatureExtractor(["mean"]).extract(df, "k", band_col=None) \
        ._jdf.queryExecution().executedPlan().toString()
    for node in ("ObjectHashAggregate", "Exchange", "MapInArrow"):
        assert node in plan
    assert "Sort" not in plan and "MapInPandas" not in plan


def test_extract_million_point_entity(spark):
    """One entity is one aggregation-buffer row and one list value; a
    1,000,000-point entity must still evaluate exactly."""
    n = 1_000_000
    df = spark.range(n).select(
        F.lit("big").alias("doc_id"),
        F.col("id").cast("double").alias("t"),
        ((F.col("id") * 7919) % 1000 / 10.0).alias("m"))
    row = FeatureExtractor(["mean", "amplitude"]) \
        .extract(df, band_col=None).collect()
    assert len(row) == 1
    m = (np.arange(n) * 7919 % 1000) / 10.0
    np.testing.assert_allclose(row[0]["mean"], m.mean(), rtol=1e-12)
    assert row[0]["amplitude"] == 0.5 * (m.max() - m.min())
