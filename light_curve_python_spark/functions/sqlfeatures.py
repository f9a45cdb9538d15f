"""Spark-SQL forms of the aggregate-only feature families, the Otsu split
and the flux detection counter.

Every function here is the JVM-side (whole-stage-codegen, no Python) twin of
numpy kernels in ``kernels.py`` — same formulas, same names — and the engine
of its ``feat_*`` entry row.  A family keeps a JVM form only where that is
measured no slower than the kernel path (``FeatureExtractor.extract``);
the Hazen quantiles and the dm-dt maps run on the kernels.  Medians of 10
alternating JVM/kernel pairs, local[4], noop sink:

- sf0.1 (100k events, 1500 users): simple_stats 0.94/0.98 s,
  weighted_stats 0.63/0.73, skew_kurtosis 0.44/0.56, linear_fit_sql
  0.46/0.59, linear_trend_sql 0.56/0.60, dispersion_stats 0.82/0.76 (5 of
  10 pairs each way);
- sf1-like (1M events, 15000 users, scripts/gen_sflike.py):
  otsu_split_sql 1.99/2.41 s, detection_counts_sql 1.60/2.29 s (kernel
  slower in 9 and 10 of 10 pairs; at sf0.1 0.78/0.61 and 0.48/0.48).

These are also the paths that match the DuckDB twins bit for bit after
ROUND(6) at sf0.1: the kernel path moves ``eta_e`` (~2.9e8) and
``linear_fit_reduced_chi2`` (~2.9e5) by one unit in the 6th decimal on one
entity each, where only formula-identical summation agrees.

All take a long-format observations DataFrame and return one row per entity.
Multi-stage features (windows then aggregate) keep the same partitioning key
throughout, so Catalyst reuses the single entity shuffle across stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "simple_stats", "dispersion_stats", "weighted_stats", "skew_kurtosis",
    "linear_fit_sql", "linear_trend_sql", "otsu_split_sql",
    "detection_counts_sql",
]


def _w(entity):
    return Window.partitionBy(entity)


def _wo(entity, t):
    return Window.partitionBy(entity).orderBy(F.col(t).asc())


def simple_stats(obs: DataFrame, entity: str = "user_id", t: str = "t",
                 m: str = "m") -> DataFrame:
    """count/duration/amplitude/mean/median/std/meanvar/percent_amplitude/
    time stats/min+max time interval (formulas: SURVEY.md §2.4 table 1)."""
    dt = F.col(t) - F.lag(t, 1).over(_wo(entity, t))
    staged = obs.withColumn("_dt", dt)
    med = F.percentile(F.col(m), F.lit(0.5))
    return staged.groupBy(entity).agg(
        F.count("*").cast("double").alias("observation_count"),
        (F.max(t) - F.min(t)).alias("duration"),
        ((F.max(m) - F.min(m)) / 2).alias("amplitude"),
        F.avg(m).alias("mean"),
        med.alias("median"),
        F.stddev_samp(m).alias("standard_deviation"),
        (F.stddev_samp(m) / F.avg(m)).alias("mean_variance"),
        F.greatest(F.max(m) - med, med - F.min(m)).alias("percent_amplitude"),
        F.avg(t).alias("time_mean"),
        F.stddev_samp(t).alias("time_standard_deviation"),
        F.max("_dt").alias("maximum_time_interval"),
        F.min("_dt").alias("minimum_time_interval"),
    )


def dispersion_stats(obs: DataFrame, entity: str = "user_id", t: str = "t",
                     m: str = "m") -> DataFrame:
    """beyond_1_std, eta, eta_e, maximum_slope, cusum,
    lafler_kinman_string_length — lag/cumsum windows + one aggregation,
    single entity shuffle."""
    wo = _wo(entity, t)
    we = _w(entity)
    staged = (
        obs
        .withColumn("_mean", F.avg(m).over(we))
        .withColumn("_std", F.stddev_samp(m).over(we))
        .withColumn("_n", F.count("*").over(we))
        .withColumn("_dm", F.col(m) - F.lag(m, 1).over(wo))
        .withColumn("_dt", F.col(t) - F.lag(t, 1).over(wo))
        .withColumn("_cusum",
                    F.sum(F.col(m) - F.col("_mean")).over(
                        wo.rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow))))
    return staged.groupBy(entity).agg(
        # NULL (not 0.0) for single-observation entities: the null _std
        # makes the WHEN condition null -> count 0, which divided by n=1
        # would fabricate a finite 0.0 where the kernel path fills
        F.when(F.count("*") >= 2,
               F.count(F.when(F.abs(F.col(m) - F.col("_mean"))
                              > F.col("_std"), 1)) / F.count("*"))
        .alias("beyond_1_std"),
        (F.sum(F.col("_dm") ** 2)
         / ((F.count("*") - 1) * F.variance(m))).alias("eta"),
        (F.sum((F.col("_dm") / F.col("_dt")) ** 2)
         * (F.max(t) - F.min(t)) ** 2
         / ((F.count("*") - 1) ** 3 * F.variance(m))).alias("eta_e"),
        F.max(F.abs(F.col("_dm") / F.col("_dt"))).alias("maximum_slope"),
        ((F.max("_cusum") - F.min("_cusum"))
         / (F.count("*") * F.stddev_samp(m))).alias("cusum"),
        (F.sum(F.col("_dm") ** 2)
         / F.sum((F.col(m) - F.col("_mean")) ** 2))
        .alias("lafler_kinman_string_length"),
    )


def weighted_stats(obs: DataFrame, entity: str = "user_id", m: str = "m",
                   sigma: str = "sigma") -> DataFrame:
    """weighted_mean, reduced_chi2, stetson_k, excess_variance, roms."""
    we = _w(entity)
    w = F.pow(F.col(sigma), F.lit(-2.0))
    staged = (
        obs.withColumn("_w", w)
        .withColumn("_wmean",
                    F.sum(F.col(m) * F.col("_w")).over(we)
                    / F.sum("_w").over(we))
        .withColumn("_med", F.percentile(F.col(m), F.lit(0.5)).over(we)))
    resid = (F.col(m) - F.col("_wmean")) / F.col(sigma)
    return staged.groupBy(entity).agg(
        (F.sum(F.col(m) * F.col("_w")) / F.sum("_w")).alias("weighted_mean"),
        (F.sum(resid ** 2) / (F.count("*") - 1)).alias("reduced_chi2"),
        (F.sum(F.abs(resid))
         / F.sqrt(F.count("*") * F.sum(resid ** 2))).alias("stetson_k"),
        ((F.variance(m) - F.avg(F.col(sigma) ** 2)) / F.avg(m) ** 2)
        .alias("excess_variance"),
        (F.sum(F.abs(F.col(m) - F.col("_med")) / F.col(sigma))
         / (F.count("*") - 1)).alias("roms"),
    )


def skew_kurtosis(obs: DataFrame, entity: str = "user_id",
                  m: str = "m") -> DataFrame:
    """Unbiased G1 skew and G2 kurtosis via two-pass central sums (Spark's
    built-in skewness/kurtosis are the population-biased forms — SURVEY.md
    §2.4)."""
    we = _w(entity)
    staged = obs.withColumn("_mean", F.avg(m).over(we))
    d = F.col(m) - F.col("_mean")
    n = F.count("*")
    m2 = F.sum(d ** 2) / n
    m3 = F.sum(d ** 3) / n
    g1 = m3 / m2 ** 1.5
    var1 = F.sum(d ** 2) / (n - 1)  # ddof=1
    s4 = F.sum(d ** 4)
    return staged.groupBy(entity).agg(
        (g1 * F.sqrt(n * (n - 1)) / (n - 2)).alias("skew"),
        ((n * (n + 1) * s4) / ((n - 1) * (n - 2) * (n - 3) * var1 ** 2)
         - 3 * (n - 1) ** 2 / ((n - 2) * (n - 3))).alias("kurtosis"),
    )


def linear_fit_sql(obs: DataFrame, entity: str = "user_id", t: str = "t",
                   m: str = "m", sigma: str = "sigma") -> DataFrame:
    """Weighted OLS closed form (features/linfit.py:8-21) as pure aggregates:
    slope, slope_sigma, reduced chi2."""
    w = F.pow(F.col(sigma), F.lit(-2.0))
    staged = obs.withColumn("_w", w)
    S = F.sum("_w")
    St = F.sum(F.col("_w") * F.col(t))
    Sm = F.sum(F.col("_w") * F.col(m))
    Stt = F.sum(F.col("_w") * F.col(t) ** 2)
    Stm = F.sum(F.col("_w") * F.col(t) * F.col(m))
    Smm = F.sum(F.col("_w") * F.col(m) ** 2)
    n = F.count("*")
    slope = (S * Stm - St * Sm) / (S * Stt - St ** 2)
    intercept = (Sm - slope * St) / S
    chi2 = Smm - intercept * Sm - slope * Stm
    return staged.groupBy(entity).agg(
        slope.alias("linear_fit_slope"),
        F.sqrt(1.0 / ((Stt / S - (St / S) ** 2) * S))
        .alias("linear_fit_slope_sigma"),
        (chi2 / (n - 2)).alias("linear_fit_reduced_chi2"),
    )


def linear_trend_sql(obs: DataFrame, entity: str = "user_id", t: str = "t",
                     m: str = "m") -> DataFrame:
    """Unweighted OLS (features/lintrend.py:8-17): slope, slope_sigma, noise."""
    we = _w(entity)
    staged = (obs.withColumn("_tm", F.avg(t).over(we))
              .withColumn("_mm", F.avg(m).over(we)))
    dt = F.col(t) - F.col("_tm")
    dm = F.col(m) - F.col("_mm")
    sxx = F.sum(dt ** 2)
    sxy = F.sum(dt * dm)
    syy = F.sum(dm ** 2)
    n = F.count("*")
    slope = sxy / sxx
    red = (syy - slope * sxy) / (n - 2)
    return staged.groupBy(entity).agg(
        slope.alias("linear_trend_slope"),
        F.sqrt(red / sxx).alias("linear_trend_slope_sigma"),
        F.sqrt(red).alias("linear_trend_noise"),
    )


def otsu_split_sql(obs: DataFrame, entity: str = "user_id",
                   m: str = "m") -> DataFrame:
    """Otsu split (features/otsusplit.py:25-56) via ranked prefix sums:
    maximize w0·w1·(mean0−mean1)² over split points, argmax = first max
    (ties: smallest split index, matching np.argmax)."""
    wo = Window.partitionBy(entity).orderBy(F.col("_v").asc())
    we = _w(entity)
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = (
        obs.select(entity, F.col(m).alias("_v"))
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn("_n", F.count("*").over(we))
        .withColumn("_cum", F.sum("_v").over(run))
        .withColumn("_cumsq", F.sum(F.col("_v") ** 2).over(run))
        .withColumn("_tot", F.sum("_v").over(we))
        .withColumn("_totsq", F.sum(F.col("_v") ** 2).over(we))
        .filter(F.col("_rn") < F.col("_n")))
    i = F.col("_rn").cast("double")
    n = F.col("_n").cast("double")
    mean0 = F.col("_cum") / i
    mean1 = (F.col("_tot") - F.col("_cum")) / (n - i)
    icv = (i / n) * (1 - i / n) * (mean0 - mean1) ** 2
    std_lower = F.when(
        F.col("_rn") == 1, F.lit(0.0)).otherwise(
        F.sqrt((F.col("_cumsq") - F.col("_cum") ** 2 / i) / (i - 1)))
    std_upper = F.when(
        F.col("_rn") == F.col("_n") - 1, F.lit(0.0)).otherwise(
        F.sqrt(((F.col("_totsq") - F.col("_cumsq"))
                - (F.col("_tot") - F.col("_cum")) ** 2 / (n - i))
               / (n - i - 1)))
    scored = (staged
              .withColumn("_icv", icv)
              .withColumn("_mean_diff", mean1 - mean0)
              .withColumn("_std_lower", std_lower)
              .withColumn("_std_upper", std_upper)
              .withColumn("_ratio", i / n))
    pick = F.row_number().over(
        Window.partitionBy(entity).orderBy(F.col("_icv").desc(),
                                           F.col("_rn").asc()))
    return (scored.withColumn("_pick", pick).filter(F.col("_pick") == 1)
            .select(entity,
                    F.col("_mean_diff").alias("otsu_mean_diff"),
                    F.col("_std_lower").alias("otsu_std_lower"),
                    F.col("_std_upper").alias("otsu_std_upper"),
                    F.col("_ratio").alias("otsu_lower_to_all_ratio")))


def detection_counts_sql(obs: DataFrame, entity: str = "user_id",
                         t: str = "t", m: str = "m", sigma: str = "sigma",
                         signal_to_noise: float = 5.0) -> DataFrame:
    """flux_n_not_det_before_fd (features/flux_n_not_det_before_fd.py:35-49):
    rows strictly before the first detection (m > s2n·σ), time-ordered.
    Entities with no detection or no non-detection are dropped (the kernel
    path raises → fill_value)."""
    is_det = F.col(m) > signal_to_noise * F.col(sigma)
    firsts = obs.groupBy(entity).agg(
        F.min(F.when(is_det, F.col(t))).alias("_first_det"),
        F.count(F.when(is_det, 1)).alias("_n_det"),
        F.count("*").alias("_n"))
    # kernel raises (=> fill/drop) when there are no detections at all or no
    # non-detections at all (features/flux_n_not_det_before_fd.py:37-40)
    valid = firsts.filter(F.col("_first_det").isNotNull()
                          & (F.col("_n_det") < F.col("_n")))
    return (obs.join(valid, entity)
            .groupBy(entity)
            .agg(F.count(F.when(F.col(t) < F.col("_first_det"), 1))
                 .cast("double").alias("flux_n_non_detections_before_fd")))
