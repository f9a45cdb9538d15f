"""Structured Streaming twins of the batch operators (SURVEY.md §2.9).

- streaming_session_stats: the gap-sessionize operator as F.session_window
  with a watermark (late rows beyond the watermark are dropped instead of
  reopening sessions).
- streaming_bins: the Bins tumbling rebin as F.window.

Both are tested with availableNow triggers over file sources in
tests/test_streaming.py — the same code runs against Kafka/rate sources on a
cluster.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["streaming_session_stats", "streaming_bins",
           "streaming_exact_dedup"]


def streaming_exact_dedup(stream: DataFrame, cols, ts_col: str = "ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of operators/dedup.exact_dedup: emit only the FIRST
    row per content digest.  The digest matches the batch operator
    (md5(to_json(struct(...))) — null- and boundary-safe), so a backfill
    job and the live stream agree on identity.  State is keyed on the
    digest; ``dropDuplicatesWithinWatermark`` ages keys out once they fall
    behind the event-time watermark — bounded state at unbounded stream
    length (an exact forever-dedup needs an external key store instead)."""
    from ..operators.dedup import content_digest
    if "_digest" in stream.columns:
        raise ValueError("streaming_exact_dedup reserves the '_digest' "
                         "column name; rename it first")
    digest = content_digest(cols)
    return (stream
            .withWatermark(ts_col, watermark)
            .withColumn("_digest", digest)
            .dropDuplicatesWithinWatermark(["_digest"])
            .drop("_digest"))


def streaming_session_stats(events: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts", gap: str = "30 minutes",
                            value_col: str = "value",
                            watermark: str = "1 hour") -> DataFrame:
    """Per-(key, session) aggregate over a gap-based session window.

    ``session_start``/``session_end`` are the first/last EVENT times of
    the session (Spark's raw ``session_window.end`` is last-event + gap;
    it is replaced by ``max(ts)`` here so the columns mean the same
    thing as the batch ``session_stats``).

    DOCUMENTED BOUNDARY DIVERGENCE from the batch operator: two events
    spaced EXACTLY ``gap`` apart fall in one batch session (the split
    condition is ``dt > gap``) but in two streaming sessions
    (``F.session_window``'s half-open [t, t+gap) windows do not overlap
    at exactly-gap spacing).  Continuous event times make this a
    measure-zero edge; pin one semantics before comparing live vs
    backfill on discretized timestamps."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
            .agg(F.count("*").alias("n_events"),
                 F.sum(value_col).alias("value_sum"),
                 F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"))
            .select(key_col, "session_start", "session_end",
                    "n_events", "value_sum"))


def streaming_bins(events: DataFrame, key_col: str = "user_id",
                   ts_col: str = "ts", m_col: str = "value",
                   sigma_col: Optional[str] = None, window: str = "1 day",
                   watermark: str = "1 hour") -> DataFrame:
    """Tumbling event-time rebin (the Bins meta-feature, streaming form)."""
    w = F.pow(F.col(sigma_col), F.lit(-2.0)) if sigma_col else F.lit(1.0)
    return (events
            .withWatermark(ts_col, watermark)
            .withColumn("_w", w)
            .groupBy(F.col(key_col), F.window(F.col(ts_col), window))
            .agg((F.sum(F.col(m_col) * F.col("_w")) / F.sum("_w"))
                 .alias(m_col),
                 # count only rows whose (m, w) entered the sums — a null
                 # m/sigma row would inflate sigma and n_obs (the batch
                 # twin bin_series carries the same guard)
                 F.sqrt(F.count(F.when(F.col(m_col).isNotNull()
                                       & F.col("_w").isNotNull(), 1))
                        / F.sum("_w")).alias("sigma"),
                 F.count(F.when(F.col(m_col).isNotNull()
                                & F.col("_w").isNotNull(), 1))
                 .alias("n_obs"))
            .select(key_col, F.col("window.start").alias("bin_start"),
                    m_col, "sigma", "n_obs"))
