"""Custom stateful streaming operator via applyInPandasWithState.

The reference's detection counters are "count rows until the first event"
folds (features/flux_n_not_det_before_fd.py:35-49) — batch form in
sqlfeatures.detection_counts_sql; this is the streaming form (SURVEY.md
§2.9): per key, persist (seen_first_detection, n_non_detections_before) in
state and emit the running answer as events arrive.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["streaming_n_not_det_before_fd"]

STATE_SCHEMA = T.StructType([
    T.StructField("n_before", T.LongType()),
    T.StructField("seen", T.BooleanType()),
    T.StructField("last_ts", T.DoubleType()),
])


def streaming_n_not_det_before_fd(events: DataFrame,
                                  key_col: str = "user_id",
                                  ts_col: str = "ts", m_col: str = "value",
                                  m_threshold: Optional[float] = None,
                                  sigma_col: Optional[str] = None,
                                  signal_to_noise: float = 5.0,
                                  sigma_threshold: Optional[float] = None
                                  ) -> DataFrame:
    """Streaming count of non-detections before the first detection per
    key.  Two detection rules: with ``sigma_col`` set, a row is a
    detection iff ``m > signal_to_noise * sigma`` — the batch flux twin's
    per-row rule (detection_counts_sql / flux_n_not_det_before_fd);
    without it, the fixed ``m > m_threshold`` form.  Non-finite m rows
    are skipped (a NaN would otherwise be silently counted as a
    non-detection forever — checkpointed state never forgets).

    Rows within a batch are processed in event-time
    order with DETECTIONS FIRST among equal timestamps (the batch twin
    counts strictly ``t < first_detection_t``, so an equal-ts
    non-detection must not be counted); cross-batch LATE rows are
    DROPPED (they cannot be folded into an already-advanced counter
    without rewriting history — the same leak-free subset contract as
    ``streaming_pit_features(late_policy='drop')``); state carries
    across micro-batches.

    ``m_threshold`` defaults to 250.0.  ``sigma_threshold`` is the
    r4-era name of ``m_threshold`` — accepted as a deprecated alias so
    existing callers keep working; passing BOTH raises (a silently
    clobbered explicit m_threshold would compute detection counts
    against the wrong threshold)."""
    if sigma_threshold is not None:
        if m_threshold is not None:
            raise TypeError(
                "pass either m_threshold or its deprecated alias "
                "sigma_threshold, not both")
        import warnings
        warnings.warn("sigma_threshold is deprecated; use m_threshold",
                      DeprecationWarning, stacklevel=2)
        m_threshold = sigma_threshold
    if m_threshold is None:
        m_threshold = 250.0
    out_schema = T.StructType([
        events.schema[key_col],
        T.StructField("n_non_detections_before_fd", T.LongType()),
        T.StructField("first_detection_seen", T.BooleanType()),
    ])

    def fn(key: Tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        import math
        if state.exists:
            n_before, seen, last_ts = state.get
        else:
            n_before, seen, last_ts = 0, False, math.nan
        import numpy as np
        rows = pd.concat(list(pdfs), ignore_index=True)
        if sigma_col is not None:
            det_flags = rows[m_col] > signal_to_noise * rows[sigma_col]
        else:
            det_flags = rows[m_col] > m_threshold
        # ts asc, detections before non-detections on ties
        rows = rows.assign(_det=det_flags).sort_values(
            [ts_col, "_det"], ascending=[True, False])
        tser = rows[ts_col]
        if pd.api.types.is_datetime64_any_dtype(tser):
            # timestamp columns: compare as epoch seconds (NaT -> NaN,
            # skipped like any non-finite time)
            tnum = np.where(tser.isna(), np.nan,
                            tser.astype("int64", copy=False) / 1e9)
        else:
            tnum = tser.to_numpy(dtype=np.float64)
        for ts, v, is_det in zip(tnum, rows[m_col], rows["_det"]):
            if not math.isfinite(ts):
                continue
            if v is None or not math.isfinite(v):
                continue    # NaN m is neither a detection nor a non-det
            if not math.isnan(last_ts) and ts < last_ts:
                continue                    # cross-batch late row: drop
            last_ts = ts
            if seen:
                break
            if bool(is_det):
                seen = True
            else:
                n_before += 1
        state.update((int(n_before), bool(seen), float(last_ts)))
        yield pd.DataFrame({
            key_col: [key[0]],
            "n_non_detections_before_fd": [n_before],
            "first_detection_seen": [seen],
        })

    return (events.groupBy(key_col)
            .applyInPandasWithState(fn, out_schema, STATE_SCHEMA,
                                    "update",
                                    GroupStateTimeout.NoTimeout))
