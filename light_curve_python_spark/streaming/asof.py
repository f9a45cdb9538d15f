"""Streaming point-in-time (as-of) join on ``stateful.stateful_map``.

The streaming form of ``operators.asof.asof_join`` (same tagged-union
shape): observations and probes arrive as ONE unioned stream per key;
per-key state holds the observation HISTORY (time-sorted arrays of t and
value columns, optionally evicted below a lateness horizon); each probe row
is emitted once, joined to the newest observation with ``t <= ts`` among
all observations seen up to and including its own micro-batch.

Semantics:
- within a micro-batch, visibility is by EVENT time (an observation in the
  same batch matches a probe with a later ts regardless of row order) —
  identical to the batch operator, asserted in tests;
- across micro-batches, state carries the history (and survives restarts
  via the checkpoint), so late probes still match earlier observations;
- a probe with a null/non-finite ts never reaches state: a stateless
  branch emits it unmatched (the batch twin's null match);
- observations arriving AFTER a probe was already emitted do not retract
  it — processing-time lateness, the standard online-path contract (the
  batch operator is the exact backfill twin);
- ``lookback`` bounds state per key: observations older than
  ``max_t_seen - lookback`` are evicted EXCEPT the newest such one (the
  ffill anchor), so any probe inside the horizon still matches.  None
  keeps full history (fine for bounded keys; set it in production).

Scale: state per key is O(history within lookback); the single shuffle is
the groupBy(key) exchange every stateful operator pays.
"""

from __future__ import annotations

from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .stateful import Arrays, finite, stateful_map

__all__ = ["streaming_asof_join"]


def streaming_asof_join(probes: DataFrame, obs: DataFrame, on: str,
                        left_ts: str = "ts", right_ts: str = "t",
                        value_cols: List[str] = ("v",),
                        lookback: Optional[float] = None,
                        suffix: str = "_asof") -> DataFrame:
    """Join each streaming probe row to the latest observation at or before
    its timestamp (per key).  ``probes`` and ``obs`` are streaming
    DataFrames sharing the key column; value columns must be numeric
    (stored as doubles in state).  Output: one row per probe —
    ``(key, ts, {value}{suffix}..., {right_ts}{suffix})``."""
    value_cols = list(value_cols)
    reserved = {"_t", "_is_probe"}
    taken = reserved & (set(value_cols) | {on, left_ts, right_ts})
    if taken:
        # same upfront rejection as the batch twin — a collision would
        # otherwise surface as an ambiguous-reference error mid-stream
        raise ValueError(f"names reserved by streaming_asof_join: {taken}")

    tagged_obs = obs.select(
        F.col(on),
        F.col(right_ts).cast("double").alias("_t"),
        F.lit(0).alias("_is_probe"),
        *[F.col(c).cast("double").alias(c) for c in value_cols])
    tagged_probes = probes.select(
        F.col(on),
        F.col(left_ts).cast("double").alias("_t"),
        F.lit(1).alias("_is_probe"),
        *[F.lit(None).cast("double").alias(c) for c in value_cols])
    outs = [f"{c}{suffix}" for c in value_cols] + [f"{right_ts}{suffix}"]
    schema = T.StructType([T.StructField(n, T.DoubleType())
                           for n in [left_ts] + outs])

    def fold(_, a: Arrays, st: Arrays):
        # history rows: (t, value columns...), sorted by t
        hist = st["hist"]
        probe = a["_is_probe"] == 1
        new = np.column_stack([a["_t"][~probe]]
                              + [a[c][~probe] for c in value_cols])
        # merge-insert this batch's (time-sorted) observations; equal-time
        # ties keep the newest insertion LAST so searchsorted(side='right')
        # - 1 picks it
        hist = np.insert(hist, np.searchsorted(hist[:, 0], new[:, 0],
                                               side="right"), new, axis=0)
        pts = a["_t"][probe]
        idx = np.searchsorted(hist[:, 0], pts, side="right")
        # row 0 of the lookup table is the unmatched (NaN) row
        got = np.concatenate([np.full((1, hist.shape[1]), np.nan), hist])[idx]
        out = {left_ts: pts, outs[-1]: got[:, 0],
               **{o: got[:, 1 + i] for i, o in enumerate(outs[:-1])}}
        if lookback is not None and len(hist):
            # evict below the horizon but keep the newest pre-horizon
            # observation as the ffill anchor
            cut = np.searchsorted(hist[:, 0], hist[-1, 0] - lookback,
                                  side="left")
            hist = hist[max(cut - 1, 0):]
        return out, {"hist": hist}

    matched = stateful_map(
        tagged_obs.unionByName(tagged_probes), on, "_t", fold, schema,
        {"hist": np.empty((0, 1 + len(value_cols)))})
    ts = F.col(left_ts).cast("double")
    unmatched = probes.filter(~finite(ts)).select(
        on, F.nanvl(ts, F.lit(None).cast("double")).alias(left_ts),
        *[F.lit(None).cast("double").alias(o) for o in outs])
    return matched.unionByName(unmatched)
