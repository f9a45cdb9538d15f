"""``stateful_map`` — the one stateful-stream primitive, and the detection
counter built on it.

``stateful_map`` is the streaming counterpart of ``operators.grouped.
grouped_map`` and the package's only pandas group-state operator: per key
it hands a vectorized callback the key's new rows as time-sorted numpy
arrays plus the carried state, and owns the policy every streaming
operator shares:

- rows with a null/non-finite time (or a non-finite value in a
  ``finite_cols`` column) are dropped JVM-side by one filter before
  ``groupBy(key)`` — a
  NaN time would poison the late-row guard, a NaN value would poison
  state that never forgets;
- each key's rows are concatenated and stably sorted by time; with
  ``late='drop'`` a row whose time is below the last folded time of an
  EARLIER micro-batch is dropped (it cannot be folded into state that
  already holds its future); ``late='keep'`` folds it anyway;
- the callback's state (named float64/int64 numpy arrays) is stored in one
  binary layout; a checkpoint whose stored names, dtypes or shapes do not
  match the running consumer raises ``ValueError``.

The reference's detection counters are "count rows until the first event"
folds (features/flux_n_not_det_before_fd.py:35-49) — batch form in
sqlfeatures.detection_counts_sql; ``streaming_n_not_det_before_fd`` is the
streaming form (SURVEY.md §2.9).
"""

from __future__ import annotations

import json
from typing import Callable, Dict, Iterable, Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["stateful_map", "streaming_n_not_det_before_fd"]

Arrays = Dict[str, np.ndarray]

_STATE_SCHEMA = T.StructType([T.StructField("state", T.BinaryType())])
_DTYPES = ("<f8", "<i8")


def finite(c: Column) -> Column:
    """Predicate: ``c`` is non-null and finite (never null itself)."""
    return F.coalesce(F.abs(c) < F.lit(float("inf")), F.lit(False))


def _pack(state: Arrays) -> bytes:
    """One layout for every consumer: a 4-byte header length, a JSON
    header of ``[name, dtype, shape]`` triples, then the raw arrays."""
    head = json.dumps([[k, v.dtype.str, v.shape]
                       for k, v in state.items()]).encode()
    return b"".join([len(head).to_bytes(4, "little"), head]
                    + [v.tobytes() for v in state.values()])


def _unpack(blob: bytes, init: Arrays) -> Arrays:
    n = int.from_bytes(blob[:4], "little")
    head = json.loads(blob[4:4 + n])
    want = [[k, v.dtype.str, list(v.shape)] for k, v in init.items()]

    def fits(got, exp):
        # a field initialised empty along axis 0 is a growable history
        return got[:2] == exp[:2] and (got[2] == exp[2] or (
            exp[2][:1] == [0] and got[2][1:] == exp[2][1:]))

    if len(head) != len(want) or not all(map(fits, head, want)):
        raise ValueError(
            f"checkpointed state {head} does not match this operator's "
            f"state {want}; restart with the same operator and parameters "
            "or a fresh checkpoint")
    out, pos = {}, 4 + n
    for k, dt, shape in head:
        cnt = int(np.prod(shape))
        out[k] = np.frombuffer(blob, dt, cnt, pos).reshape(shape).copy()
        pos += 8 * cnt
    return out


def stateful_map(df: DataFrame, key: str, t: str,
                 fold: Callable[[object, Arrays, Arrays],
                                Tuple[Arrays, Arrays]],
                 schema: T.StructType, init: Arrays, *,
                 finite_cols: Iterable[str] = (), late: str = "keep",
                 mode: str = "append") -> DataFrame:
    """Per key, fold each micro-batch's rows into carried state.

    Every column of ``df`` other than ``key`` reaches ``fold`` as a numpy
    array (``t`` as float64), sorted by ``t``.  ``fold(key_value, arrays,
    state)`` returns ``(out, new_state)``: ``out`` maps the names of
    ``schema`` (the output columns after the key) to equal-length arrays,
    ``new_state`` maps the names of ``init`` to float64/int64 arrays.
    ``state`` also carries ``last_t``, the time of the last row folded in
    an earlier micro-batch (NaN before the first), which the primitive
    owns.  ``fold`` is called once per key per micro-batch even when the
    late policy leaves no rows."""
    if late not in ("drop", "keep"):
        raise ValueError("late must be 'drop' or 'keep'")
    if "last_t" in init or any(np.asarray(v).dtype.str not in _DTYPES
                               for v in init.values()):
        raise ValueError("state fields are float64/int64 arrays; 'last_t' "
                         "is the primitive's own")
    init = {"last_t": np.array(np.nan), **init}
    keep = finite(F.col(t))
    for c in finite_cols:
        keep = keep & finite(F.col(c))
    src = df.withColumn(t, F.col(t).cast("double")).filter(keep)
    out_schema = T.StructType([df.schema[key], *schema.fields])

    def fn(k: Tuple, pdfs: Iterable[pd.DataFrame],
           gstate: GroupState) -> Iterator[pd.DataFrame]:
        state = _unpack(gstate.get[0], init) if gstate.exists \
            else {n: v.copy() for n, v in init.items()}
        rows = pd.concat(list(pdfs), ignore_index=True)
        tv = rows[t].to_numpy(np.float64)
        order = np.argsort(tv, kind="stable")
        last_t = state["last_t"]
        if late == "drop" and not np.isnan(last_t):
            order = order[tv[order] >= last_t]
        arrays = {c: rows[c].to_numpy()[order]
                  for c in rows.columns if c != key}
        arrays[t] = tv[order]
        out, new_state = fold(k[0], arrays, state)
        new_state["last_t"] = arrays[t][-1] if len(order) else last_t
        gstate.update((_pack({n: np.asarray(new_state[n], v.dtype)
                              for n, v in init.items()}),))
        res = pd.DataFrame({n: out[n] for n in schema.names},
                           columns=schema.names)
        if len(res):
            res.insert(0, key, k[0])
            yield res

    return (src.groupBy(key)
            .applyInPandasWithState(fn, out_schema, _STATE_SCHEMA, mode,
                                    GroupStateTimeout.NoTimeout))


def streaming_n_not_det_before_fd(events: DataFrame,
                                  key_col: str = "user_id",
                                  ts_col: str = "ts", m_col: str = "value",
                                  m_threshold: float = 250.0,
                                  sigma_col: Optional[str] = None,
                                  signal_to_noise: float = 5.0
                                  ) -> DataFrame:
    """Streaming count of non-detections before the first detection per
    key.  Two detection rules: with ``sigma_col`` set, a row is a
    detection iff ``m > signal_to_noise * sigma`` — the batch flux twin's
    per-row rule (detection_counts_sql / flux_n_not_det_before_fd);
    without it, the fixed ``m > m_threshold`` form.  Non-finite m rows
    are skipped (a NaN would otherwise be silently counted as a
    non-detection forever — checkpointed state never forgets).

    Rows within a batch are processed in event-time order with DETECTIONS
    FIRST among equal timestamps (the batch twin counts strictly
    ``t < first_detection_t``, so an equal-ts non-detection must not be
    counted); cross-batch LATE rows are DROPPED (they cannot be folded
    into an already-advanced counter without rewriting history — the same
    leak-free subset contract as ``streaming_pit_features(late_policy=
    'drop')``); state carries across micro-batches.  Output mode is
    ``update``: one row per key per micro-batch in which the key has
    rows."""
    cols = [key_col, ts_col, F.col(m_col).cast("double").alias("_m")]
    if sigma_col is not None:
        cols.append(F.col(sigma_col).cast("double").alias("_s"))
    schema = T.StructType([
        T.StructField("n_non_detections_before_fd", T.LongType()),
        T.StructField("first_detection_seen", T.BooleanType())])

    def fold(_, a: Arrays, st: Arrays):
        n_before, seen = int(st["n_before"]), bool(st["seen"])
        if not seen:
            det = a["_m"] > (signal_to_noise * a["_s"] if sigma_col
                             else m_threshold)
            det = det[np.lexsort((~det, a[ts_col]))]   # detections first
            first = int(np.argmax(det)) if det.any() else len(det)
            n_before += first
            seen = first < len(det)
        return ({"n_non_detections_before_fd": [n_before],
                 "first_detection_seen": [seen]},
                {"n_before": n_before, "seen": int(seen)})

    return stateful_map(events.select(*cols), key_col, ts_col, fold, schema,
                        {"n_before": np.array(0), "seen": np.array(0)},
                        finite_cols=["_m"], late="drop", mode="update")
