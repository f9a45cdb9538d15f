"""Output checks, run outside the timed section.

Each check returns a list of failure strings (empty = pass).  The feature
reference is a driver-side serial evaluation: for every probe it slices
``t <= ts`` (and ``t >= ts - horizon``) itself and calls the per-window
``evaluate_many``, so it shares no code with ``PrefixBattery`` or with the
engine's grouping and slicing.
"""

from __future__ import annotations

import hashlib
from typing import Dict, List, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

RTOL, ATOL = 1e-6, 1e-9
# probes per sampled entity that the serial reference evaluates
PROBES_CHECKED = 8


def _float_matrix(table: pa.Table, names: Sequence[str]) -> np.ndarray:
    """Columns as float64 with SQL NULL -> NaN."""
    return np.column_stack([
        pc.fill_null(table.column(n).cast(pa.float64()), np.nan)
        .to_numpy(zero_copy_only=False) for n in names]) \
        if names else np.empty((table.num_rows, 0))


def payload_digest(table: pa.Table) -> str:
    """Order-insensitive digest of (doc_id, ts, tokens, n_tok, source)."""
    rows = sorted(zip(table.column("doc_id").to_pylist(),
                      table.column("ts").to_pylist(),
                      map(tuple, table.column("tokens").to_pylist()),
                      table.column("n_tok").to_pylist(),
                      table.column("source").to_pylist()))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def table_digest(table: pa.Table) -> str:
    """Order-insensitive digest of every column (floats by exact bits)."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(repr(r) for r in zip(*data))
    return hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows))
                          .encode()).hexdigest()


def serial_features(kernels, t, m, s, cutoffs, horizon: Optional[float],
                    fill_value=np.nan) -> np.ndarray:
    """Reference PIT features: one ``evaluate_many`` per probe window."""
    from light_curve_python_spark.functions.kernels import evaluate_many
    out = []
    for ts in cutoffs:
        keep = t <= ts
        if horizon is not None:
            keep &= t >= ts - horizon
        out.append(evaluate_many(kernels, t[keep], m[keep],
                                 None if s is None else s[keep],
                                 fill_value))
    return np.asarray(out)


def check_pit(out: pa.Table, obs: pa.Table, probes: pa.Table, kernels,
              names: Sequence[str], sample: Sequence[str],
              horizon: Optional[float] = None) -> List[str]:
    fails = []
    if out.num_rows != probes.num_rows:
        fails.append(f"rows {out.num_rows} != probes {probes.num_rows}")
    if payload_digest(out) != payload_digest(probes):
        fails.append("token payload digest differs from the input")
    for key in sample:
        o = out.filter(pc.equal(out.column("doc_id"), key)) \
            .sort_by([("ts", "ascending")])
        # evenly spaced probes, first and last included
        o = o.take(np.unique(np.linspace(
            0, max(o.num_rows - 1, 0), PROBES_CHECKED).astype(int))) \
            if o.num_rows else o
        ob = obs.filter(pc.equal(obs.column("doc_id"), key)) \
            .sort_by([("t", "ascending")])
        t = ob.column("t").to_numpy()
        want = serial_features(
            kernels, t, ob.column("m").to_numpy(),
            ob.column("sigma").to_numpy(), o.column("ts").to_numpy(),
            horizon)
        got = _float_matrix(o, names)
        if got.shape != want.shape or not np.allclose(
                got, want, rtol=RTOL, atol=ATOL, equal_nan=True):
            fails.append(f"features of {key} differ from the serial "
                         "reference")
    return fails


def check_entity(out: pa.Table, obs: pa.Table, kernels,
                 names: Sequence[str], sample: Sequence[str]) -> List[str]:
    """Whole-curve features: one row per entity, sample allclose to
    ``evaluate_many`` over the full curve."""
    from light_curve_python_spark.functions.kernels import evaluate_many
    fails = []
    want_ids = set(obs.column("doc_id").unique().to_pylist())
    got_ids = out.column("doc_id").to_pylist()
    if len(got_ids) != len(want_ids) or set(got_ids) != want_ids:
        fails.append(f"entity rows {len(got_ids)} != {len(want_ids)}")
    for key in sample:
        o = out.filter(pc.equal(out.column("doc_id"), key))
        ob = obs.filter(pc.equal(obs.column("doc_id"), key)) \
            .sort_by([("t", "ascending")])
        want = evaluate_many(kernels, ob.column("t").to_numpy(),
                             ob.column("m").to_numpy(),
                             ob.column("sigma").to_numpy())
        got = _float_matrix(o, names)
        if got.shape != (1, len(want)) or not np.allclose(
                got[0], want, rtol=RTOL, atol=ATOL, equal_nan=True):
            fails.append(f"whole-curve features of {key} differ")
    return fails


def check_multiband(out: pa.Table, obs: pa.Table) -> List[str]:
    fails = []
    want_ids = set(obs.column("doc_id").unique().to_pylist())
    got_ids = out.column("doc_id").to_pylist()
    if len(got_ids) != len(want_ids) or set(got_ids) != want_ids:
        fails.append(f"multiband rows {len(got_ids)} != {len(want_ids)}")
    period = _float_matrix(out, ["period_0"])[:, 0]
    if not (np.isfinite(period).all() and (period > 0).all()):
        fails.append("multiband period_0 not finite and positive")
    return fails


# ---- event_windows: DuckDB twins ------------------------------------------

GAP_30M = 1.0 / 48.0
H_1H = 1.0 / 24.0


def _dbl(v: float) -> str:
    # a bare fractional literal is DECIMAL in DuckDB (an ulp off); the
    # string form parses straight to the same IEEE double as Python's
    return f"CAST('{float(v)!r}' AS DOUBLE)"


SQL = {
    "asof": """
SELECT p.user_id, p.event_id AS probe_event_id, p.t AS pts,
       o.m AS click_value_asof, o.t AS t_asof
FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') o
  ON p.user_id = o.user_id AND o.t <= p.t""",
    "sessionize": f"""
WITH f AS (SELECT user_id, t, m,
        CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
               OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                  > {_dbl(GAP_30M)}
             THEN 1 ELSE 0 END AS nf
      FROM ev),
s AS (SELECT user_id, t, m,
        CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_seq
      FROM f)
SELECT user_id, session_seq, min(t) AS session_start,
  max(t) AS session_end, max(t) - min(t) AS session_duration,
  count(*) AS n_events, sum(m) AS value_sum
FROM s GROUP BY user_id, session_seq""",
    "rolling": f"""
SELECT user_id, event_id, t, m,
  count(*) OVER w AS cnt_1h, sum(m) OVER w AS sum_1h
FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t
    RANGE BETWEEN {_dbl(H_1H)} PRECEDING AND CURRENT ROW)""",
    "laglead": """
SELECT user_id, event_id, t, m,
  lag(m, 1) OVER (PARTITION BY user_id ORDER BY t) AS m_lag_1,
  lead(m, 1) OVER (PARTITION BY user_id ORDER BY t) AS m_lead_1,
  last_value(CASE WHEN event_type = 'purchase' THEN m END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    AS purchase_value
FROM ev""",
}

# sort keys that make each output's row order canonical
SORT_KEYS = {
    "asof": ["probe_event_id"],
    "sessionize": ["user_id", "session_seq"],
    "rolling": ["event_id"],
    "laglead": ["event_id"],
}


def duckdb_twins(events_path: str) -> Dict[str, pa.Table]:
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM "
                    f"read_parquet('{events_path}/*.parquet')")
        return {k: con.execute(q).arrow() for k, q in SQL.items()}
    finally:
        con.close()


def compare_tables(name: str, got: pa.Table, want: pa.Table) -> List[str]:
    """Same rows after canonical sort; integers and strings exactly,
    floats allclose, NULLs in the same places."""
    keys = SORT_KEYS[name]
    if got.num_rows != want.num_rows:
        return [f"{name}: rows {got.num_rows} != twin {want.num_rows}"]
    got = got.sort_by([(k, "ascending") for k in keys])
    want = want.sort_by([(k, "ascending") for k in keys])
    fails = []
    for col in want.column_names:
        if col not in got.column_names:
            fails.append(f"{name}: column {col} missing")
            continue
        g, w = got.column(col), want.column(col)
        if pa.types.is_floating(w.type) or pa.types.is_floating(g.type):
            gv = _float_matrix(pa.table({"x": g}), ["x"])[:, 0]
            wv = _float_matrix(pa.table({"x": w}), ["x"])[:, 0]
            if not np.allclose(gv, wv, rtol=1e-9, atol=1e-9,
                               equal_nan=True):
                fails.append(f"{name}: column {col} differs from twin")
        elif g.cast(w.type).to_pylist() != w.to_pylist():
            fails.append(f"{name}: column {col} differs from twin")
    return fails
