"""Feature extraction operators — the engine's flagship.

Recasts the reference's per-curve evaluators (``Feature.__call__`` /
``Feature.many``, /root/reference/light-curve/src/features.rs:2289-2531) as
Arrow-batched Spark operators:

- :meth:`FeatureExtractor.extract` — one feature vector per entity over its
  whole series (the reference's ``many``: one curve in, one vector out),
  on the aggregate-then-map primitive of operators/grouped.py;
  :meth:`FeatureExtractor.extract_nested` is its map half over curves
  that are already nested.
- :meth:`FeatureExtractor.extract_point_in_time` — one feature vector per
  entity×timestamp probe, seeing ONLY observations with ``t <= ts`` (and
  ``t >= ts - horizon`` when a range horizon is given — both bounds
  INCLUSIVE, matching SQL ``RANGE BETWEEN h PRECEDING AND CURRENT
  ROW``): the as-of/point-in-time
  semantics the north rule adds on top of the reference, with zero temporal
  leakage by construction (slices are taken with ``np.searchsorted`` on the
  sorted time axis, never a full-table filter that could drift).

All kernels for a row are evaluated in ONE pass per curve — the reference's
Extractor fusion (features/extractor.py:36-41) — because Catalyst cannot fuse
across Python UDF boundaries (SURVEY.md §4).

Skew: hot entities (observation count above ``hot_threshold``) are handled by
salting: their probe rows are split across ``salt_partitions`` buckets and the
observation side is replicated per bucket, so one giant entity no longer pins
a single task.  Only the probe side is split — every probe still sees the full
observation history, so order-sensitive kernels stay exact (SURVEY.md §7
"hard parts" (4)).

The token payload (or any probe column) is carried through untouched: feature
columns are appended to the probe pandas frame, the Arrow round-trip of
``array<int32>`` is lossless (asserted byte-for-byte in tests/test_extract.py).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.battery import PrefixBattery
from ..functions.kernels import Kernel, evaluate_many, make_kernel
from ..functions.transforms import apply_transform_column
from .grouped import grouped_map, map_curves

__all__ = ["FeatureExtractor"]

FeatureArg = Union[str, Kernel, tuple]


def _resolve(features: Iterable[FeatureArg]) -> List[Kernel]:
    out = []
    for f in features:
        if isinstance(f, Kernel):
            out.append(f)
        elif isinstance(f, str):
            out.append(make_kernel(f))
        elif isinstance(f, tuple):
            key, params = f
            out.append(make_kernel(key, **params))
        else:
            raise TypeError(f"bad feature spec: {f!r}")
    return out


class FeatureExtractor:
    """A compiled feature-extraction plan (the engine's analogue of the
    reference's ``Extractor`` object — immutable, picklable, shipped to
    executors inside the UDF closure)."""

    def __init__(self, features: Sequence[FeatureArg],
                 fill_value: Optional[float] = float("nan"),
                 bands: Optional[Sequence[str]] = None,
                 transforms: Optional[object] = None):
        self.kernels = _resolve(features)
        self.fill_value = fill_value
        self.bands = list(bands) if bands else None
        if transforms is True:
            # the reference spells this transform=True — accept it as the
            # stock-transform request rather than failing in dict(True)
            transforms = "default"
        if transforms == "default":
            # the reference's transform=True: per-class stock transforms
            from ..functions.transforms import DEFAULT_TRANSFORMS
            keys = {k.key for k in self.kernels}
            transforms = {k: v for k, v in DEFAULT_TRANSFORMS.items()
                          if k in keys}
        self.transforms = dict(transforms or {})
        if not self.kernels:
            raise ValueError("need at least one feature")

    # ---- metadata --------------------------------------------------------

    @property
    def base_names(self) -> List[str]:
        return [n for k in self.kernels for n in k.names]

    @property
    def names(self) -> List[str]:
        """Output column names; per-band suffix convention ``{name}_{band}``
        matches the reference's multiband naming (SURVEY.md §1.3)."""
        if self.bands is None:
            return self.base_names
        return [f"{n}_{b}" for b in self.bands for n in self.base_names]

    @property
    def needs_sigma(self) -> bool:
        return any(k.needs_sigma for k in self.kernels)

    def _feature_fields(self):
        return [T.StructField(n, T.DoubleType(), True) for n in self.names]

    # ---- kernel-side evaluation ------------------------------------------

    def _check_name_collisions(self, existing, what):
        clash = set(self.names) & set(existing)
        if clash:
            raise ValueError(
                f"feature output names collide with {what}: "
                f"{sorted(clash)} — rename the columns or the features "
                "(a duplicate-name schema fails deep inside the "
                "executors otherwise)")

    def _eval_window(self, t, m, s) -> np.ndarray:
        if self.bands is None:
            return evaluate_many(self.kernels, t, m, s, self.fill_value)
        raise AssertionError("banded path uses _eval_window_banded")

    def _eval_window_banded(self, t, m, s, band_codes) -> np.ndarray:
        outs = []
        for bi in range(len(self.bands)):
            mask = band_codes == bi
            outs.append(evaluate_many(
                self.kernels, t[mask], m[mask],
                None if s is None else s[mask], self.fill_value))
        return np.concatenate(outs)

    def _band_codes(self, vals) -> np.ndarray:
        codes = pd.Categorical(vals, categories=self.bands).codes
        # a TYPE mismatch (integer-coded column vs string bands or vice
        # versa) makes every code -1 and would silently emit all-fill
        # output for the whole table; an entity merely observed in other
        # bands is legitimate and keeps the fill behavior
        if len(codes) and (codes == -1).all() \
                and isinstance(vals[0], (str, bytes)) \
                != isinstance(self.bands[0], (str, bytes)):
            raise ValueError(
                f"band column type {type(vals[0]).__name__!r} cannot "
                f"match bands={self.bands!r} — every code resolves "
                "to -1 (all-fill output)")
        return codes

    def _prepare_arrays(self, pdf: pd.DataFrame, t_col, m_col, sigma_col,
                        band_col):
        t = pdf[t_col].to_numpy(dtype=np.float64)
        m = pdf[m_col].to_numpy(dtype=np.float64)
        # lexsort (t, then m): identical to the plain t-sort whenever t
        # is unique (the validated-ingest guarantee), and a DETERMINISTIC
        # tie order otherwise — a stable sort alone would preserve
        # arbitrary shuffle arrival order among equal-t rows, making
        # consecutive-difference kernels differ between runs/retries
        order = np.lexsort((m, t))
        t = t[order]
        m = m[order]
        s = (pdf[sigma_col].to_numpy(dtype=np.float64)[order]
             if sigma_col else None)
        codes = (self._band_codes(pdf[band_col].to_numpy()[order])
                 if self.bands is not None else None)
        return t, m, s, codes

    # ---- whole-entity extraction -----------------------------------------

    def extract(self, obs: DataFrame, entity_col: str = "doc_id",
                t_col: str = "t", m_col: str = "m",
                sigma_col: Optional[str] = "sigma",
                band_col: str = "band") -> DataFrame:
        """One output row per entity over its complete series, evaluated
        by :func:`~.grouped.grouped_map` (one hash aggregation, then every
        entity of an Arrow batch in one Python call) with the feature
        callback :meth:`extract_nested` shares."""
        # prune sigma when no kernel needs it (an explicitly passed
        # column would otherwise ship through Arrow for nothing, and a
        # sigma-less dataset would fail the select)
        sigma_col = sigma_col if self.needs_sigma else None
        self._check_name_collisions([entity_col], "the entity column")
        value_cols = [t_col, m_col] + ([sigma_col] if sigma_col else []) \
            + ([band_col] if self.bands is not None else [])
        out = grouped_map(obs, entity_col, value_cols,
                          self._feature_fields(),
                          self._curve_fn(sigma_col is not None),
                          order_cols=(t_col, m_col))
        return self._apply_transforms(out)

    def _curve_fn(self, has_sigma: bool):
        """The per-curve callback of :meth:`extract` and
        :meth:`extract_nested`: ``(t, m[, sigma][, band])`` in (t, m)
        lexsort order — the tie order of :meth:`_prepare_arrays` — to one
        feature row."""
        this = self

        def fn(t, m, *rest):
            s = rest[0] if has_sigma else None
            if this.bands is None:
                vec = this._eval_window(t, m, s)
            else:
                vec = this._eval_window_banded(t, m, s,
                                               this._band_codes(rest[-1]))
            return vec[:, None]
        return fn

    # ---- point-in-time extraction ----------------------------------------

    def extract_point_in_time(
            self, obs: DataFrame, probes: DataFrame,
            entity_col: str = "doc_id", t_col: str = "t", m_col: str = "m",
            sigma_col: Optional[str] = "sigma", band_col: str = "band",
            ts_col: str = "ts", horizon: Optional[float] = None,
            salt_partitions: Optional[int] = None,
            hot_threshold: Optional[int] = None,
            payload_via_join: bool = True,
            use_arrow: bool = True) -> DataFrame:
        """Feature vector per probe row, window = {obs : t <= ts
        [and t >= ts - horizon, both bounds inclusive]}.  All probe columns pass through untouched.

        payload_via_join: when probes carry extra columns (token payloads),
        don't ship them through the Python workers at all — the UDF sees only
        (entity, ts, uid) and the payload is joined back JVM-side by uid.
        Byte-identical result (it never leaves the JVM), far less Arrow I/O.
        """
        # prune sigma when no kernel needs it (an explicitly passed
        # column would otherwise ship through Arrow for nothing, and a
        # sigma-less dataset would fail the select)
        sigma_col = sigma_col if self.needs_sigma else None
        arrow_ok = (use_arrow and horizon is None and self.bands is None)
        payload_cols = [c for c in probes.columns
                        if c not in (entity_col, ts_col)]
        # collision check on the FULL probe schema before any branching —
        # the payload_via_join recursion only sees the slim columns, and a
        # payload column named like a feature output would otherwise
        # surface as an ambiguous-reference error deep in the job
        self._check_name_collisions(probes.columns, "probe columns")
        # the uid-join detour only pays when payload columns would otherwise
        # be materialized as pandas objects; the Arrow path streams them
        # through as raw buffers, so it keeps the payload inline
        if payload_via_join and payload_cols and not arrow_ok:
            # DETERMINISTIC uid: row_number within the entity partition,
            # ordered by ts.  monotonically_increasing_id depends on the
            # physical partition layout, so a task retry / AQE replan could
            # assign different ids in the slim branch vs the join-back
            # branch.  row_number ties (same entity, same ts) are assigned
            # arbitrarily, but such probes have IDENTICAL feature input, so
            # any assignment joins a correct feature row to each payload.
            # The window shuffles on the same entity key the cogroup needs.
            w_uid = Window.partitionBy(entity_col).orderBy(ts_col)
            probes_uid = probes.withColumn(
                "_probe_rn", F.row_number().over(w_uid))
            slim = probes_uid.select(entity_col, ts_col, "_probe_rn")
            feats = self.extract_point_in_time(
                obs, slim, entity_col, t_col, m_col, sigma_col, band_col,
                ts_col, horizon, salt_partitions, hot_threshold,
                payload_via_join=False, use_arrow=use_arrow)
            # null-SAFE equality on the entity key: the cogroup path emits
            # fill rows for null-entity probes (groupBy keeps the null
            # group), and a plain inner join's null != null would silently
            # drop exactly those rows on this branch
            f = feats.drop(ts_col)
            out = probes_uid.join(
                f, probes_uid[entity_col].eqNullSafe(f[entity_col])
                & (probes_uid["_probe_rn"] == f["_probe_rn"]),
                "inner").drop(f[entity_col]).drop(f["_probe_rn"])
            return out.drop("_probe_rn")
        ocols = [entity_col, t_col, m_col]
        if sigma_col:
            ocols.append(sigma_col)
        if self.bands is not None:
            ocols.append(band_col)
        obs_p = obs.select(*ocols)

        group_keys = [entity_col]
        if salt_partitions and hot_threshold:
            obs_p, probes, group_keys = self._salt(
                obs_p, probes, entity_col, ts_col,
                salt_partitions, hot_threshold)

        self._check_name_collisions(probes.columns, "probe columns")
        probe_fields = [f for f in probes.schema.fields]
        schema = T.StructType(probe_fields + self._feature_fields())
        names = self.names
        this = self
        # prefix-vectorized path: full-history windows, single band —
        # evaluates the entire probe set of a group in one pass
        battery = (PrefixBattery(self.kernels, self.fill_value)
                   if horizon is None and self.bands is None else None)

        if battery is not None and use_arrow:
            return self._apply_transforms(self._pit_arrow(
                obs_p, probes, group_keys, schema, battery,
                entity_col, t_col, m_col, sigma_col, ts_col))

        def fn(obs_pdf: pd.DataFrame, probes_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(probes_pdf) == 0:
                return pd.DataFrame(columns=[f.name for f in schema.fields])
            out = probes_pdf.reset_index(drop=True)
            if len(obs_pdf) == 0:
                t = m = np.empty(0)
                s = np.empty(0) if sigma_col else None
                codes = (np.empty(0, dtype=np.int8)
                         if this.bands is not None else None)
            else:
                t, m, s, codes = this._prepare_arrays(
                    obs_pdf, t_col, m_col, sigma_col, band_col)
            cutoffs = out[ts_col].to_numpy(dtype=np.float64)
            if battery is not None:
                ends = np.searchsorted(t, cutoffs, side="right")
                # a NULL/NaN cutoff must see NOTHING (fill row) — searchsorted
                # treats NaN as +inf, which would leak the full history
                ends[np.isnan(cutoffs)] = 0
                feats = battery.evaluate_prefixes(t, m, s, ends)
            else:
                feats = np.empty((len(out), len(names)), dtype=np.float64)
                for j, cutoff in enumerate(cutoffs):
                    if np.isnan(cutoff):
                        # NULL/NaN cutoff sees NOTHING (fill row) — NaN
                        # compares as +inf in searchsorted and would leak
                        # the full history
                        lo = hi = 0
                    else:
                        hi = np.searchsorted(t, cutoff, side="right")
                        # inclusive lower bound: t >= ts - horizon, matching
                        # Window.rangeBetween(-horizon, 0)
                        lo = (np.searchsorted(t, cutoff - horizon,
                                              side="left")
                              if horizon is not None else 0)
                    sl = slice(lo, hi)
                    sw = None if s is None else s[sl]
                    if codes is None:
                        feats[j] = this._eval_window(t[sl], m[sl], sw)
                    else:
                        feats[j] = this._eval_window_banded(
                            t[sl], m[sl], sw, codes[sl])
            # single concat, not 40 per-column inserts per group
            return pd.concat(
                [out, pd.DataFrame(feats, columns=list(names))], axis=1)

        grouped = obs_p.groupby(*group_keys).cogroup(
            probes.groupby(*group_keys))
        out = grouped.applyInPandas(fn, schema)
        if "_salt" in out.columns:
            out = out.drop("_salt")
        return self._apply_transforms(out)

    # ---- arrow fast path ----------------------------------------------------

    def _pit_arrow(self, obs_p: DataFrame, probes: DataFrame, group_keys,
                   schema, battery, entity_col, t_col, m_col, sigma_col,
                   ts_col) -> DataFrame:
        """applyInArrow variant of the prefix-battery PIT extraction: no
        pandas materialization — Arrow column buffers go straight to numpy
        (~25-35% faster end to end than the pandas UDF at both 8 and 32
        cores on the sf0.1 flagship)."""
        import pyarrow as pa

        feature_names = list(battery.names)
        probe_names = [f.name for f in probes.schema.fields]

        def fn(obs_t: "pa.Table", probes_t: "pa.Table") -> "pa.Table":
            out_schema = pa.schema(
                list(probes_t.schema)
                + [pa.field(n, pa.float64()) for n in feature_names])
            if probes_t.num_rows == 0:
                return out_schema.empty_table()
            t = obs_t.column(t_col).to_numpy()
            m = obs_t.column(m_col).to_numpy()
            # lexsort (m tiebreak), matching _prepare_arrays: a stable
            # sort alone keeps arbitrary shuffle arrival order among
            # equal-t rows, so consecutive-difference kernels would
            # differ between runs/retries
            order = np.lexsort((m, t))
            t = t[order]
            m = m[order]
            s = (obs_t.column(sigma_col).to_numpy()[order]
                 if sigma_col else None)
            ts = probes_t.column(ts_col).to_numpy()
            ends = np.searchsorted(t, ts, side="right")
            ends[np.isnan(ts)] = 0  # NaN cutoff sees nothing (fill row)
            feats = battery.evaluate_prefixes(t, m, s, ends)
            cols = [probes_t.column(n).combine_chunks()
                    for n in probe_names] + \
                   [pa.array(feats[:, i]) for i in range(feats.shape[1])]
            return pa.Table.from_arrays(cols, schema=out_schema)

        grouped = obs_p.groupby(*group_keys).cogroup(
            probes.groupby(*group_keys))
        out = grouped.applyInArrow(fn, schema)
        if "_salt" in out.columns:
            out = out.drop("_salt")
        return out

    # ---- nested-input extraction --------------------------------------------

    def extract_nested(self, df: DataFrame, curve_col: str = "curve",
                       t_field="t", m_field="m", sigma_field="sigma",
                       band_field=None) -> DataFrame:
        """Whole-entity extraction over a NESTED curve column
        ``array<struct<...>>`` — the reference's Arrow ``List<Struct>``
        input contract (/root/reference/light-curve/src/arrow_input.rs:
        166-284): struct fields are resolved by name or zero-based index,
        t/m/sigma must share one float dtype, band may be string or
        integer, and ANY null (list, struct, or field level) is rejected
        (features.rs:1795-1811).

        Because each row already carries its complete curve, this is the
        map half of :meth:`extract` alone (:func:`~.grouped.map_curves`,
        same callback): no groupBy, no exchange — the plan a nested
        Iceberg/parquet layout buys at scale.  All non-curve columns pass
        through untouched.  Output equals :meth:`extract` on the exploded
        long format, fill values as SQL NULL in both (asserted inside
        Spark in tests/test_extract.py).
        """
        elem = df.schema[curve_col].dataType
        if not isinstance(elem, T.ArrayType) \
                or not isinstance(elem.elementType, T.StructType):
            raise TypeError(
                f"{curve_col} must be array<struct<...>>, got "
                f"{elem.simpleString()}")
        struct_fields = elem.elementType.fields

        def resolve(ref, role):
            if ref is None:
                return None
            if isinstance(ref, int):
                if not 0 <= ref < len(struct_fields):
                    raise ValueError(f"{role}: field index {ref} out of "
                                     f"range")
                return ref
            for i, f in enumerate(struct_fields):
                if f.name == ref:
                    return i
            raise ValueError(f"{role}: no struct field named {ref!r}")

        # prune when unneeded (and keep a valid falsy index 0 when needed)
        sigma_field = sigma_field if self.needs_sigma else None
        t_idx = resolve(t_field, "t")
        m_idx = resolve(m_field, "m")
        s_idx = resolve(sigma_field, "sigma")
        if self.bands is not None and band_field is None:
            # fail at the driver with the real cause, not a NameError
            # inside every executor task
            raise ValueError(
                "banded extractor needs band_field (the struct field "
                "carrying the band)")
        b_idx = resolve(band_field if self.bands is not None else None,
                        "band")
        numeric = [(t_idx, "t"), (m_idx, "m")] \
            + ([(s_idx, "sigma")] if s_idx is not None else [])
        seen = {}
        for idx, role in numeric:
            if idx in seen:
                raise ValueError(f"arrow_fields: {seen[idx]} and {role} "
                                 f"must refer to different fields")
            seen[idx] = role
        dtypes = {struct_fields[i].dataType.simpleString()
                  for i, _ in numeric}
        if not dtypes <= {"float", "double"} or len(dtypes) != 1:
            raise TypeError("Struct fields for t/m/sigma must share one "
                            f"float dtype, got {sorted(dtypes)}")
        if b_idx is not None:
            bt = struct_fields[b_idx].dataType.simpleString()
            if bt not in ("string", "tinyint", "smallint", "int", "bigint"):
                raise TypeError(f"band field must be string or integer, "
                                f"got {bt}")

        pass_names = [c for c in df.columns if c != curve_col]
        self._check_name_collisions(pass_names, "pass-through columns")
        # ANY null — list, element, or a used field — is rejected before
        # the map (NaN-for-null is the long-format convention only)
        used = [i for i in (t_idx, m_idx, s_idx, b_idx) if i is not None]
        curve = F.col(curve_col)
        bad = curve.isNull() | F.exists(curve, lambda e: reduce(
            lambda a, b: a | b,
            [e.getField(struct_fields[i].name).isNull() for i in used],
            e.isNull()))
        checked = df.withColumn(curve_col, F.when(bad, F.raise_error(F.lit(
            "null curves, curve elements and t/m/sigma/band values are "
            "not allowed"))).otherwise(curve))
        out = map_curves(checked, curve_col, used, self._feature_fields(),
                         self._curve_fn(s_idx is not None), order=[0, 1])
        return self._apply_transforms(out)

    # ---- Bins meta-feature composition -------------------------------------

    def extract_binned(self, obs: DataFrame, window: float,
                       offset: float = 0.0, entity_col: str = "doc_id",
                       t_col: str = "t", m_col: str = "m",
                       sigma_col: str = "sigma") -> DataFrame:
        """The reference's ``Bins(features, window, offset)`` meta-feature
        (features/bins.py:14-40): inverse-variance rebin into tumbling
        windows, then this extractor over the binned series."""
        from .bins import bin_series
        if self.bands is not None:
            # bin_series drops the band column (windows pool all bands),
            # so banded extraction over binned series has no meaning —
            # fail here instead of a cryptic select(None) downstream
            raise ValueError(
                "extract_binned does not support banded extractors: "
                "bin_series pools observations across bands; build a "
                "band-free extractor for the binned pass")
        binned = bin_series(obs, entity_col, t_col, m_col, sigma_col,
                            window=window, offset=offset)
        return self.extract(binned, entity_col, t_col, m_col, sigma_col,
                            band_col=None)

    # ---- skew salting ------------------------------------------------------

    @staticmethod
    def _salt(obs: DataFrame, probes: DataFrame, entity_col: str,
              ts_col: str, k: int, hot_threshold: int):
        """Split hot entities' probes across k buckets; replicate their
        observations per bucket.  Cold entities keep salt=0 with no
        replication, so total obs duplication is bounded by
        k × (hot-entity rows).

        LIMITATION: buckets are keyed on ``xxhash64(ts)`` (deterministic,
        required for checkpoint resume).  A degenerate probe set with ONE
        distinct ts per hot entity (single-snapshot scoring) lands every
        probe in one bucket — the skew stays AND the k× obs replication
        is still paid; disable salting (or spread the snapshot into
        distinct ts values) for that workload shape."""
        counts = obs.groupBy(entity_col).agg(F.count("*").alias("_n_obs"))
        hot = counts.filter(F.col("_n_obs") > hot_threshold) \
                    .select(entity_col, F.lit(True).alias("_hot"))
        probes = (
            probes.join(F.broadcast(hot), entity_col, "left")
            .withColumn(
                "_salt",
                F.when(F.col("_hot").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.xxhash64(F.col(ts_col)), F.lit(k)).cast("int")))
            .drop("_hot"))
        obs = (
            obs.join(F.broadcast(hot), entity_col, "left")
            .withColumn(
                "_salt",
                F.explode(F.when(F.col("_hot").isNull(),
                                 F.array(F.lit(0)))
                          .otherwise(F.sequence(F.lit(0), F.lit(k - 1)))))
            .drop("_hot"))
        return obs, probes, [entity_col, "_salt"]

    # ---- transforms --------------------------------------------------------

    def _apply_transforms(self, df: DataFrame) -> DataFrame:
        # a transforms key may be a kernel registry key (covers all of that
        # kernel's output columns) or a literal output-column name
        targets = {}
        for key, tname in self.transforms.items():
            hit = [k for k in self.kernels if k.key == key]
            names = [n for k in hit for n in k.names] if hit else [key]
            for n in names:
                targets[n] = tname
        # ONE projection for all transformed columns — a withColumn per
        # target would stack O(bands x features) nested projections into
        # the Catalyst plan
        by_col = {}
        for name, tname in targets.items():
            for col in df.columns:
                if col == name or (self.bands and any(
                        col == f"{name}_{b}" for b in self.bands)):
                    by_col[col] = tname
        if not by_col:
            return df
        return df.select(*[
            apply_transform_column(by_col[c], F.col(f"`{c}`"))
            .alias(c) if c in by_col else F.col(f"`{c}`")
            for c in df.columns])
