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
  sorted time axis, never a full-table filter that could drift).  One
  evaluator serves every probe set: an ``applyInArrow`` cogroup of
  observations and probes per entity; full-history single-band probes
  share one prefix pass (``PrefixBattery``), horizon and banded probes
  are evaluated window by window.

All kernels for a row are evaluated in ONE pass per curve — the reference's
Extractor fusion (features/extractor.py:36-41) — because Catalyst cannot fuse
across Python UDF boundaries (SURVEY.md §4).

Skew: hot entities (observation count above ``hot_threshold``) are handled by
salting: their probe rows are split across ``salt_partitions`` buckets and the
observation side is replicated per bucket, so one giant entity no longer pins
a single task.  Only the probe side is split — every probe still sees the full
observation history, so order-sensitive kernels stay exact (SURVEY.md §7
"hard parts" (4)).

The token payload (or any probe column) is carried through untouched: the
probe side's Arrow column buffers are passed inline to the output table, next
to the appended feature columns, so payloads never become Python objects and
``array<int32>`` tokens stay byte-identical (asserted in
tests/test_extract.py).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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

    def _eval(self, t, m, s, codes=None) -> np.ndarray:
        """One window's feature row; with band ``codes`` (banded
        extractors) the battery runs once per band, in ``self.bands``
        order."""
        if codes is None:
            return evaluate_many(self.kernels, t, m, s, self.fill_value)
        masks = [codes == bi for bi in range(len(self.bands))]
        return np.concatenate([
            self._eval(t[k], m[k], None if s is None else s[k])
            for k in masks])

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
        lexsort order — the tie order of :meth:`_pit_arrow` — to one
        feature row."""
        this = self

        def fn(t, m, *rest):
            s = rest[0] if has_sigma else None
            codes = (this._band_codes(rest[-1])
                     if this.bands is not None else None)
            return this._eval(t, m, s, codes)[:, None]
        return fn

    # ---- point-in-time extraction ----------------------------------------

    def extract_point_in_time(
            self, obs: DataFrame, probes: DataFrame,
            entity_col: str = "doc_id", t_col: str = "t", m_col: str = "m",
            sigma_col: Optional[str] = "sigma", band_col: str = "band",
            ts_col: str = "ts", horizon: Optional[float] = None,
            salt_partitions: Optional[int] = None,
            hot_threshold: Optional[int] = None) -> DataFrame:
        """Feature vector per probe row, window = {obs : t <= ts
        [and t >= ts - horizon, both bounds inclusive]}.

        One ``applyInArrow`` cogroup of observations and probes per entity
        (:meth:`_pit_arrow`).  All probe columns pass through untouched as
        raw Arrow buffers — the token payload is never materialized as
        Python objects.  Fill values surface as SQL NULL.
        """
        # prune sigma when no kernel needs it (an explicitly passed
        # column would otherwise ship through Arrow for nothing, and a
        # sigma-less dataset would fail the select)
        sigma_col = sigma_col if self.needs_sigma else None
        # a payload column named like a feature output would otherwise
        # surface as a duplicate-name error deep in the job
        self._check_name_collisions(probes.columns, "probe columns")
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

        # again after salting, which adds the _salt probe column
        self._check_name_collisions(probes.columns, "probe columns")
        schema = T.StructType(probes.schema.fields + self._feature_fields())
        out = self._pit_arrow(obs_p, probes, group_keys, schema, horizon,
                              t_col, m_col, sigma_col, band_col, ts_col)
        if "_salt" in out.columns:
            out = out.drop("_salt")
        return self._apply_transforms(out)

    def _pit_arrow(self, obs_p: DataFrame, probes: DataFrame, group_keys,
                   schema, horizon, t_col, m_col, sigma_col, band_col,
                   ts_col) -> DataFrame:
        """The PIT evaluator: Arrow column buffers go straight to numpy,
        no pandas materialization.  Full-history single-band probe sets
        run :meth:`PrefixBattery.evaluate_prefixes` over all probes of a
        group at once; any other probe set (range horizon, bands) slices
        each probe's window ``[ts - horizon, ts]`` with two
        ``np.searchsorted`` bounds and evaluates it on its own."""
        import pyarrow as pa

        this = self
        feature_fields = [pa.field(n, pa.float64()) for n in self.names]
        battery = (PrefixBattery(self.kernels, self.fill_value)
                   if horizon is None and self.bands is None else None)
        probe_names = [f.name for f in probes.schema.fields]

        def column(table, name):
            return table.column(name).to_numpy().astype(np.float64,
                                                       copy=False)

        def fn(obs_t: "pa.Table", probes_t: "pa.Table") -> "pa.Table":
            out_schema = pa.schema(list(probes_t.schema) + feature_fields)
            if probes_t.num_rows == 0:
                return out_schema.empty_table()
            t = column(obs_t, t_col)
            m = column(obs_t, m_col)
            # lexsort (t, then m): identical to the plain t-sort whenever
            # t is unique (the validated-ingest guarantee), and a
            # DETERMINISTIC tie order otherwise — a stable sort alone
            # keeps arbitrary shuffle arrival order among equal-t rows,
            # so consecutive-difference kernels would differ between
            # runs/retries
            order = np.lexsort((m, t))
            t = t[order]
            m = m[order]
            s = column(obs_t, sigma_col)[order] if sigma_col else None
            ts = column(probes_t, ts_col)
            # a NULL/NaN cutoff must see NOTHING (fill row) — searchsorted
            # treats NaN as +inf, which would leak the full history
            nan = np.isnan(ts)
            ends = np.searchsorted(t, ts, side="right")
            ends[nan] = 0
            if battery is not None:
                feats = battery.evaluate_prefixes(t, m, s, ends)
            else:
                # inclusive lower bound: t >= ts - horizon, matching
                # Window.rangeBetween(-horizon, 0)
                starts = (np.searchsorted(t, ts - horizon, side="left")
                          if horizon is not None
                          else np.zeros_like(ends))
                starts[nan] = 0
                codes = (this._band_codes(
                    obs_t.column(band_col).to_numpy()[order])
                    if this.bands is not None else None)
                feats = np.empty((len(ts), len(feature_fields)))
                for j, (lo, hi) in enumerate(zip(starts, ends)):
                    sl = slice(lo, hi)
                    feats[j] = this._eval(
                        t[sl], m[sl], None if s is None else s[sl],
                        None if codes is None else codes[sl])
            cols = [probes_t.column(n).combine_chunks()
                    for n in probe_names] + \
                   [pa.array(feats[:, i], from_pandas=True)
                    for i in range(len(feature_fields))]
            return pa.Table.from_arrays(cols, schema=out_schema)

        grouped = obs_p.groupby(*group_keys).cogroup(
            probes.groupby(*group_keys))
        return grouped.applyInArrow(fn, schema)

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
