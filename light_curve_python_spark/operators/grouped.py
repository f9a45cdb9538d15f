"""Whole-entity evaluation: aggregate each entity, then map its arrays.

Every per-entity operator (``FeatureExtractor.extract``, the spectral
operators, the entry queries that evaluate one curve at a time) runs on
one primitive, :func:`grouped_map`:

1. **aggregate** — one ``collect_list(struct(values...))`` hash
   aggregation per entity (``ObjectHashAggregate`` with map-side combine,
   then one exchange; no ``Sort``);
2. **map** — one ``mapInArrow`` (:func:`map_curves`) that slices each
   entity's value arrays straight off the Arrow ``ListArray`` buffers and
   hands them to a callback as numpy arrays, optionally in ``lexsort``
   order of chosen columns.  Python never groups scalar rows.

The callback returns ``None`` (no output row) or one sequence per output
field, all of the same length ``k`` — so an entity yields 0..k rows.  The
entity key (every non-curve column, for :func:`map_curves`) is repeated
on each of its rows.  Output arrays are built once per Arrow batch with
``from_pandas=True``: a NaN double surfaces as SQL NULL, as the pandas
serializer did for every consumer before.

Null and NaN keys: ``groupBy`` forms one group for the null key and one
for NaN (Spark normalizes NaN in grouping keys), like pandas'
``groupby(dropna=False)``.

Per-entity size limit: one entity is ONE aggregation-buffer row and ONE
``list<struct>`` value.  It is bounded by Spark's array length limit
(``ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH``, about 2^31 elements) and
by the memory of the executor that holds it and of its Python worker;
``spark.sql.execution.arrow.maxBytesPerBatch`` cannot split it, because an
Arrow batch never splits a row.  A million-point entity is tested
(tests/test_grouped.py); an entity near the array limit needs a pre-split
by the caller.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["grouped_map", "map_curves"]

Callback = Callable[..., Optional[Sequence]]


def grouped_map(df: DataFrame, entity_col: str, value_cols: Sequence[str],
                out_fields: Sequence[T.StructField], fn: Callback,
                order_cols: Sequence[str] = ()) -> DataFrame:
    """``fn(*arrays)`` once per entity of ``df``, one numpy array per
    ``value_cols`` entry (floating columns as float64), rows in
    ``np.lexsort`` order of ``order_cols`` (first name = primary key;
    arrival order when empty).  Output: ``entity_col`` then
    ``out_fields``, one row per element of ``fn``'s columns."""
    curve_col = "_curve" if entity_col != "_curve" else "_curve_"
    g = (df.groupBy(entity_col)
         .agg(F.collect_list(F.struct(*[
             F.col(c).alias(f"_{i}") for i, c in enumerate(value_cols)]))
             .alias(curve_col)))
    return map_curves(g, curve_col, range(len(value_cols)), out_fields, fn,
                      [list(value_cols).index(c) for c in order_cols])


def _column(pieces, typ):
    """One Arrow output column from per-entity pieces.  Module-level on
    purpose: ``map_curves``' closure pickles it by reference, so every
    worker that runs the map imports this package (and its root's
    ``_zipguard``), whatever module the callback comes from."""
    import pyarrow as pa

    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return pa.array([x for p in pieces for x in p], type=typ,
                        from_pandas=True)
    return pa.array(np.concatenate(pieces), type=typ, from_pandas=True)


def map_curves(df: DataFrame, curve_col: str, fields: Sequence[int],
               out_fields: Sequence[T.StructField], fn: Callback,
               order: Sequence[int] = ()) -> DataFrame:
    """The map half of :func:`grouped_map` over a row-per-entity frame
    whose ``curve_col`` is ``array<struct<...>>``: ``fn`` gets the struct
    children at positions ``fields`` of each row's curve, rows in
    ``np.lexsort`` order of its arguments at positions ``order`` (first =
    primary key).  Every other column passes through."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = list(fields)
    order = list(order)
    pass_cols = [c for c in df.columns if c != curve_col]
    schema = T.StructType([df.schema[c] for c in pass_cols]
                          + list(out_fields))
    out_types = [to_arrow_type(f.dataType) for f in out_fields]

    def run(batches):
        for batch in batches:
            col = batch.column(batch.schema.names.index(curve_col))
            values = col.values              # struct child (unsliced)
            offs = col.offsets.to_numpy()    # slice-aware, len + 1
            arrays = {}
            for j in set(fields):
                ch = values.field(j)
                a = ch.to_numpy(zero_copy_only=False)
                if pa.types.is_floating(ch.type):
                    a = a.astype(np.float64, copy=False)
                arrays[j] = a
            rows, counts, parts = [], [], []
            for i in range(len(col)):
                sl = slice(offs[i], offs[i + 1])
                args = [arrays[j][sl] for j in fields]
                if order:
                    perm = np.lexsort([args[j] for j in reversed(order)])
                    args = [a[perm] for a in args]
                out = fn(*args)
                if out is None:
                    continue
                k = len(out[0])
                if k:
                    rows.append(i)
                    counts.append(k)
                    parts.append(out)
            if not parts:
                continue
            if all(isinstance(p, np.ndarray) for p in parts):
                # one 2-D (n_fields x k) block per entity: stack once
                block = np.concatenate(parts, axis=1)
                cols = [pa.array(block[j], type=typ, from_pandas=True)
                        for j, typ in enumerate(out_types)]
            else:
                cols = [_column([p[j] for p in parts], typ)
                        for j, typ in enumerate(out_types)]
            take = pa.array(np.repeat(rows, counts))
            keep = [batch.column(batch.schema.names.index(c)).take(take)
                    for c in pass_cols]
            yield pa.RecordBatch.from_arrays(keep + cols,
                                             names=schema.names)

    return df.select(*pass_cols, curve_col).mapInArrow(run, schema)
