"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row count, column set, and values (order-insensitive).

Uses sf0.001 for speed; the driver runs the same comparison at sf0.01.
"""

import hashlib
import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as E

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].map(
                lambda v: tuple(np.asarray(v, dtype=np.float64).round(6)))
    return df.sort_values(list(df.columns), na_position="first") \
        .reset_index(drop=True)


def _cell_str(v):
    if isinstance(v, (list, np.ndarray, tuple)):
        return "[" + ",".join(_cell_str(x) for x in v) + "]"
    return str(v)


def _digest(pdf: pd.DataFrame) -> str:
    """Driver-faithful value hash: sort columns by name, stringify every
    cell WITHOUT dtype coercion (so int64 32 != float64 32.0), sort the
    stringified rows, md5 the lot.  This is the check that catches
    oracle-twin dtype skews (e.g. DuckDB HUGEINT window sums rendering as
    float64) that a numeric np.isclose compare is blind to — exactly how
    the r4 pack_spans/pipeline_e2e rows shipped red at the driver while
    green locally."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "\x1f".join(_cell_str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def _compare(name, spark_pdf, duck_pdf):
    assert len(spark_pdf) == len(duck_pdf), \
        f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), \
        f"{name}: columns {sorted(spark_pdf.columns)} " \
        f"vs {sorted(duck_pdf.columns)}"
    a = _normalize(spark_pdf)
    b = _normalize(duck_pdf)
    exact_mismatch = 0
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(np.asarray(av).dtype, np.floating) or \
                np.issubdtype(np.asarray(bv).dtype, np.floating):
            av = np.asarray(av, dtype=np.float64)
            bv = np.asarray(bv, dtype=np.float64)
            both_nan = np.isnan(av) & np.isnan(bv)
            close = np.isclose(av, bv, rtol=0, atol=5e-7, equal_nan=True)
            assert close.all(), (
                f"{name}.{c}: {np.count_nonzero(~close)} mismatches, e.g. "
                f"{av[~close][:3]} vs {bv[~close][:3]}")
            exact = (av == bv) | both_nan
            exact_mismatch += int(np.count_nonzero(~exact))
        else:
            assert (pd.Series(av).fillna("§") ==
                    pd.Series(bv).fillna("§")).all(), f"{name}.{c}: mismatch"
    return exact_mismatch


QUERIES = sorted(E.queries())


@pytest.mark.parametrize("name", QUERIES)
def test_query_vs_oracle(spark, sf_dir, name):
    q = E.queries()[name]
    spark_pdf = q(spark, sf_dir).toPandas()
    sql = E.oracle_sql().get(name)
    if sql is None:
        assert len(spark_pdf) >= 0  # rows-only check
        return
    con = _duck(sf_dir)
    duck_pdf = con.execute(sql).fetchdf()
    con.close()
    exact_mismatch = _compare(name, spark_pdf, duck_pdf)
    # the driver hashes values: we need bit-equality after rounding, not just
    # closeness — surface drift as a hard failure so it gets fixed here
    assert exact_mismatch == 0, \
        f"{name}: {exact_mismatch} values differ in last-ulp after rounding"
    assert _digest(spark_pdf) == _digest(duck_pdf), \
        f"{name}: stringified-row digest mismatch (dtype skew between " \
        f"Spark result and oracle twin — values may be numerically equal " \
        f"but render differently, which fails the driver hash gate)"


def test_entry_smoke(spark):
    df = E.entry(spark)
    n = df.count()
    assert n > 0
    assert len(df.columns) >= 3


def test_oracle_keys_subset():
    assert set(E.oracle_sql()) <= set(E.queries())


# the driver's CORRECTNESS artifact records only the FIRST 50 queries()
# entries (in dict order); this pin keeps every operator family's
# representative row inside the gate — append new rows AFTER these 50
# (or consciously update this list when retiring one)
DRIVER_GATED_50 = [
    "tpch_q1", "feat_simple_stats", "feat_quantiles_hazen",
    "feat_dispersion", "feat_weighted", "feat_linear_fit",
    "feat_otsu_split", "feat_detection_counts", "pit_features_kernel",
    "pit_features_horizon", "feat_nested_input", "asof_join", "lag_lead",
    "backfill_ffill", "rolling_range_1h", "sessionize_30m", "bins_1day",
    "transformed_features", "dedup_exact", "minhash_signatures",
    "simhash16", "nearest_neighbor_jaccard", "cosine_topk", "lsh_topk",
    "doc_fingerprint", "text_quality", "feat_colors_multiband",
    "dmdt_map", "anderson_darling", "chi2_pvar", "seq_reduce_end",
    "seq_windows", "lsh_candidates", "count_dt", "periodogram_grid",
    "periodogram_peaks", "multiband_power", "rainbow_fit", "bazin_fit",
    "token_counts", "dedup_groups", "stratified_sample", "corpus_filter",
    "word_bigrams", "pack_spans", "contamination", "pii_scrub", "lang_id",
    "multimodal_features", "pipeline_e2e",
]


def test_driver_gate_order_pinned():
    assert list(E.queries())[:50] == DRIVER_GATED_50


def test_oracle_sql_order_matches_queries():
    # the driver pairs rows positionally; a sql-dict order skew would
    # hash-compare the wrong twins
    qn = [n for n in E.queries() if n in E.oracle_sql()]
    assert qn == list(E.oracle_sql())


def test_nn_jaccard_wide_id_fallback(spark, sf_dir, tmp_path):
    """dedup.pair_counts, under q_nearest_neighbor_jaccard, gates its
    packed-pair-key fast path on every doc id fitting 32 bits; ids
    at/above 2^31 must take the exact two-column aggregation, and int32
    ids the packed path with the ids widened before the shift — both
    must still match the (unchanged) DuckDB twin byte-for-byte."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    col = src.schema.get_field_index("doc_id")
    for name, ids in (
            ("wide", pc.add(src.column("doc_id"), (1 << 31))),
            ("int32", src.column("doc_id").cast(pa.int32()))):
        d = tmp_path / f"{name}docs"
        d.mkdir()
        pq.write_table(src.set_column(col, "doc_id", ids),
                       str(d / "documents.parquet"))

        spark_pdf = E.q_nearest_neighbor_jaccard(spark, str(d)).toPandas()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{d}/documents.parquet'")
        duck_pdf = con.execute(E.SQL_NN_JACCARD).fetchdf()
        con.close()
        if name == "wide":
            assert (spark_pdf["doc_id"] >= (1 << 31)).all()
        assert _compare(f"nn_jaccard_{name}_id", spark_pdf, duck_pdf) == 0
        assert _digest(spark_pdf) == _digest(duck_pdf)
