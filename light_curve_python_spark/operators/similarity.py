"""Similarity search over embedding columns (array<float>).

Every search scores its candidate pairs the same way: each side's L2 norm
is computed once per row before the fan-out (``l2_norm``), each pair gets
one JVM dot divided by the two norms (``cosine_score``), and one re-rank
keeps each probe's top k by (cosine DESC, neighbor_id ASC).  On 4 cores
at sf0.1 (100 probes, k=10, min of 5, two alternating rounds) the exact
search takes 0.91-1.01 s with this scorer against 1.15-1.17 s with the
pandas-UDF cosine it replaced (einsum per Arrow batch); the LSH headline
of ``bench_extra.py`` is flat (see CHANGES.md).  The UDF's old "~2x"
lead was over a JVM scorer that recomputed both norms for every pair.

- cosine_topk: brute-force exact baseline.  The probe side is broadcast, the
  corpus side streams — at 100 TB the corpus never shuffles; cost is one scan
  per probe batch.
- lsh_topk: random-hyperplane LSH scale path — hyperplanes are derived
  deterministically from a seed (driver-side numpy, broadcast in the plan as
  literals), signatures computed with a vectorized pandas UDF (one matmul per
  Arrow batch), candidates restricted to matching buckets, then exact cosine
  re-rank.  Recall is tunable via n_planes/n_tables.
- ivf_topk: KMeans coarse quantizer; probes search their nearest cells.
- tune_ann: picks the cheapest (lsh or ivf) operating point meeting a
  target recall, measured on a probe sample against the exact baseline;
  falls back to recommending the exact path when no approximate point
  under the cost cap reaches the target.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..plans.balance import rebalance_scan

__all__ = ["cosine_topk", "lsh_topk", "ivf_topk", "l2_norm", "cosine_score",
           "ivf_train_centers", "ann_recall", "tune_ann"]


def _array_sum(arr):
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(vec: str):
    """``sqrt(Σ x²)`` of an ``array<double>`` column — computed once per
    row, before any pair fan-out, and passed to :func:`cosine_score`."""
    return F.sqrt(_array_sum(F.transform(vec, lambda x: x * x)))


def cosine_score(a: str, b: str, norm_a: str, norm_b: str):
    """The one cosine of the package: a JVM dot (left-to-right sum of
    ``zip_with`` products) over the two hoisted :func:`l2_norm` columns.
    Null and ragged vectors give NULL through ``zip_with``; a zero norm
    gives NULL through ``try_divide`` (a bare ``/`` raises under ANSI)."""
    dot = _array_sum(F.zip_with(a, b, lambda x, y: x * y))
    return F.try_divide(dot, F.col(norm_a) * F.col(norm_b))


def _sides(corpus: DataFrame, probes: DataFrame, vec_col: str, id_col: str,
           dim: Optional[int] = None):
    """Corpus rows as ``(neighbor_id, _cv, _cn)`` and probe rows as
    ``(probe_id, _pv, _pn)``: vector cast to ``array<double>`` plus its
    norm.  With ``dim``, rows whose vector is not ``dim`` long (null or
    ragged) are dropped JVM-side — the approximate paths cannot project
    them.  A few-split corpus scan is rebalanced so the per-corpus-row
    work does not serialize on one task (no-op at scale)."""
    def side(df, id_out, vec_out, norm_out):
        if dim is not None:
            df = df.filter(F.size(vec_col) == dim)
        return (df.select(F.col(id_col).alias(id_out),
                          F.col(vec_col).cast("array<double>").alias(vec_out))
                .withColumn(norm_out, l2_norm(vec_out)))
    return (side(rebalance_scan(corpus), "neighbor_id", "_cv", "_cn"),
            side(probes, "probe_id", "_pv", "_pn"))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Score candidate pairs and keep each probe's k best by
    ``(cosine DESC, neighbor_id ASC)``; NULL cosines rank last."""
    scored = pairs.withColumn("cosine",
                              cosine_score("_cv", "_pv", "_cn", "_pn"))
    pick = Window.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(pick))
            .filter(F.col("rank") <= k)
            .select("probe_id", "rank", "neighbor_id", "cosine"))


def cosine_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k cosine neighbors for each probe row.  Returns
    (probe_id, rank, neighbor_id, cosine).  A null, ragged or all-zero
    vector is kept with a NULL cosine, ranked last."""
    c, p = _sides(corpus, probes, vec_col, id_col)
    return _top_k(c.crossJoin(F.broadcast(p))
                  .filter(F.col("neighbor_id") != F.col("probe_id")), k)


def ivf_train_centers(corpus: DataFrame, vec_col: str = "embedding",
                      n_cells: int = 16, seed: int = 42,
                      sample_fraction: float = 1.0) -> np.ndarray:
    """Train the IVF coarse quantizer once (KMeans on a corpus sample) and
    return its (n_cells, dim) centroid matrix — reusable across
    ``ivf_topk`` calls with different ``n_probe_cells`` (the tuning
    ladder never retrains)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # train on the corpus's modal vector width: a null or ragged row
    # would fail the whole KMeans fit
    dim = corpus.agg(F.mode(F.size(vec_col))).first()[0]
    train = corpus.filter(F.size(vec_col) == dim).select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_fv"))
    if sample_fraction < 1.0:
        train = train.sample(sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, featuresCol="_fv").fit(train)
    return np.vstack([np.asarray(c) for c in model.clusterCenters()])


def ivf_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_cells: int = 16, n_probe_cells: int = 3,
             seed: int = 42, sample_fraction: float = 1.0,
             centers: Optional[np.ndarray] = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k: KMeans coarse quantizer
    (pyspark.ml, trained on a corpus sample), corpus rows assigned to their
    nearest cell, probe rows search only their ``n_probe_cells`` nearest
    cells, exact cosine re-rank inside.

    Scale shape: the quantizer is tiny (n_cells centroids broadcast in the
    assignment join); the search join hits ~n_probe_cells/n_cells of the
    corpus instead of all of it.  Pass ``centers`` (from
    ``ivf_train_centers``) to skip training.  Rows whose vector is null or
    not ``centers``-wide cannot be assigned a cell and get no result row.
    """
    if centers is None:
        centers = ivf_train_centers(corpus, vec_col, n_cells, seed,
                                    sample_fraction)
    centers = np.asarray(centers, dtype=np.float64)

    def _cells(df, vec_alias, n_keep):
        """attach the n_keep nearest cell ids per row (tiny centroid matrix
        lives in the plan as a literal via pandas UDF)."""
        @pandas_udf(T.ArrayType(T.IntegerType()))
        def nearest_cells(vecs: pd.Series) -> pd.Series:
            mat = np.vstack(vecs.to_numpy())
            d = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            order = np.argsort(d, axis=1)[:, :n_keep].astype(np.int32)
            return pd.Series(list(order))

        # flagged nondeterministic so the optimizer cannot copy the UDF
        # into the join's inferred not-null filter below this projection,
        # which evaluated every row's cells twice
        return df.withColumn("_cells",
                             nearest_cells.asNondeterministic()(vec_alias))

    c, p = _sides(corpus, probes, vec_col, id_col, dim=centers.shape[1])
    c = _cells(c, "_cv", 1).withColumn("_cell", F.col("_cells")[0]) \
        .drop("_cells")
    p = _cells(p, "_pv", n_probe_cells) \
        .withColumn("_cell", F.explode("_cells")).drop("_cells")
    return _top_k(c.join(F.broadcast(p), "_cell")
                  .filter(F.col("neighbor_id") != F.col("probe_id"))
                  .dropDuplicates(["probe_id", "neighbor_id"]), k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, n_planes))


def _buckets_udf(dim: int, n_planes: int, seed: int, n_tables: int):
    """All tables' bucket ids in ONE vectorized pass: the per-table plane
    matrices (same seeds as before: seed + 1000*t) are stacked into one
    (dim, n_tables*n_planes) matrix — one matmul per Arrow batch total,
    instead of one UDF invocation per table per batch."""
    planes = np.concatenate(
        [_hyperplanes(dim, n_planes, seed + 1000 * t)
         for t in range(n_tables)], axis=1)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy())
        signs = (mat @ planes) > 0
        bks = signs.reshape(len(mat), n_tables,
                            n_planes).astype(np.int64) @ weights
        return pd.Series(list(bks))

    return buckets


def lsh_topk(corpus: DataFrame, probes: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             dim: int = 64, n_planes: int = 8, seed: int = 42,
             n_tables: int = 2) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets (n_tables independent
    tables), exact cosine re-rank within the candidate union.

    Plan shape: one bucket-UDF pass over each side (all tables at once),
    candidates generated as SCALAR (probe_id, neighbor_id) pairs — the
    dedup across tables shuffles ids only, never embedding arrays — and
    vectors re-attached per-side for the exact re-rank (corpus-side hash
    join on its own id, probe side broadcast).  Rows whose vector is null
    or not ``dim`` long cannot be projected and get no result row."""
    udf = _buckets_udf(dim, n_planes, seed, n_tables)
    c, p = _sides(corpus, probes, vec_col, id_col, dim=dim)
    cb = c.select("neighbor_id",
                  F.posexplode(udf("_cv")).alias("_tbl", "_bk"))
    pb = p.select("probe_id",
                  F.posexplode(udf("_pv")).alias("_tbl", "_bk"))
    cand = (cb.join(F.broadcast(pb), ["_tbl", "_bk"])
            .filter(F.col("neighbor_id") != F.col("probe_id"))
            .select("probe_id", "neighbor_id")
            .dropDuplicates(["probe_id", "neighbor_id"]))
    return _top_k(cand.join(c, "neighbor_id").join(F.broadcast(p),
                                                   "probe_id"), k)


def ann_recall(approx: DataFrame, exact: DataFrame, k: int) -> float:
    """recall@k of an approximate top-k result against the exact baseline:
    mean over probes of |approx ∩ exact| / min(k, |exact|) — the
    denominator is the per-probe EXACT result size, so a probe whose
    corpus has fewer than k neighbors can still score 1.0 when the
    approximate path returns all of them.  Probes the approximate path
    returned nothing for count as recall 0 (left join from the exact
    probe set).  Distributed compute, collects ONE scalar."""
    hits = (approx.select("probe_id", "neighbor_id")
            .join(exact.select("probe_id", "neighbor_id"),
                  ["probe_id", "neighbor_id"])
            .groupBy("probe_id").agg(F.count("*").alias("_h")))
    denom = (exact.groupBy("probe_id")
             .agg(F.least(F.count("*"), F.lit(k)).alias("_d")))
    per_probe = (denom.join(hits, "probe_id", "left")
                 .select((F.coalesce(F.col("_h"), F.lit(0)) / F.col("_d"))
                         .alias("_r")))
    return float(per_probe.agg(F.avg("_r")).collect()[0][0])


# (n_planes, n_tables) pairs; cost = n_tables / 2^n_planes of one exact
# corpus scan (derived in tune_ann), assuming balanced buckets — ordered
# cheap→dear
_LSH_LADDER = [(8, 2), (8, 4), (6, 4), (6, 8), (4, 8), (4, 16),
               (3, 16), (2, 8), (2, 16)]


def tune_ann(corpus: DataFrame, probes: DataFrame, k: int = 10,
             target_recall: float = 0.9, n_sample_probes: int = 50,
             dim: int = 64, seed: int = 42, max_cost: float = 1.0,
             lsh_ladder=None, ivf_cells: int = 16,
             vec_col: str = "embedding", id_col: str = "vec_id") -> dict:
    """Pick an ANN operating point that meets ``target_recall``, measured
    on a deterministic probe sample against the exact baseline — the
    quality knob for the 100-TB path, where the full exact baseline is
    unaffordable but a 50-probe sample of it is one broadcast scan.

    Walks the LSH ladder (cheap→dear by estimated cost = n_tables /
    2^n_planes scans) and the IVF probe-cell ladder (cost = n_probe_cells /
    n_cells, quantizer trained ONCE via ``ivf_train_centers``), measuring
    recall@k on the sample each step; returns the first (cheapest) point
    meeting the target.  If no approximate point with estimated cost ≤
    ``max_cost`` reaches the target, HONESTLY recommends the exact path
    (method='exact', cost 1.0, recall 1.0) — on weakly-clustered corpora
    (top-k cosine ~0.3, θ≈70°) hyperplane LSH needs ≥1 full-scan-equivalent
    to hit 0.9 and pretending otherwise would ship silent quality loss.

    Returns {method, params, recall_sample, est_cost_multiple,
    n_sample_probes, k, ladder} where ladder is every point measured
    (operating curve for the caller's record)."""
    sample = (probes.orderBy(F.md5(F.concat_ws(
        ":", F.lit(str(seed)), F.col(id_col).cast("string"))))
        .limit(n_sample_probes).cache())
    exact = cosine_topk(corpus, sample, k, vec_col, id_col).cache()
    exact.count()

    measured = []

    def consider(method, params, est_cost, approx_df):
        r = ann_recall(approx_df, exact, k)
        measured.append({"method": method, "params": params,
                         "recall_sample": round(r, 3),
                         "est_cost_multiple": round(est_cost, 3)})
        return r

    candidates = []
    ladder = _LSH_LADDER if lsh_ladder is None else lsh_ladder
    for n_planes, n_tables in ladder:
        cost = n_tables / 2.0 ** n_planes
        if cost <= max_cost:
            candidates.append((cost, "lsh",
                               dict(n_planes=n_planes, n_tables=n_tables)))
    centers = None
    for n_probe_cells in sorted({c for c in (1, 2, 4, 8, ivf_cells)
                                 if c <= ivf_cells}):
        cost = n_probe_cells / float(ivf_cells)
        if cost <= max_cost:
            candidates.append((cost, "ivf",
                               dict(n_cells=ivf_cells,
                                    n_probe_cells=n_probe_cells)))
    try:
        for cost, method, params in sorted(candidates, key=lambda c: c[0]):
            if method == "lsh":
                approx = lsh_topk(corpus, sample, k, vec_col, id_col,
                                  dim=dim, seed=seed, **params)
            else:
                if centers is None:
                    centers = ivf_train_centers(corpus, vec_col, ivf_cells,
                                                seed)
                approx = ivf_topk(corpus, sample, k, vec_col, id_col,
                                  seed=seed, centers=centers,
                                  n_probe_cells=params["n_probe_cells"])
            r = consider(method, params, cost, approx)
            if r >= target_recall:
                return {"method": method, "params": params,
                        "recall_sample": round(r, 3),
                        "est_cost_multiple": round(cost, 3),
                        "n_sample_probes": n_sample_probes, "k": k,
                        "ladder": measured}
        return {"method": "exact", "params": {},
                "recall_sample": 1.0, "est_cost_multiple": 1.0,
                "n_sample_probes": n_sample_probes, "k": k,
                "ladder": measured}
    finally:
        sample.unpersist()
        exact.unpersist()
