"""Deduplication operators for large-scale training-data pipelines.

Production path uses Spark's built-in ``xxhash64`` (JVM-side, shuffle-free
signatures); the oracle-checkable dictionary-id variants live in
``__spark_entry__`` (integer-exact across engines).  Scale notes per op:

- exact_dedup: one hash-groupBy shuffle on the digest.
- minhash_lsh: shingle explode -> per-doc signature agg (map-side combine) ->
  band-bucket self-join.  Candidate pairs are verified with exact Jaccard so
  LSH is a pure candidate generator (no false positives escape).
- simhash64: one pass, 64 conditional sums per doc.
- ngram_jaccard_pairs: inverted-index candidates (pairs must share a
  shingle) — the standard superset-of-true-pairs generation; a 100 TB
  corpus additionally prunes by document frequency (drop shingles seen in
  > df_max docs) which is exposed as ``max_shingle_df``.

The inverted-index pair engine is ``posting_lists`` + ``pair_counts``:
one eager checkpoint of the posting lists whose stats (id bounds, pair-row
total, longest kept list) choose the pair generator, the pair key (packed
long or two columns) and the pair exchange's partition count.  Both
``ngram_jaccard_pairs`` and ``nearest_neighbor_jaccard`` (exact top-1 per
doc) run on it and score pairs with one sizes-and-Jaccard step.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..plans.balance import rebalance_scan, spread
from .text import word_ngrams

__all__ = ["content_digest",
           "exact_dedup", "shingle", "minhash_signatures", "lsh_candidates",
           "simhash64", "posting_lists", "pair_counts", "ngram_jaccard_pairs",
           "nearest_neighbor_jaccard", "connected_components",
           "dedup_groups", "minhash_dedup", "ngram_contamination"]


def content_digest(cols: Sequence[str]):
    """THE row-content digest for exact dedup — one definition shared by
    the batch operator and the streaming twin so backfill and live
    streams agree on identity.  md5(to_json(struct(...))): column
    boundaries AND nulls are encoded explicitly (xxhash64 treats a NULL
    column as a no-op on its seed, so ("ab", NULL) and (NULL, "ab")
    would collide), and 128 bits keeps the any-pair birthday collision
    probability negligible at 10^12 rows (64 bits would not)."""
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))


def exact_dedup(df: DataFrame, cols: Sequence[str],
                keep_col: str = "doc_id") -> DataFrame:
    """Keep one representative row (min keep_col, nulls last) per exact
    duplicate group over ``cols``; adds ``dup_count``.

    row_number, not a min()-equality join: window min() skips NULLs, so
    an all-null-id duplicate group had NO row matching the min and the
    whole group silently vanished from the output (and a null-id row in
    a mixed group could never be kept).  One row per group survives even
    when ids are null; ties on keep_col pick one row arbitrarily-but-
    deterministically per partition layout only when rows are otherwise
    identical duplicates."""
    digest = content_digest(cols)
    w = Window.partitionBy("_digest")
    rn = F.row_number().over(
        Window.partitionBy("_digest")
        .orderBy(F.col(keep_col).asc_nulls_last()))
    return (df.withColumn("_digest", digest)
            .withColumn("dup_count", F.count("*").over(w))
            .withColumn("_rn", rn)
            .filter(F.col("_rn") == 1)
            .drop("_digest", "_rn"))


def _shingle_stream(df: DataFrame, text_col: str, k: int, id_col: str,
                    distinct: bool) -> DataFrame:
    """(id, sh) word k-gram stream — THE one tokenize/window pipeline
    behind shingle() and minhash_signatures (the only intended
    difference is the in-row dedup): single-space tokens, then
    :func:`~.text.word_ngrams`.  ``rebalance_scan`` spreads the explode
    across the cluster when the corpus scan has fewer splits than cores
    (no-op at production scale)."""
    base = rebalance_scan(df.select(id_col, text_col))
    ws = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    sh_arr = word_ngrams(F.col("_ws"), k)
    if distinct:
        sh_arr = F.array_distinct(sh_arr)
    return (base.select(id_col, ws.alias("_ws"))
            .select(id_col, F.explode(sh_arr).alias("sh")))


def shingle(df: DataFrame, text_col: str = "text", k: int = 3,
            id_col: str = "doc_id") -> DataFrame:
    """(id, sh) distinct word k-gram shingles.

    Distinctness is per-doc, so it is computed IN-ROW (``array_distinct``
    on each row's shingle array) instead of with a cross-row
    ``.distinct()`` — same rows, one exchange fewer (the former distinct
    shuffled every (id, shingle-string) pair).  Assumes ``id_col``
    identifies its row, the corpus contract every operator here shares
    (duplicate-id input no longer has its shingle sets unioned across
    rows — pre-aggregate such input first; jaccard/simhash/contamination
    consumers would otherwise silently over-count shared shingles)."""
    return _shingle_stream(df, text_col, k, id_col, distinct=True)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 16,
                       k: int = 3) -> DataFrame:
    """Per-doc minhash signature columns mh0..mh{n-1} from xxhash64'd word
    k-gram shingles (seeded hash per row => n independent permutations).

    Generates the shingle stream WITHOUT ``shingle()``'s array_distinct:
    min over the shingle multiset equals min over the distinct set, so
    the dedup pass is pure cost here — signatures are identical."""
    sh = _shingle_stream(df, text_col, k, id_col, distinct=False)
    aggs = [F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"mh{i}")
            for i in range(n_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidates(signatures: DataFrame, id_col: str = "doc_id",
                   n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on ALL rows of >= 1 band.
    Returns (id_a, id_b) with id_a < id_b, distinct."""
    if bands <= 0 or n_hashes % bands != 0:
        # a remainder would silently leave the last n_hashes % bands
        # signature columns out of every band, lowering recall below
        # what the caller configured (bands <= 0 checked FIRST — the
        # modulo itself would raise a bare ZeroDivisionError)
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands})")
    rows = n_hashes // bands
    # ONE pass over the signatures: band keys stacked into an array and
    # exploded, then a single self-join on (band, key).  The former
    # per-band join loop re-read the signatures lineage 2*bands times
    # (column pruning gave each branch a distinct plan, defeating
    # exchange reuse — the expensive shingle explode upstream ran up to
    # 8x for the defaults).
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("b"), F.xxhash64(
            *[F.col(f"mh{b * rows + r}") for r in range(rows)],
            F.lit(b)).alias("h"))
        for b in range(bands)])
    bd = (signatures.select(id_col, F.explode(band_arr).alias("_z"))
          .select(id_col, F.col("_z.b").alias("_b"),
                  F.col("_z.h").alias("_h")))
    a = bd.select(F.col(id_col).alias("id_a"), "_b", "_h")
    c = bd.select(F.col(id_col).alias("id_b"), "_b", "_h")
    return (a.join(c, ["_b", "_h"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", k: int = 1) -> DataFrame:
    """64-bit SimHash over word k-gram shingles (xxhash64 bit votes)."""
    sh = shingle(df, text_col, k, id_col)
    h = F.xxhash64(F.col("sh"))
    acc = None
    for bit in range(64):
        vote = F.sum(F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1,
                            F.lit(1)).otherwise(F.lit(-1)))
        term = F.when(vote > 0,
                      F.lit(1).cast("long") * F.lit(2 ** bit if bit < 63
                                                    else -(2 ** 63))) \
            .otherwise(F.lit(0).cast("long"))
        acc = term if acc is None else acc + term
    return sh.groupBy(id_col).agg(acc.alias("simhash"))


def ngram_contamination(train: DataFrame, eval_df: DataFrame,
                        k: int = 13, text_col: str = "text",
                        id_col: str = "doc_id",
                        max_shingle_df: Optional[int] = 256,
                        min_shared: int = 1) -> DataFrame:
    """Eval-set decontamination: word ``k``-gram overlap between a train
    corpus and an eval set (the standard 13-gram contamination check).
    Returns ``(eval_id, train_id, n_shared, frac_of_eval)`` — distinct
    shared shingles per pair and the fraction of the eval doc's shingles
    found in that train doc; filter ``frac_of_eval`` at your
    contamination threshold.

    Scale shape: inverted-index equi-join on the shingle (eval side is
    small — benchmarks, not the corpus), broadcast when it fits;
    ``max_shingle_df`` prunes train-side stop-shingles so one boilerplate
    k-gram cannot fan out quadratically.  The eval doc's total shingle
    count (the ``frac_of_eval`` denominator) is computed on the UNPRUNED
    set, so pruning only loses candidates, never inflates scores."""
    tr = shingle(train, text_col, k, id_col) \
        .select(F.col(id_col).alias("train_id"), "sh")
    ev = shingle(eval_df, text_col, k, id_col) \
        .select(F.col(id_col).alias("eval_id"), "sh")
    if max_shingle_df is not None:
        tr = (tr.withColumn("_df",
                            F.count("*").over(Window.partitionBy("sh")))
              .filter(F.col("_df") <= max_shingle_df).drop("_df"))
    totals = ev.groupBy("eval_id").agg(F.count("*").alias("_n_ev"))
    return (ev.join(tr, "sh")
            .groupBy("eval_id", "train_id")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .join(totals, "eval_id")
            .withColumn("frac_of_eval",
                        F.col("n_shared") / F.col("_n_ev"))
            .drop("_n_ev"))


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3, n_hashes: int = 16,
                  n_bands: int = 4,
                  threshold: float = 0.8) -> DataFrame:
    """End-to-end MinHash near-duplicate dedup — the full pipeline a
    training-data run needs, composed from the verified pieces:

    1. xxhash64 MinHash signatures + banded LSH candidates
       (``minhash_signatures`` / ``lsh_candidates``): candidate pairs
       must collide in >=1 of ``n_bands`` bands;
    2. exact Jaccard verification on the FULL shingle sets (LSH stays a
       pure candidate generator — no false positive survives; unlike the
       inverted-index candidate path, LSH bounds the pair fan-out by
       construction, so no df pruning is needed — or sound — here:
       pruning the verify sets would INFLATE scores for docs sharing hot
       boilerplate and merge non-duplicates);
    3. connected components over verified pairs, min-id canonical per
       group (``connected_components``).

    Returns ``(id, component, is_canonical)`` covering EVERY input doc
    (singletons are their own canonical).

    Scale shape: signatures are one explode + map-side-combined min agg;
    LSH candidates a band-bucket equi-join; verification touches only
    candidate pairs; grouping is O(log n) bounded hash-join rounds.  No
    all-pairs stage anywhere."""
    # one explode + one per-doc shuffle TOTAL: collect the shingle set
    # once, then derive the minhash columns from the set column JVM-side
    # (min over per-seed hashes of a doc's distinct shingles == the
    # explode-side min agg) — lazily recomputing the shingle explode for
    # the signature AND the verify would double the most expensive stage
    sh = shingle(df, text_col, k, id_col)
    # persist: `sets` is referenced three times below (signature
    # derivation + both verify joins) — relying on Spark exchange reuse
    # alone lets column pruning or a plan split recompute the explode
    sets = sh.groupBy(id_col).agg(F.collect_set("sh").alias("_set")) \
        .persist()
    try:
        return _minhash_dedup_body(sets, df, id_col, n_hashes, n_bands,
                                   threshold)
    finally:
        # unpersist even when a guard below raises (e.g. lsh_candidates'
        # divisibility ValueError) — the cached shingle sets otherwise
        # stay pinned for the application's lifetime
        sets.unpersist()


def _minhash_dedup_body(sets, df, id_col, n_hashes, n_bands, threshold):
    def _mh(i):
        # closure factory: a default-arg lambda would be misparsed as the
        # two-parameter (element, index) HOF form
        return F.array_min(F.transform(
            "_set", lambda s: F.xxhash64(s, F.lit(i)))).alias(f"mh{i}")

    sig = sets.select(id_col, *[_mh(i) for i in range(n_hashes)])
    cand = lsh_candidates(sig, id_col, n_hashes=n_hashes, bands=n_bands)
    inter = F.size(F.array_intersect("_sa", "_sb"))
    verified = (cand
                .join(sets.select(F.col(id_col).alias("id_a"),
                                  F.col("_set").alias("_sa")), "id_a")
                .join(sets.select(F.col(id_col).alias("id_b"),
                                  F.col("_set").alias("_sb")), "id_b")
                .withColumn("_inter", inter)
                .withColumn("_j", F.col("_inter")
                            / (F.size("_sa") + F.size("_sb")
                               - F.col("_inter")))
                .filter(F.col("_j") >= threshold)
                .select("id_a", "id_b")
                # verified pairs are tiny (candidates only) — materialize
                # them eagerly so `sets` can be unpersisted before the
                # lazy grouping stage evaluates
                .localCheckpoint(eager=True))
    return dedup_groups(verified, df, id_col)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         nodes: Optional[DataFrame] = None,
                         node_col: Optional[str] = None,
                         max_iter: int = 25) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(id, component)`` with component = the MINIMUM id in each group —
    the step that turns pairwise dedup output (LSH / jaccard / cosine
    pairs) into keep-one-per-group decisions.

    Algorithm: min-label propagation with POINTER JUMPING.  Each round
    does (1) a one-hop neighbor-min join and (2) a label-shortcut join
    ``label <- label(label)`` (labels are always node ids, so the jump is
    well-defined); the shortcut halves the remaining label-tree depth, so
    convergence is O(log n) rounds — each a bounded pair of hash joins,
    the Spark-shaped equivalent of the alternating-star MapReduce
    algorithm.  Terminates when a round changes no label; raises if
    ``max_iter`` rounds were not enough (2^25-deep chains do not occur in
    dedup graphs).

    ``nodes`` (with ``node_col``, default the pair id column name) adds
    isolated documents as their own singleton components so the output
    covers the whole corpus, not just paired docs."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (e.unionByName(e.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .distinct())
    labels = edges.select(F.col("src").alias("id")).distinct() \
        .withColumn("lbl", F.col("id"))
    if nodes is not None:
        nc = node_col or id_a
        labels = (nodes.select(F.col(nc).alias("id")).distinct()
                  .withColumn("lbl", F.col("id"))
                  .unionByName(labels)
                  .groupBy("id").agg(F.min("lbl").alias("lbl")))
    edges = edges.persist()
    # localCheckpoint truncates the lineage each round — the iterated
    # self-joins otherwise stack O(rounds) plans deep and overflow the
    # planner (on a cluster with a checkpoint dir, reliable checkpoints
    # swap in transparently)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iter):
        # (1) one-hop: min label over the neighborhood
        nb = (edges.join(labels.select(F.col("id").alias("dst"),
                                       F.col("lbl").alias("_dl")), "dst")
              .groupBy("src").agg(F.min("_dl").alias("_nl")))
        hop = (labels.join(nb, labels["id"] == nb["src"], "left")
               .select(labels["id"],
                       F.least("lbl", F.coalesce("_nl", "lbl"))
                       .alias("lbl")))
        # (2) pointer jump: follow the label's own label
        jump_src = hop.select(F.col("id").alias("lbl"),
                              F.col("lbl").alias("_ll"))
        new_labels = (hop.join(jump_src, "lbl", "left")
                      .select("id", F.least(
                          "lbl", F.coalesce("_ll", "lbl")).alias("lbl"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.lbl") != F.col("o.lbl")).count())
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels.select(F.col("id"),
                                 F.col("lbl").alias("component"))
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds")


def dedup_groups(pairs: DataFrame, nodes: DataFrame, node_col: str,
                 id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """(id, component, is_canonical): full-corpus dedup decision from a
    near-dup pair list — every document labeled with its group's min id;
    keep rows where ``is_canonical``."""
    cc = connected_components(pairs, id_a, id_b, nodes=nodes,
                              node_col=node_col)
    return cc.withColumn("is_canonical", F.col("id") == F.col("component"))


# ~500k pair rows per reduce task keeps each task's count map in the fast
# cache regime (PAPERS.md: CAMEL's hash-table CPU-vs-memory trade-off;
# 256 vs 1024 partitions measured flat at 128.8M rows, AQE's byte-sized
# 32 was 2.2x slower)
PAIR_ROWS_PER_TASK = 500_000
# posting lists at least this long generate pairs with a HOF filter
# instead of the double explode (see _pair_stream).  Measured on 4 cores
# (ten lists of d members, packed key, median of 3): d = 1024 explode
# 2.19 s vs HOF 2.61 s; d = 2048 8.60 vs 8.15 s (within noise);
# d = 3000 21.96 vs 18.94 s.  The skew probe's exact leg (ten lists of
# ~3000) sits above, the nn_jaccard corpora (d <= 400) far below.
HOF_MIN_LIST = 2500


def posting_lists(sh: DataFrame, id_col: str = "doc_id",
                  max_df: Optional[int] = None
                  ) -> Tuple[DataFrame, DataFrame, dict]:
    """The inverted index of an ``(id_col, sh)`` shingle stream as
    ``(kept, full, stats)``: ``full`` has one ``(sh, ds)`` row per
    shingle, ``ds`` the ids holding it; ``kept`` drops the lists longer
    than ``max_df`` (the document-frequency prune).

    Eager: ``full`` is materialized by one ``localCheckpoint`` (one short
    row per distinct shingle), so the pair stage, the sizes and any other
    consumer read it instead of each recomputing the shingle pipeline;
    ``kept`` is a lazy filter over it.  The same checkpoint job collects,
    through ``observe``, the stats of the KEPT lists that ``pair_counts``
    plans with — ``lo``/``hi`` (id bounds), ``pair_rows`` (sum of
    d*(d-1)/2) and ``longest`` (max d) — so no separate probe job runs.
    Stats are None when no list is kept."""
    full = sh.groupBy("sh").agg(F.collect_list(F.col(id_col)).alias("ds"))
    keep = F.lit(True) if max_df is None else F.size("ds") <= max_df
    d = F.size("ds")
    obs = Observation()
    full = full.observe(
        obs,
        F.min(F.when(keep, F.array_min("ds"))).alias("lo"),
        F.max(F.when(keep, F.array_max("ds"))).alias("hi"),
        # d*(d-1) is even, so halving the sum is exact
        F.shiftright(F.sum(F.when(keep, d.cast("long") * (d - 1))), 1)
        .alias("pair_rows"),
        F.max(F.when(keep, d)).alias("longest"))
    full = full.localCheckpoint(eager=True)
    return full.filter(keep), full, obs.get


def _pair_stream(posts: DataFrame, hof: bool) -> DataFrame:
    """(id_a, id_b) with id_a < id_b for every two members of a list.

    spread(): AQE would coalesce the small posting-list relation to a
    handful of tasks (it sizes reducers by input bytes) and serialize the
    multiplicative explosion there.  Short lists take a double explode +
    codegen filter: the HOF lambda is interpreted per element and builds
    a filtered array per outer row.  Past HOF_MIN_LIST members the d^2
    inner rows the double explode materializes before filtering cost more
    than the interpreted lambda."""
    outer = spread(posts).select(F.explode("ds").alias("id_a"), "ds")
    if hof:
        return outer.select("id_a", F.explode(F.filter(
            "ds", lambda x: x > F.col("id_a"))).alias("id_b"))
    return (outer.select("id_a", F.explode("ds").alias("id_b"))
            .filter(F.col("id_b") > F.col("id_a")))


def pair_counts(posts: DataFrame, stats: dict) -> DataFrame:
    """``(id_a, id_b, inter)``, id_a < id_b: how many posting lists of
    ``posting_lists`` hold both ids — |A ∩ B| over the index.

    The count's reduce cost is hash-aggregation CPU over near-unique keys
    (dedup factor ~1.1), so the pair exchange gets an EXPLICIT count
    derived from the pair-row total — exempt from AQE's byte-based
    coalescing, which collapses it onto a few fat partitions — and the
    aggregation runs post-shuffle only: max(default parallelism,
    min(shuffle.partitions, pair_rows / PAIR_ROWS_PER_TASK)).

    Behind the double-explode generator, when every id is an integer in
    [0, 2^31), the pair travels as ONE long ``(a << 32) | b`` (8 key bytes
    instead of 16, one long to hash).  Other ids (negative, wider,
    non-integer) keep the two-column key, and so does the HOF generator:
    there the packing projection cost more than the narrower shuffle
    saved (4 cores, median of 3: skew probe exact leg 13.97 packed vs
    12.87 s two-column; ten lists of 3000, 20.82 vs 19.93 s; behind the
    double explode, lists of 512, 1.91 vs 1.98 s)."""
    spark = posts.sparkSession
    dp = spark.sparkContext.defaultParallelism
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # some Spark distributions accept a non-numeric value ("auto");
        # OSS Spark rejects it at conf.set
        cap = dp * 8
    n = max(dp, min(cap, -(-(stats["pair_rows"] or 0)
                           // PAIR_ROWS_PER_TASK)))
    hof = (stats["longest"] or 0) >= HOF_MIN_LIST
    pairs = _pair_stream(posts, hof)
    lo, hi = stats["lo"], stats["hi"]
    if hof or not (isinstance(lo, int) and lo >= 0 and hi < (1 << 31)):
        return (pairs.repartition(n, "id_a", "id_b")
                .groupBy("id_a", "id_b")
                .agg(F.count("*").alias("inter")))
    # widen BEFORE the shift: an int32 id shifted by 32 wraps to itself,
    # and (a << 32) | b would collide pairs
    id_type = pairs.schema["id_a"].dataType
    return (pairs
            .select(F.shiftleft(F.col("id_a").cast("long"), 32)
                    .bitwiseOR(F.col("id_b").cast("long")).alias("pk"))
            .repartition(n, "pk")
            .groupBy("pk")
            .agg(F.count("*").alias("inter"))
            .select(F.shiftrightunsigned("pk", 32).cast(id_type)
                    .alias("id_a"),
                    F.col("pk").bitwiseAND(F.lit((1 << 32) - 1))
                    .cast(id_type).alias("id_b"),
                    "inter"))


def _sizes(index: DataFrame, id_col: str) -> DataFrame:
    """``(id_col, _n)``: how many lists of a ``posting_lists`` index hold
    each id — |A| over that index (one row per doc)."""
    return (index.select(F.explode("ds").alias(id_col))
            .groupBy(id_col).agg(F.count("*").alias("_n")))


def _scored(pairs: DataFrame, sizes: DataFrame) -> DataFrame:
    """``pairs`` (id_a, id_b, inter) plus ``jaccard`` = inter / (na + nb -
    inter) over ``_sizes``, hinted broadcast: Catalyst's estimate for the
    pair aggregate may otherwise broadcast the PAIR side (OOM at sf1)."""
    idc = sizes.columns[0]
    na = sizes.select(F.col(idc).alias("id_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(idc).alias("id_b"), F.col("_n").alias("_nb"))
    return (pairs.join(F.broadcast(na), "id_a").join(F.broadcast(nb), "id_b")
            .withColumn("jaccard", F.col("inter")
                        / (F.col("_na") + F.col("_nb") - F.col("inter"))))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: Optional[int] = 256) -> DataFrame:
    """Jaccard >= threshold pairs via an inverted shingle index, df-PRUNED
    BY DEFAULT: surviving pairs carry their EXACT full-set Jaccard (the
    recount path below), but a pair whose every shared shingle is hotter
    than ``max_shingle_df`` generates no candidate and is missed — notably
    >cap near-identical copies of one template (exact copies of it are
    still caught by ``exact_dedup``).

    The default cap of 256 is the scale-safe contract: without it the
    candidate join is quadratic in the hottest shingle's document
    frequency, which is a cluster-killer on any real corpus (one stopword
    k-gram is enough).  Pass ``max_shingle_df=None`` to opt out and get
    the exact-superset candidate set — only safe on small/clean corpora
    whose df distribution you have checked.  A shingle shared by d documents
    contributes d*(d-1)/2 candidate pairs, so one stopword shingle in a real
    corpus makes the join quadratic.  Dropping shingles with document
    frequency > cap bounds the per-shingle fan-out at cap^2 while candidates
    for genuinely similar pairs survive through their rarer shingles (the
    standard inverted-index prefix/df-pruning argument).

    Candidates and their counts come from the shared pair engine
    (``posting_lists`` + ``pair_counts``), so the call is EAGER: it runs
    one checkpoint job over the posting lists before returning, as
    ``minhash_dedup`` does.  The returned frame stays lazy and reads the
    corpus only through that checkpoint."""
    posts, full, stats = posting_lists(shingle(df, text_col, k, id_col),
                                       id_col, max_shingle_df)
    shared = pair_counts(posts, stats)
    if max_shingle_df is not None:
        # the pruned-index count undercounts pairs that also share hot
        # shingles: recount each surviving candidate against the FULL
        # index (a semi-bounded join — only candidate pairs fan out), so
        # a surviving pair's jaccard is exact per the API contract.  The
        # unpruned (id, sh) relation is read back from the checkpointed
        # index rather than re-tokenizing the corpus.
        sh = full.select("sh", F.explode("ds").alias(id_col))
        cand = shared.select("id_a", "id_b")
        shared = (cand
                  .join(sh.select(F.col(id_col).alias("id_a"), "sh"),
                        "id_a")
                  .join(sh.select(F.col(id_col).alias("id_b"), "sh"),
                        ["id_b", "sh"])
                  .groupBy("id_a", "id_b")
                  .agg(F.count("*").alias("inter")))
    # |A| and |B| from the UNPRUNED index: jaccard = n/(|A|+|B|-n),
    # identical to a full-set array_intersect verify without shipping a
    # single array
    return (_scored(shared, _sizes(full, id_col))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def nearest_neighbor_jaccard(sh: DataFrame, id_col: str = "doc_id",
                             max_df: Optional[int] = None) -> DataFrame:
    """``(id_col, nearest_<id_col>, jaccard)``: each doc's max-Jaccard
    neighbour (ties to the smaller id) from an ``(id_col, sh)`` stream of
    DISTINCT shingles.  Candidates and sizes count the KEPT posting lists
    (df <= ``max_df``) only; a doc sharing no kept shingle has no row.
    EAGER like ``ngram_jaccard_pairs``; the returned frame is lazy.

    EXACT top-1 split (the min(struct) argmax plans as a SortAggregate;
    the split cuts its input ~10x without changing any result):
    (a) pairs sharing >= 2 shingles keep their exact jaccard;
    (b) for inter == 1 pairs, jaccard = 1/(na + nb - 1) is monotone in
        (nb, id_b) alone, so each doc's best single-shingle candidate is
        the (min size, then min id) OTHER member over its posting lists:
        the top-2 members per list suffice, with no pair fan-out.  An
        inter >= 2 pair surfacing in (b) carries an UNDERESTIMATE of its
        jaccard (1 <= inter), so its exact entry from (a) dominates it.
    The min over (a) union (b) is therefore the min over all candidates,
    and needs no per-doc pre-min of (b)."""
    posts, _, stats = posting_lists(sh, id_col, max_df)
    sizes = _sizes(posts, id_col)
    strong = _scored(pair_counts(posts, stats).filter(F.col("inter") >= 2),
                     sizes)

    def edge(d, o):
        return F.struct(F.col(d).alias("d"), F.col(o).alias("o"),
                        F.col("jaccard").alias("j"))

    sym = strong.select(F.inline(F.array(edge("id_a", "id_b"),
                                         edge("id_b", "id_a"))))
    mem = (posts.select("sh", F.explode("ds").alias(id_col))
           .join(F.broadcast(sizes), id_col))
    # top-2 (size, id) members per list in ONE hash aggregation, not a
    # row_number window (sf1-like mirror, single branch: 2.89 -> 1.51 s).
    # No broadcast hint: one row per distinct SHINGLE is not
    # dimension-scale, so AQE stays free to pick a shuffle join.
    top2 = (mem.groupBy("sh").agg(
        F.slice(F.array_sort(F.collect_list(F.struct("_n", id_col))),
                1, 2).alias("_t"))
        .filter(F.size("_t") == 2)
        .select("sh", F.col("_t")[0].alias("_m1"),
                F.col("_t")[1].alias("_m2")))
    best = (F.when(F.col(f"_m1.{id_col}") == F.col(id_col), F.col("_m2"))
            .otherwise(F.col("_m1")))
    # 1/(na+nb-1) in the inter == 1 pair's exact long/long arithmetic
    single = (mem.join(top2, "sh").withColumn("_b", best)
              .select(F.col(id_col).alias("d"),
                      F.col(f"_b.{id_col}").alias("o"),
                      (F.lit(1).cast("bigint") / (
                          F.col("_n") + F.col("_b._n")
                          - F.lit(1).cast("bigint"))).alias("j")))
    top = (sym.unionByName(single).groupBy("d")
           .agg(F.min(F.struct((-F.col("j")).alias("nj"), "o")).alias("_m")))
    return top.select(F.col("d").alias(id_col),
                      F.col("_m.o").alias(f"nearest_{id_col}"),
                      (-F.col("_m.nj")).alias("jaccard"))
