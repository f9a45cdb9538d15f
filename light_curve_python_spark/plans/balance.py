"""Scale-adaptive scan rebalancing.

A scan of a small file yields as many tasks as input splits — one, for the
megabyte-scale corpus files the correctness scales use — so an operator
whose per-row derived work is orders of magnitude heavier than the scan
(shingle explode x n_hashes xxhash64, per-probe cosine fan-out) runs its
entire compute stage on a single core while the rest of the cluster idles
(guide: stragglers / input split sizing).

``rebalance_scan`` round-robin-repartitions ONLY when the plan has fewer
partitions than the session's parallelism.  At production scale the scan
has thousands of natural splits, so the gate never fires and no shuffle is
added — the adaptive form of "repartition immediately after the read",
rather than a constant tuned for local mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["rebalance_scan", "spread"]


def spread(df: DataFrame) -> DataFrame:
    """Explicit round-robin repartition to 4x the session's default
    parallelism — for tiny-input / huge-output generate stages
    (posting-list pair explosion: kilobytes in, 10^8 rows out).

    AQE's partition coalescing sizes reducers by their INPUT bytes with a
    1 MB min-partition floor, so a megabyte-scale aggregate feeding a
    multiplicative explode gets coalesced to a handful of tasks and the
    fan-out (plus its partial aggregation) serializes there.  An explicit
    numPartitions repartition is exempt from coalescing.  The extra
    shuffle moves only the small pre-explosion relation — at any scale it
    is one cheap pass compared to the generate it parallelizes."""
    n = df.sparkSession.sparkContext.defaultParallelism * 4
    return df.repartition(n)


# operators whose presence in the optimized plan means (a) the frame is
# already post-shuffle (as wide as spark.sql.shuffle.partitions, so
# rebalancing buys nothing) and (b) df.rdd would EXECUTE those shuffle
# stages under AQE just to answer getNumPartitions — running the heavy
# upstream twice as a side effect of plan construction.  Matched at
# NODE-NAME position (start of line after the tree-drawing prefix), not
# by bare substring — a column named "JoinKey" or a view "SortedDocs"
# printed mid-line must not silently disable rebalancing.
import re as _re

_WIDE_OPS = ("Join", "Aggregate", "Window", "Sort", "Repartition",
             "Distinct", "Deduplicate", "Exchange")
# prefix match at node position (no \b): "Repartition" must also catch
# RepartitionByExpression, "Sort" SortMergeJoin-era names, etc. — every
# plan line begins with an operator name, never a user identifier
_WIDE_RE = _re.compile(
    r"(?m)^[\s+:|-]*(?:" + "|".join(_WIDE_OPS) + r")")


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Return ``df`` unchanged when its physical plan already has at least
    the session's default parallelism in partitions; otherwise
    round-robin repartition to that width.

    Only narrow plans (scan / filter / project chains) are inspected —
    for those, ``df.rdd.getNumPartitions()`` is a metadata question.  A
    plan containing joins/aggregations/windows is returned unchanged:
    its output is already shuffle-partition wide, and materializing its
    RDD under AQE would eagerly run the upstream shuffle stages.

    Row-level results of any downstream deterministic computation are
    unaffected — only task placement changes."""
    min_parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if _WIDE_RE.search(plan):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:
        # non-materializable plans (e.g. streaming sources) keep their
        # natural partitioning
        return df
    if n >= min_parallelism:
        return df
    return df.repartition(min_parallelism)
