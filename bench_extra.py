#!/usr/bin/env python
"""Per-query isolation harness (guide §1.4) — times individual bench
headlines with the noop sink, min-of-N, without touching the FROZEN
bench.py.  Usage:

    SPARK_GRAFT_SF_DIR=... python bench_extra.py [query ...] [--n 3]

With no query names, runs all 12 headlines.  Prints one JSON line
{"queries": {...}, "sf": ...} (plus per-run draws) for OPTIMIZATION_r06.md
evidence.  Shares bench.py's session/warmup/datagen so numbers are
comparable with the frozen harness.

``ngram_jaccard_bounded`` runs bench.py's skewed-corpus jaccard probe
(bounded default and half-df exact legs, each draw a whole probe run)
instead of a headline; it is only run when named, and on its own it
skips the headline datagen and warm-up.

``python_task_floor`` (also only when named, no datagen or warm-up)
times one engine ``mapInArrow`` (``grouped.map_curves``, a trivial
callback) over the same 4096 entities at 4 and 64 partitions, min-of-N,
and reports per leg the seconds each extra Python task costs one core
(``s_per_task_core``): the fixed per-task floor of the Python workers,
not kernel time.  The ``engine`` leg is ``get_spark``'s own conf; the
``stock`` leg names ``pyspark.daemon`` in ``extra_conf``, whose reused
workers run a full garbage collection after every task.  Legs alternate,
each draw in a fresh context whose workers one untimed job started.  Its
``python_transport`` ("unix" or "tcp", from the session conf) names the
executor-worker socket the tasks used.

``python_cold_start`` (also only when named, no datagen or warm-up)
restarts the Spark context ``--n`` times per leg in one JVM and times
each new context from ``get_spark`` to the end of its first Python job
(the same ``map_curves`` job, at 4 partitions), min and median per leg.
The ``cached`` leg is ``get_spark``'s own conf; the ``stock`` leg names
``pyspark.daemon`` in ``extra_conf``, so its daemon compiles pyspark.zip
from source on every start.  Legs alternate.  ``python_daemon`` ("cached"
or "stock") names the daemon ``get_spark``'s own conf started.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402

# bench.py's skewed-corpus jaccard probe (not a headline)
SKEW_PROBE = "ngram_jaccard_bounded"
# per-task fixed cost of the Python workers (not a headline)
FLOOR_PROBE = "python_task_floor"
FLOOR_PARTITIONS = (4, 64)
STOCK_DAEMON = {"spark.python.daemon.module": "pyspark.daemon"}
FLOOR_LEGS = {"engine": {}, "stock": STOCK_DAEMON}
# seconds from a context restart to its first Python job (not a headline)
COLD_PROBE = "python_cold_start"
COLD_LEGS = {"cached": {}, "stock": STOCK_DAEMON}


def _task_floor(spark, n_runs):
    """Per leg of FLOOR_LEGS, ``n_runs`` draws of one ``map_curves`` job
    per partition count in FLOOR_PARTITIONS, each draw in a fresh context
    (legs alternate), and the extra seconds per extra task times the
    session's cores from the min-of-``n_runs``; returns the draws, the
    per-leg floors and the last session."""
    lo, hi = FLOOR_PARTITIONS
    runs = {leg: {p: [] for p in FLOOR_PARTITIONS} for leg in FLOOR_LEGS}
    for _ in range(n_runs):
        for leg, extra in FLOOR_LEGS.items():
            spark.stop()
            spark = bench._session(bench.CPUS, extra)
            # start every worker
            bench._time_one(spark, lambda s: _floor_job(s, hi))
            for p in FLOOR_PARTITIONS:
                runs[leg][p].append(round(
                    bench._time_one(spark, lambda s: _floor_job(s, p)), 3))
    cores = spark.sparkContext.defaultParallelism
    per_task_core = {
        leg: round((min(r[hi]) - min(r[lo])) * cores / (hi - lo), 4)
        for leg, r in runs.items()}
    return runs, per_task_core, spark


def _floor_job(spark, parts):
    """A trivial ``map_curves`` over 4096 32-point curves."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from light_curve_python_spark.operators.grouped import map_curves

    curves = spark.range(4096, numPartitions=parts).select(
        "id", F.transform(F.sequence(F.lit(1), F.lit(32)),
                          lambda k: F.struct((F.col("id") + k)
                                             .cast("double").alias("t")))
        .alias("c"))
    return map_curves(curves, "c", [0],
                      [T.StructField("mean", T.DoubleType())],
                      lambda t: ([t.mean()],))


def _cold_start(spark, n_runs):
    """Per leg of COLD_LEGS, ``n_runs`` draws of the seconds from a
    context restart to the end of its first Python job; returns the draws
    and the last session."""
    bench._time_one(spark, lambda s: _floor_job(s, 4))  # warm the JVM
    runs = {leg: [] for leg in COLD_LEGS}
    for _ in range(n_runs):
        for leg, extra in COLD_LEGS.items():
            spark.stop()
            t0 = time.perf_counter()
            spark = bench._session(bench.CPUS, extra)
            bench._force(_floor_job(spark, 4))
            runs[leg].append(round(time.perf_counter() - t0, 3))
    return runs, spark


def main():
    args = [a for a in sys.argv[1:]]
    n_runs = 3
    if "--n" in args:
        i = args.index("--n")
        if i + 1 >= len(args):
            sys.exit("--n needs a value")
        n_runs = int(args[i + 1])
        del args[i:i + 2]
    only = set(args)
    # the headline table only closes over its arguments, so its names are
    # known before any session, datagen or warm-up work is paid for
    names = list(bench._headline_queries(None, None, None))
    probes = {SKEW_PROBE, FLOOR_PROBE, COLD_PROBE}
    unknown = only - set(names) - probes
    if unknown:
        sys.exit(f"unknown queries: {sorted(unknown)}; "
                 f"choose from {sorted(names + sorted(probes))}")

    headlines = [n for n in names if not only or n in only]

    spark = bench._session(bench.CPUS)
    results, runs_log = {}, {}
    if headlines:
        obs_path, probes_path = bench._ensure_synth(spark)
        bench._warmup(spark, obs_path, probes_path)
        queries = bench._headline_queries(spark, obs_path, probes_path)
        for name in headlines:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            runs = [bench._time_one(spark, queries[name])
                    for _ in range(n_runs)]
            spark.sparkContext.setJobDescription(None)
            runs_log[name] = [round(r, 3) for r in runs]
            results[name] = round(min(runs), 3)
    if SKEW_PROBE in only:
        skew = [bench._jaccard_skew_bench(spark) for _ in range(n_runs)]
        legs = {"bounded": [r["bounded_sec"] for r in skew],
                "exact_half_df": [r["exact_opt_out"]["sec"] for r in skew]}
        for leg, runs in legs.items():
            runs_log[f"{SKEW_PROBE}.{leg}"] = runs
            results[f"{SKEW_PROBE}.{leg}"] = min(runs)
    floor = {}
    if FLOOR_PROBE in only:
        runs, floor["s_per_task_core"], spark = _task_floor(spark, n_runs)
        uds = spark.sparkContext.getConf().get(
            "spark.python.unix.domain.socket.enabled", "false")
        floor["python_transport"] = "unix" if uds.lower() == "true" \
            else "tcp"
        for leg, by_parts in runs.items():
            for p, draws in by_parts.items():
                runs_log[f"{FLOOR_PROBE}.{leg}.p{p}"] = draws
                results[f"{FLOOR_PROBE}.{leg}.p{p}"] = min(draws)
    if COLD_PROBE in only:
        daemon = spark.sparkContext.getConf().get(
            "spark.python.daemon.module", "pyspark.daemon")
        floor["python_daemon"] = "stock" if daemon == "pyspark.daemon" \
            else "cached"
        runs, spark = _cold_start(spark, n_runs)
        for leg, draws in runs.items():
            runs_log[f"{COLD_PROBE}.{leg}"] = draws
            results[f"{COLD_PROBE}.{leg}"] = min(draws)
        floor[f"{COLD_PROBE}_median"] = {
            leg: statistics.median(draws) for leg, draws in runs.items()}
    spark.stop()
    print(json.dumps({"queries": results, "sf": bench.SF,
                      "queries_runs": runs_log, **floor,
                      "value": round(sum(results.values()), 3)}))


if __name__ == "__main__":
    main()
