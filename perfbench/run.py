#!/usr/bin/env python3
"""Benchmark of the light-curve-python-spark feature engine.

Run from the repository root:

    python3 perfbench/run.py --workload pit_features --seed 1 \\
        --seconds 8 --trace 0

Workloads: pit_features and batch_pipeline (see settings.json and
BENCHMARK.json).  Inputs are generated from the seed into
``.perfbench/cache``; every file the run writes stays under ``.perfbench``.

One run: generate inputs (not timed), set up ``setup_reps`` times (session
start, input registration and a warm-up job; the first set-up is counted
from process start, later ones restart the Spark context in the same JVM),
run jobs for ``--seconds``, then check one output outside the timed
section.  With ``--trace 1`` every other job is traced and the run reports
the per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {"setup_s": "s", "rows_per_s": "1/s", "job_s.p50": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "scan.input_bytes": "bytes", "scan.rows": "count",
    "extract.plan_s": "s", "extract.exchanges": "count",
    "arrow.bytes_to_python": "bytes", "arrow.bytes_from_python": "bytes",
    "python.wait_s": "s",
    "battery.probe_us": "us", "battery.share": "ratio",
    "kernels.window_us": "us", "periodogram.curve_us": "us",
    "spectral.run_s": "s", "spectral.shuffle_bytes": "bytes",
    "checkpoint.spark_jobs": "count", "checkpoint.bucket_s.p50": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.scan_amplification": "ratio",
    "checkpoint.resume_ratio": "ratio", "resume_s": "s",
    "asof.s": "s", "sessionize.s": "s", "windows.rolling_s": "s",
    "windows.laglead_s": "s",
    "shuffle.bytes_written": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "tasks.count": "count", "tasks.skew": "ratio", "cores.busy": "ratio",
    "jvm.gc_s": "s", "spark.jobs": "count",
    "fail_ratio": "ratio", "trace.overhead_s": "s",
    "self.job_s": "s", "self.plan_s": "s", "self.action_s": "s",
    "self.spark_job_s": "s", "self.stage_s": "s",
}

# span kind -> per-layer self-time metric (per traced job)
SELF_TIME = {"job": "self.job_s", "plan": "self.plan_s",
             "action": "self.action_s", "spark.job": "self.spark_job_s",
             "spark.stage": "self.stage_s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(settings: dict, root: str, work: str) -> int:
    """Pin the settings the numbers depend on and keep every file the run
    writes under ``work``; returns the core count."""
    cores = len(os.sched_getaffinity(0))      # what nproc prints
    threads = str(settings["omp_num_threads"])
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = threads
    for d in ("tmp", "spark-local", "warehouse", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = settings["driver_memory"]
    os.environ.pop("SPARK_LOCAL_DIRS", None)   # would override local.dir
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path[:0] = [root, HERE]
    return cores


def start_session(settings: dict, work: str, cores: int):
    from light_curve_python_spark import session
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    # the engine would create its shuffle directory under /dev/shm; every
    # file of a benchmark run stays under ``work``
    if hasattr(session, "_local_dirs"):
        session._local_dirs = lambda: local
    spark = session.get_spark(
        master=f"local[{cores}]", app_name="perfbench",
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                + settings["jvm_options"],
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm():
    """Stop the Spark context and the gateway JVM, and wait for it."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()      # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    if args.workload not in settings["workloads"]:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(settings['workloads'])}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    cores = _prepare_env(settings, root, work)
    cfg = settings["workloads"][args.workload]

    # the engine must be importable from the checkout; without it the run
    # fails here, before any result is printed
    import light_curve_python_spark  # noqa: F401

    import gen
    from harness import Tracer, median, process_start_epoch
    from workloads import WORKLOADS, Ctx

    t0 = time.perf_counter()
    inputs = gen.ensure_inputs(os.path.join(work, "cache"), args.workload,
                               args.seed, cfg)
    gen_s = time.perf_counter() - t0

    trace = bool(args.trace)
    tracer = Tracer(trace)
    wl = WORKLOADS[args.workload](cfg, inputs, work)
    setups, session_starts = [], []
    start_epoch = process_start_epoch()
    try:
        for rep in range(settings["setup_reps"]):
            t0 = start_epoch if rep == 0 else time.time()
            with tracer.span("setup", f"setup {rep}"):
                with tracer.span("session", "session.get_spark"):
                    ts = time.perf_counter()
                    spark = start_session(settings, work, cores)
                    session_starts.append(time.perf_counter() - ts)
                ctx = Ctx(spark, tracer)
                with tracer.span("register", "register inputs"):
                    wl.register(ctx)
                with tracer.span("warmup", "warm-up job"):
                    wl.warmup(ctx)
            setups.append(time.time() - t0 - (gen_s if rep == 0 else 0.0))
            if rep < settings["setup_reps"] - 1:
                spark.stop()            # restart the context, keep the JVM

        result = _measure(args, settings, wl, ctx, tracer, cores)
        result["setup"] = setups
        result["session_starts"] = session_starts
    finally:
        stop_jvm()

    e2e = {
        "setup_s": median(setups),
        "rows_per_s": result["rows_per_s"],
        "job_s.p50": result["job_s.p50"],
        "peak_rss_mb": result["peak_rss_mb"],
    }
    fail_ratio = result["failed"] / result["attempted"]
    if trace:
        lay = result["layers"]
        lay["session.start_s"] = median(session_starts)
        lay["fail_ratio"] = fail_ratio
        metrics = {k: {"value": float(lay.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in e2e.items()}

    import light_curve_python_spark as pkg
    env = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "nproc": len(os.sched_getaffinity(0)),
           "cores": cores, "OMP_NUM_THREADS": os.environ["OMP_NUM_THREADS"],
           "shuffle_partitions": settings["shuffle_partitions"],
           "buckets": cfg.get("buckets"),
           "checkpoint_buckets": cfg.get("checkpoint_buckets"),
           "engine_version": pkg.__version__, **_versions()}
    record = {"env": env, "end_to_end": e2e, "fail_ratio": fail_ratio,
              "resume_s": result.get("resume_s"), "metrics": metrics,
              "failures": result["failures"], "setup_s_reps": setups,
              "jobs": result["jobs"], "gen_s": gen_s,
              "verify_s": result["verify_s"]}
    if trace:
        record["self_times"] = result["self_times"]
        record["spans"] = tracer.spans
    out = os.path.join(work, "results",
                       f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print("env " + json.dumps(env))
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    print(f"fail_ratio {fail_ratio:.6g} ratio "
          f"({result['failed']}/{result['attempted']} jobs)")
    if result.get("resume_s") is not None:
        print(f"resume_s {result['resume_s']:.6g} s")
    print(f"job_s samples {len(result['job_s'])}")
    for msg in result["failures"]:
        print(f"check failed: {msg}")
    print(json.dumps({"correct": not result["failures"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def _measure(args, settings, wl, ctx, tracer, cores) -> dict:
    from harness import RssSampler, median
    trace = bool(args.trace)
    # a traced run alternates untraced and traced jobs: at least one each
    min_jobs = max(settings["min_jobs"], 2) if trace else settings["min_jobs"]
    jobs = []           # wl.job() results, with "traced" added
    layers = []
    attempted = failed = 0
    failures = []
    deadline = time.perf_counter() + args.seconds
    i = 0
    with RssSampler() as rss:
        while i < min_jobs or time.perf_counter() < deadline:
            traced = trace and i % 2 == 1
            ctx.begin_job(traced)
            attempted += 1
            try:
                with tracer.trace(f"job-{i}"), \
                        tracer.span("job", f"job {i}"), rss.active():
                    res = wl.job(ctx, i)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
                i += 1
                continue
            jobs.append(dict(res, traced=traced))
            if traced:
                lay = wl.layers(ctx.acc, res["s"], cores)
                lay["_run_s"] = ctx.acc["run_s"]
                lay["_rows"] = res["rows"]
                layers.append(lay)
            i += 1
        peaks = rss.peaks

    plain = [j for j in jobs if not j["traced"]]
    job_s = [j["s"] for j in plain]
    resume = [j["resume_s"] for j in plain if "resume_s" in j]
    secs = sum(job_s)
    result = {
        "rows_per_s": sum(j["rows"] for j in plain) / secs if secs else 0.0,
        "job_s.p50": median(job_s), "job_s": job_s,
        "resume_s": median(resume) if resume else None,
        # median over jobs of each job's peak: one job's allocation burst
        # does not set the run's value
        "peak_rss_mb": median(peaks) / 2 ** 20,
        "jobs": jobs,
    }

    # output checks, outside the timed section
    ctx.begin_job(False)
    t0 = time.perf_counter()
    try:
        failures += wl.verify(ctx)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        failures.append(f"verification raised {type(e).__name__}: {e}")
    result["verify_s"] = time.perf_counter() - t0
    if failures:
        failed = attempted      # every job ran the plan that failed

    if trace:
        result["layers"] = _layer_metrics(args, settings, wl, layers,
                                          jobs, tracer, resume)
        tol = settings["cores_busy_tolerance"]
        busy = max((lay["cores.busy"] for lay in layers), default=0.0)
        if busy > 1.0 + tol:
            failures.append(f"cores.busy {busy:.3f} > 1 + {tol}: stage "
                            "task time does not reconcile with wall time")
        result["self_times"] = tracer.self_times()
    result.update(attempted=attempted, failed=failed, failures=failures)
    return result


def _layer_metrics(args, settings, wl, layers, jobs, tracer,
                   resume) -> dict:
    from controls import kernel_controls
    from harness import median
    from workloads import FULL_BATTERY, KERNEL_SUBSET
    keys = set().union(*layers) if layers else set()
    out = {k: median(lay.get(k, 0.0) for lay in layers) for k in keys
           if not k.startswith("_")}
    pit = settings["workloads"]["pit_features"]
    out.update(kernel_controls(
        args.seed, pit, FULL_BATTERY, KERNEL_SUBSET,
        settings["workloads"]["batch_pipeline"]["horizon"]))
    if wl.name == "pit_features":
        out["battery.share"] = median(
            lay["_rows"] * out["battery.probe_us"] * 1e-6 / lay["_run_s"]
            for lay in layers if lay["_run_s"] > 0)
    if resume:
        out["resume_s"] = median(resume)
    out["trace.overhead_s"] = \
        median(j["s"] for j in jobs if j["traced"]) \
        - median(j["s"] for j in jobs if not j["traced"])
    n = max(len(layers), 1)
    self_times = tracer.self_times()
    for kind, name in SELF_TIME.items():
        out[name] = self_times.get(kind, 0.0) / n
    return out


if __name__ == "__main__":
    sys.exit(main())
