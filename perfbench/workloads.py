"""The benchmark workloads.

Each workload registers its inputs and warms up (both part of set-up),
runs timed jobs through the engine's public API, and checks outputs
outside the timed section.  ``job`` returns the job's timed
seconds (``s``), its output rows and, where it has one, ``resume_s``.  ``Ctx.action`` wraps every Spark action; when
the job is traced it tags the action with a job group and reads the group's
Spark jobs and stages back from the status store afterwards.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Dict, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import (GAP_30M, H_1H, check_entity, check_multiband,
                    check_pit, compare_tables, duckdb_twins, table_digest)
from harness import SparkProbe, Tracer

FULL_BATTERY = [
    "amplitude", "mean", "median", "standard_deviation", "mean_variance",
    "median_absolute_deviation", "weighted_mean", "kurtosis", "skew",
    "percent_amplitude", "observation_count", "duration", "time_mean",
    "time_standard_deviation", "maximum_time_interval",
    "minimum_time_interval", "inter_percentile_range",
    "percent_difference_magnitude_percentile", "magnitude_percentage_ratio",
    "median_buffer_range_percentage", "beyond_n_std", "stetson_k",
    "excess_variance", "reduced_chi2", "roms", "cusum", "eta", "eta_e",
    "maximum_slope", "anderson_darling_normal",
    "lafler_kinman_string_length", "linear_fit", "linear_trend", "otsu_split",
]
# the per-window kernel subset of pit_resume and entity_features
KERNEL_SUBSET = [
    "amplitude", "mean", "median", "standard_deviation", "skew", "kurtosis",
    "beyond_n_std", "inter_percentile_range", "stetson_k", "eta_e",
    "linear_fit", "otsu_split",
]

# spark totals summed per job (see SparkProbe.collect)
_SUMMED = ("jobs", "tasks", "run_s", "input_bytes", "input_rows",
           "shuffle_write", "fetch_wait_s", "spill", "gc_s",
           "python_wait_s", "arrow.bytes_to_python",
           "arrow.bytes_from_python")


class Ctx:
    """Run-wide state the workloads share."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.probe: Optional[SparkProbe] = None
        self.traced = False
        self.acc: Dict[str, float] = {}
        self._seq = 0

    def begin_job(self, traced: bool):
        self.traced = traced
        self.tracer.enabled = traced
        self.acc = {k: 0.0 for k in _SUMMED}
        self.acc["longest_stage_s"] = -1.0
        self.acc["skew"] = 1.0
        if traced and self.probe is None:
            self.probe = SparkProbe(self.spark)

    def plan(self, name: str, fn):
        """Build a DataFrame (the operator call); returns it and the
        seconds the call took."""
        with self.tracer.span("plan", name):
            t0 = time.perf_counter()
            df = fn()
            return df, time.perf_counter() - t0

    def action(self, name: str, fn):
        """Run one action; when traced, fold its Spark metrics into
        ``acc`` and record ``<name>.wall_s``."""
        if not self.traced:
            return fn()
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            with self.tracer.span("action", name) as sp:
                out = fn()
            wall = time.perf_counter() - t0
            tot = self.probe.collect(group, self.tracer, sp["id"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        for k in _SUMMED:
            self.acc[k] += tot.get(k, 0.0)
        self.acc[f"{name}.wall_s"] = wall
        self.acc[f"{name}.exchanges"] = tot["exchanges"]
        self.acc[f"{name}.shuffle_write"] = tot["shuffle_write"]
        self.acc[f"{name}.input_rows"] = tot["input_rows"]
        self.acc[f"{name}.output_bytes"] = tot["output_bytes"]
        self.acc[f"{name}.jobs"] = tot["jobs"]
        if tot["longest_s"] > self.acc["longest_stage_s"]:
            self.acc["longest_stage_s"] = tot["longest_s"]
            self.acc["skew"] = tot["skew"]
        return out


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, cfg: dict, inputs: str, work: str):
        self.cfg = cfg
        self.inputs = inputs
        self.work = os.path.join(work, "out", self.name)
        os.makedirs(self.work, exist_ok=True)

    def layers(self, acc: dict, wall: float, cores: int) -> dict:
        """Per-layer values of one traced job from its Spark totals."""
        return {
            "scan.input_bytes": acc["input_bytes"],
            "scan.rows": acc["input_rows"],
            "arrow.bytes_to_python": acc["arrow.bytes_to_python"],
            "arrow.bytes_from_python": acc["arrow.bytes_from_python"],
            "python.wait_s": acc["python_wait_s"],
            "shuffle.bytes_written": acc["shuffle_write"],
            "shuffle.fetch_wait_s": acc["fetch_wait_s"],
            "spill.bytes": acc["spill"],
            "tasks.count": acc["tasks"],
            "tasks.skew": acc["skew"],
            "cores.busy": acc["run_s"] / (wall * cores) if wall else 0.0,
            "jvm.gc_s": acc["gc_s"],
            "spark.jobs": acc["jobs"],
        }


# ---- pit_features ---------------------------------------------------------

class PitFeatures(Workload):
    """Flagship PIT read path over doc_id-bucketed tables (zero
    exchanges), FULL_BATTERY, noop sink."""

    name = "pit_features"

    def register(self, ctx: Ctx):
        n = self.cfg["buckets"]
        wh = os.path.join(self.work, "db")
        sp = ctx.spark
        sp.sql(f"CREATE DATABASE IF NOT EXISTS perfbench LOCATION '{wh}'")
        sp.sql("DROP TABLE IF EXISTS perfbench.obs_b")
        sp.sql("DROP TABLE IF EXISTS perfbench.probes_b")
        sp.sql(f"""
            CREATE TABLE perfbench.obs_b
            (doc_id STRING, t DOUBLE, m DOUBLE, sigma DOUBLE, band STRING)
            USING parquet CLUSTERED BY (doc_id) SORTED BY (doc_id, t)
            INTO {n} BUCKETS LOCATION '{self.inputs}/obs_b'""")
        sp.sql(f"""
            CREATE TABLE perfbench.probes_b
            (doc_id STRING, ts DOUBLE, tokens ARRAY<INT>, n_tok INT,
             source STRING)
            USING parquet CLUSTERED BY (doc_id)
            INTO {n} BUCKETS LOCATION '{self.inputs}/probes_b'""")
        self.obs = sp.table("perfbench.obs_b")
        self.probes = sp.table("perfbench.probes_b")
        self.n_probes = pq.ParquetDataset(
            os.path.join(self.inputs, "probes_b")).read(
                columns=["ts"]).num_rows

    def _extract(self, probes=None):
        from light_curve_python_spark.operators.extract import \
            FeatureExtractor
        return FeatureExtractor(FULL_BATTERY).extract_point_in_time(
            self.obs, self.probes if probes is None else probes)

    def warmup(self, ctx: Ctx):
        # the job on sixteen ordinary entities: every task runs, and the
        # Python workers evaluate real windows once before timing
        from pyspark.sql import functions as F
        _noop(self._extract(self.probes.filter(
            F.col("doc_id").between("d0000002", "d0000017"))))

    def job(self, ctx: Ctx, i: int) -> dict:
        t0 = time.perf_counter()
        df, plan_s = ctx.plan("extract", self._extract)
        ctx.action("extract", lambda: _noop(df))
        ctx.acc["extract.plan_s"] = plan_s
        return {"s": time.perf_counter() - t0, "rows": self.n_probes}

    def verify(self, ctx: Ctx) -> List[str]:
        from light_curve_python_spark.functions.kernels import make_kernel
        out = self._extract().toArrow()
        obs = pq.ParquetDataset(os.path.join(self.inputs, "obs_b")).read()
        probes = pq.ParquetDataset(
            os.path.join(self.inputs, "probes_b")).read()
        kernels = [make_kernel(k) for k in FULL_BATTERY]
        names = [n for k in kernels for n in k.names]
        return check_pit(out, obs, probes, kernels, names,
                         self.cfg["check_entities"])

    def layers(self, acc, wall, cores):
        out = super().layers(acc, wall, cores)
        out["extract.plan_s"] = acc.get("extract.plan_s", 0.0)
        out["extract.exchanges"] = acc.get("extract.exchanges", 0)
        return out


# ---- batch_pipeline ---------------------------------------------------------

class BatchPipeline(Workload):
    """The write and exchange path, one job in three parts:

    - checkpointed PIT run: the scripts/submit_extract.py job shape (plain
      parquet, CheckpointedRun over probe buckets, a range horizon, parquet
      output), then an injected crash and a timed resume;
    - whole-curve features: the kernel subset plus a periodogram
      (aggregate-then-map ``extract``) and the multiband periodogram
      (``grouped_map_batches``), both written to parquet;
    - event windows: as-of join, sessionization, rolling range window and
      lag/lead + backfill on a seeded events stream, each its own action
      with a noop sink and no Python UDF.
    """

    name = "batch_pipeline"

    def register(self, ctx: Ctx):
        from light_curve_python_spark.plans.spec import FeatureSpec
        sp = ctx.spark
        self.obs = sp.read.parquet(os.path.join(self.inputs, "obs"))
        self.probes = sp.read.parquet(os.path.join(self.inputs, "probes"))
        self.events_path = os.path.join(self.inputs, "events")
        self.ev = sp.read.parquet(self.events_path)
        self.spec = FeatureSpec.of(*KERNEL_SUBSET)
        self.ex = self.spec.to_extractor()
        self.input_rows = sum(
            pq.read_metadata(os.path.join(self.inputs, d, "part-0.parquet"))
            .num_rows for d in ("obs", "probes"))
        self.out = os.path.join(self.work, "checkpoint")
        ev = pq.read_table(self.events_path)
        types = ev.column("event_type").to_numpy(zero_copy_only=False)
        u = ev.column("user_id").to_numpy()
        t = ev.column("t").to_numpy()
        order = np.lexsort((t, u))
        u, t = u[order], t[order]
        new = np.ones(len(u), bool)
        new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > GAP_30M)
        # output rows of the batch parts: two per entity, then purchases
        # (as-of), sessions, and every event twice (rolling, lag/lead)
        self.batch_rows = 2 * self.cfg["entities"] \
            + int((types == "purchase").sum()) + int(new.sum()) \
            + 2 * ev.num_rows
        # the batch parts' DataFrames are built once, here: building a
        # long withColumn chain is driver-side analysis whose latency
        # swings with the host far more than the jobs do; each action still
        # optimizes, plans and runs its query afresh
        self.frames = {name: build() for name, build in
                       {**self.entity_frames(self.obs),
                        **self.event_frames(self.ev)}.items()}

    # -- checkpointed PIT run --------------------------------------------

    def _compute(self, ctx: Ctx):
        horizon = self.cfg["horizon"]

        def compute(subset):
            df, plan_s = ctx.plan("extract", lambda: (
                self.ex.extract_point_in_time(
                    self.obs, subset, entity_col="doc_id", ts_col="ts",
                    horizon=horizon)))
            ctx.acc["extract.plan_s"] = ctx.acc.get("extract.plan_s", 0.0) \
                + plan_s
            return df
        return compute

    def _checkpointed(self, ctx: Ctx, fresh: bool,
                      out: Optional[str] = None, probes=None,
                      n_buckets: Optional[int] = None):
        """One submit_extract-shaped run (``--resume`` when not fresh);
        returns (buckets executed, rows read back)."""
        from light_curve_python_spark.plans.checkpoint import CheckpointedRun
        out = out or self.out
        probes = self.probes if probes is None else probes
        if fresh:
            shutil.rmtree(out, ignore_errors=True)
        run = CheckpointedRun(
            out, "doc_id",
            n_buckets=n_buckets or self.cfg["checkpoint_buckets"],
            spec_json=self.spec.to_json())
        name = "checkpoint" if fresh else "resume"
        executed = ctx.action(name, lambda: run.run(
            probes, self._compute(ctx)))
        rows = ctx.action(name + ".read", lambda: run.read(
            ctx.spark).count())
        return executed, rows

    def crash(self) -> List[int]:
        """Simulate a crash mid-run: the second half of the committed
        buckets lose their manifest entries, the last entry is left torn,
        one uncommitted bucket directory is left partial and, with more
        than one, another is removed.  Returns the buckets left
        uncommitted."""
        manifest = os.path.join(self.out, "_manifest.jsonl")
        with open(manifest) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
        keep = len(lines) // 2
        lost = [json.loads(ln)["bucket"] for ln in lines[keep:]]
        with open(manifest, "w") as f:
            f.write("\n".join(lines[:keep]) + "\n")
            f.write(lines[keep][: len(lines[keep]) // 2])   # torn line
        partial = os.path.join(self.out, f"bucket={lost[0]}")
        os.remove(os.path.join(partial, "_SUCCESS"))
        part = next(os.path.join(partial, fn)
                    for fn in sorted(os.listdir(partial))
                    if fn.startswith("part-"))
        with open(part, "r+b") as f:          # a torn parquet write
            f.truncate(os.path.getsize(part) // 2)
        if len(lost) > 1:
            shutil.rmtree(os.path.join(self.out, f"bucket={lost[-1]}"))
        return lost

    def _manifest(self) -> List[dict]:
        """Committed manifest entries (torn lines skipped)."""
        out = []
        with open(os.path.join(self.out, "_manifest.jsonl")) as f:
            for ln in f:
                try:
                    e = json.loads(ln)
                except ValueError:
                    continue
                if e.get("status") == "committed":
                    out.append(e)
        return out

    def _output(self) -> pa.Table:
        """All committed bucket files, read without Spark."""
        parts = [pq.read_table(os.path.join(self.out, f"bucket={b}"))
                 for b in sorted(e["bucket"] for e in self._manifest())]
        return pa.concat_tables(parts)

    # -- whole-curve features and event windows ----------------------------

    def _extractor(self):
        from light_curve_python_spark.operators.extract import \
            FeatureExtractor
        return FeatureExtractor(KERNEL_SUBSET + [("periodogram",
                                                  {"peaks": 1})])

    def entity_frames(self, obs):
        from light_curve_python_spark.operators.spectral import \
            multiband_periodogram
        ex = self._extractor()
        return {"extract": lambda: ex.extract(obs),
                "spectral": lambda: multiband_periodogram(obs, ["g", "r"])}

    def event_frames(self, ev):
        from pyspark.sql import functions as F

        from light_curve_python_spark.operators.asof import asof_join
        from light_curve_python_spark.operators.sessionize import \
            session_stats
        from light_curve_python_spark.operators.windows import (
            backfill, rolling_range_agg, with_lag_lead)
        probes = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("probe_event_id"),
            F.col("t").alias("pts"))
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "t", F.col("m").alias("click_value"))
        base = ev.select("user_id", "event_id", "t", "m")
        purchase = ev.withColumn("purchase_value", F.when(
            F.col("event_type") == "purchase", F.col("m")))
        return {
            "asof": lambda: asof_join(probes, clicks, on="user_id",
                                      left_ts="pts", right_ts="t",
                                      value_cols=["click_value"]),
            "sessionize": lambda: session_stats(
                base, "user_id", "t", GAP_30M, value_col="m"),
            "rolling": lambda: rolling_range_agg(
                base, "user_id", "t",
                {"cnt_1h": "count(*)", "sum_1h": "sum(m)"},
                window_range=(-H_1H, 0)),
            "laglead": lambda: backfill(
                with_lag_lead(purchase, "user_id", "t", ["m"]),
                "user_id", "t", ["purchase_value"], "ffill"
            ).drop("event_type"),
        }

    def _batch(self, ctx: Ctx, frames: dict, tag: str):
        """Whole-curve outputs to parquet, event windows to a noop sink."""
        for name, df in frames.items():
            if name in ("extract", "spectral"):
                path = os.path.join(self.work, tag, name)
                ctx.action(name, lambda: df.write.mode("overwrite")
                           .parquet(path))
            else:
                ctx.action(name, lambda: _noop(df))

    # -- workload interface ---------------------------------------------------

    def warmup(self, ctx: Ctx):
        # every part of the job on a few entities and users; the PIT run
        # in one bucket
        from pyspark.sql import functions as F
        self._checkpointed(ctx, True, os.path.join(self.work, "warmup"),
                           self.probes.filter(F.col("doc_id") < "d0000002"),
                           1)
        frames = {**self.entity_frames(
                      self.obs.filter(F.col("doc_id") < "d0000004")),
                  **self.event_frames(
                      self.ev.filter(F.col("user_id") % 16 == 1))}
        self._batch(ctx, {k: build() for k, build in frames.items()},
                    "warmup")

    def job(self, ctx: Ctx, i: int) -> dict:
        t0 = time.perf_counter()
        _, rows = self._checkpointed(ctx, fresh=True)
        run_s = time.perf_counter() - t0
        # untimed: what the resumed output must equal
        self.clean = self._output()
        buckets = [e["seconds"] for e in self._manifest()]
        lost = self.crash()
        t1 = time.perf_counter()
        executed, _ = self._checkpointed(ctx, fresh=False)
        resume_s = time.perf_counter() - t1
        rows += sum(e["rows"] for e in self._manifest()
                    if e["bucket"] in set(executed))
        t2 = time.perf_counter()
        self._batch(ctx, self.frames, "job")
        batch_s = time.perf_counter() - t2
        ctx.acc["checkpoint.bucket_s.p50"] = float(np.median(buckets))
        ctx.acc["checkpoint.resume_ratio"] = len(executed) / len(lost)
        return {"s": run_s + resume_s + batch_s,
                "rows": rows + self.batch_rows, "resume_s": resume_s}

    def verify(self, ctx: Ctx) -> List[str]:
        """Checks the last job: the resumed PIT output against the same run
        before the crash, the manifest and the features themselves; the
        whole-curve outputs; each event operator's output, collected once
        more, against its DuckDB twin."""
        from light_curve_python_spark.functions.kernels import make_kernel
        fails = []
        resumed = self._output()
        if table_digest(resumed) != table_digest(self.clean):
            fails.append("resumed output differs from the uninterrupted run")
        committed = sorted(e["bucket"] for e in self._manifest())
        if committed != list(range(self.cfg["checkpoint_buckets"])):
            fails.append(f"manifest buckets {committed} are not each "
                         "bucket once")
        obs = pq.read_table(os.path.join(self.inputs, "obs"))
        probes = pq.read_table(os.path.join(self.inputs, "probes"))
        kernels = [make_kernel(k) for k in KERNEL_SUBSET]
        fails += check_pit(resumed, obs, probes, kernels,
                           [n for k in kernels for n in k.names],
                           self.cfg["check_entities"],
                           horizon=self.cfg["horizon"])

        feats = pq.read_table(os.path.join(self.work, "job", "extract"))
        mb = pq.read_table(os.path.join(self.work, "job", "spectral"))
        fails += check_entity(feats, obs,
                              kernels + [make_kernel("periodogram", peaks=1)],
                              self._extractor().names,
                              self.cfg["check_entities"])
        fails += check_multiband(mb, obs)
        twins = duckdb_twins(self.events_path)
        for name in twins:
            fails += compare_tables(name, self.frames[name].toArrow(),
                                    twins[name])
        return fails

    def layers(self, acc, wall, cores):
        out = super().layers(acc, wall, cores)
        out.update({
            "extract.plan_s": acc.get("extract.plan_s", 0.0),
            "extract.exchanges": acc.get("checkpoint.exchanges", 0)
            + acc.get("extract.exchanges", 0),
            "checkpoint.spark_jobs": acc.get("checkpoint.jobs", 0),
            "checkpoint.bucket_s.p50": acc.get("checkpoint.bucket_s.p50",
                                               0.0),
            "checkpoint.bytes_written": acc.get("checkpoint.output_bytes",
                                                0),
            # rows the buckets scanned over the rows of one full scan
            "checkpoint.scan_amplification":
                acc.get("checkpoint.input_rows", 0) / self.input_rows,
            "checkpoint.resume_ratio": acc.get("checkpoint.resume_ratio",
                                               0.0),
            "spectral.run_s": acc.get("spectral.wall_s", 0.0),
            "spectral.shuffle_bytes": acc.get("spectral.shuffle_write", 0),
            "asof.s": acc.get("asof.wall_s", 0.0),
            "sessionize.s": acc.get("sessionize.wall_s", 0.0),
            "windows.rolling_s": acc.get("rolling.wall_s", 0.0),
            "windows.laglead_s": acc.get("laglead.wall_s", 0.0),
        })
        return out


WORKLOADS = {w.name: w for w in (PitFeatures, BatchPipeline)}
