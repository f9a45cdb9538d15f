"""Physical-plan assertions: the scale claims in the docstrings are checked
against .explain output, not taken on faith.

- single-shuffle operators really have exactly one Exchange;
- multi-stage features reuse the entity partitioning (no extra Exchange);
- small dimension joins broadcast;
- parquet filters reach the scan (PushedFilters);
- bucketed tables feed the cogroup with zero Exchanges, and a sorted
  table with one file per bucket feeds it with no Sort either;
- a horizon PIT with a payload is a single Arrow cogroup;
- the pair engine's stats ride its checkpoint job, and its pair stage
  has one size-derived exchange;
- similarity searches score pairs in the JVM, with no per-pair Python
  UDF;
- an engine ``mapInArrow`` guards its Python workers' per-task zip
  re-read;
- a checkpoint read takes its schema from a part-file footer, with no
  schema-inference job.
"""

import re
import sys

import pytest
from pyspark.sql import functions as F

from light_curve_python_spark.datagen import (
    generate_observations,
    generate_probes,
)
from light_curve_python_spark.functions import sqlfeatures as SQ
from light_curve_python_spark.operators import dedup
from light_curve_python_spark.operators.asof import asof_join
from light_curve_python_spark.operators.bins import bin_series
from light_curve_python_spark.operators.sessionize import sessionize


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_exchanges(df) -> int:
    # count shuffle exchanges only (not BroadcastExchange)
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hashpartitioning|"
                          r"rangepartitioning|SinglePartition)", _plan(df)))


@pytest.fixture(scope="module")
def obs(spark):
    return generate_observations(spark, 10, seed=1, n_obs_choices=(20,))


def test_asof_join_single_shuffle(spark, obs):
    probes = generate_probes(spark, 10, 4, seed=1).select("doc_id", "ts")
    out = asof_join(probes, obs.select("doc_id", "t", "m"), on="doc_id",
                    value_cols=["m"])
    assert _n_exchanges(out) == 1, _plan(out)


def test_sessionize_single_shuffle(spark, obs):
    out = sessionize(obs, "doc_id", "t", gap=10.0)
    assert _n_exchanges(out) == 1, _plan(out)


def test_bins_single_shuffle(spark, obs):
    out = bin_series(obs, window=10.0)
    assert _n_exchanges(out) == 1, _plan(out)


def test_multistage_features_reuse_partitioning(spark, obs):
    """dispersion = lag/cumsum windows THEN aggregate, all on the entity key:
    Catalyst must plan ONE exchange, not one per stage."""
    out = SQ.dispersion_stats(obs, "doc_id", "t", "m")
    assert _n_exchanges(out) == 1, _plan(out)
    out2 = SQ.weighted_stats(obs, "doc_id", "m", "sigma")
    assert _n_exchanges(out2) <= 2, _plan(out2)


def test_horizon_pit_plan_is_one_cogroup(spark, obs):
    """A horizon PIT over probes with a payload is one Arrow cogroup: one
    exchange per side, no Window and no join to carry the payload."""
    from light_curve_python_spark.operators.extract import FeatureExtractor
    probes = generate_probes(spark, 10, 4, seed=1)
    out = FeatureExtractor(["mean", "amplitude"]).extract_point_in_time(
        obs, probes, horizon=30.0)
    plan = _plan(out)
    assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert _n_exchanges(out) == 2, plan


def _shingle_stream(spark, n_lists, d):
    # n_lists posting lists of d members each, every id in [0, 2^31)
    n = n_lists * d
    return spark.range(n).select(((F.col("id") * 7) % n).alias("doc_id"),
                                 (F.col("id") % n_lists).alias("sh"))


def test_posting_list_stats_ride_the_checkpoint_job(spark):
    """The posting lists and their stats come from ONE Spark job (AQE off,
    so the shuffle map stage is not submitted as a job of its own): the
    stats are observed by the checkpoint, not probed afterwards.  They
    describe the kept lists only: the 20-member hot list is pruned."""
    hot = spark.range(1000, 1020).select(F.col("id").alias("doc_id"),
                                         F.lit(99).cast("long").alias("sh"))
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("posting_lists_jobs", "posting lists + stats")
        posts, full, stats = dedup.posting_lists(
            _shingle_stream(spark, 6, 10).unionByName(hot), max_df=10)
        jobs = sc.statusTracker().getJobIdsForGroup("posting_lists_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(jobs) == 1, jobs
    assert stats == {"lo": 0, "hi": 59, "pair_rows": 6 * 45, "longest": 10}
    assert (posts.count(), full.count()) == (6, 7)


def test_pair_stage_has_one_size_derived_exchange(spark, monkeypatch):
    """The executed pair count shuffles once, on the packed key, into
    ceil(pair_rows / PAIR_ROWS_PER_TASK) partitions (between the session
    parallelism and shuffle.partitions here)."""
    monkeypatch.setattr(dedup, "PAIR_ROWS_PER_TASK", 1000)
    posts, _, stats = dedup.posting_lists(_shingle_stream(spark, 10, 30))
    assert stats["pair_rows"] == 10 * 435
    pairs = dedup.pair_counts(posts, stats)
    assert len(pairs.collect()) == 10 * 435
    final = _plan(pairs).split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, final
    exchanges = re.findall(r"(?<!Broadcast)Exchange hashpartitioning"
                           r"\(([^)]*)\)", final)
    assert len(exchanges) == 1, final
    key, n = exchanges[0].rsplit(", ", 1)
    assert key.startswith("pk#") and int(n) == 5, final


def _python_udfs(df) -> list:
    # the UDF names of every Python evaluation node in the executed plan
    return re.findall(r"(?:ArrowEvalPython|BatchEvalPython) \[(\w+)\(",
                      _plan(df))


def test_similarity_scores_pairs_in_the_jvm(spark):
    """Every similarity search scores its pairs with the JVM cosine: the
    exact path has no Python evaluation node, and the approximate paths
    keep only their per-row bucket / cell projection UDF (one per side) —
    no per-pair Python scorer."""
    import numpy as np

    from light_curve_python_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_topk,
    )
    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") + i) for i in range(4)])
        .alias("embedding"))
    probes = emb.filter(F.col("vec_id") < 3)
    assert _python_udfs(cosine_topk(emb, probes, k=2)) == []
    lsh = lsh_topk(emb, probes, k=2, dim=4, n_planes=2)
    assert _python_udfs(lsh) == ["buckets", "buckets"], _plan(lsh)
    ivf = ivf_topk(emb, probes, k=2, centers=np.eye(4))
    assert _python_udfs(ivf) == ["nearest_cells"] * 2, _plan(ivf)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter.invalidate_caches is lazy from 3.13")
def test_engine_map_guards_the_per_task_zip_reread(spark):
    """Over 16 tasks of one engine ``mapInArrow`` (``map_curves``), every
    task after a worker's first runs with the package root's zipimport
    guard: its second task re-reads each zip on the path at most once,
    later tasks re-read none (the stock method re-reads every zip once
    per zipimporter at the start of every task).  Output unchanged."""
    from pyspark.sql import types as T

    from light_curve_python_spark.operators.grouped import map_curves

    def probe(t):
        # runs in the Python worker and is pickled by value: it imports
        # nothing from the engine, so it sees what map_curves' own closure
        # loaded
        import os
        import sys
        import zipimport

        from pyspark import TaskContext
        read = zipimport._read_directory
        if not hasattr(read, "calls"):
            def counted(archive, _read=read):
                counted.calls += 1
                return _read(archive)
            counted.calls = 0
            zipimport._read_directory = read = counted
        archives = {f.archive for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)}
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "_stat_guarded", False)
        return ([float(t.sum())], [os.getpid()],
                [TaskContext.get().taskAttemptId()], [guarded], [read.calls],
                [len(archives)])

    curves = spark.range(64, numPartitions=16).select(
        "id", F.transform(F.sequence(F.lit(0), F.col("id") % 5),
                          lambda k: F.struct(k.cast("double").alias("t")))
        .alias("c"))
    fields = [T.StructField("s", T.DoubleType()),
              T.StructField("pid", T.LongType()),
              T.StructField("task", T.LongType()),
              T.StructField("guarded", T.BooleanType()),
              T.StructField("reads", T.LongType()),
              T.StructField("archives", T.LongType())]
    rows = map_curves(curves, "c", [0], fields, probe).collect()
    assert sorted((r.id, r.s) for r in rows) == [
        (i, float(sum(range(i % 5 + 1)))) for i in range(64)]
    tasks = {}
    for r in rows:
        seen = tasks.setdefault(r.pid, {}).setdefault(r.task, r)
        if r.reads < seen.reads:
            tasks[r.pid][r.task] = r
    assert len({t for by_task in tasks.values() for t in by_task}) == 16
    later = 0
    for by_task in tasks.values():
        runs = [by_task[t] for t in sorted(by_task)]
        for k in range(1, len(runs)):
            later += 1
            assert runs[k].guarded, runs
            new_reads = runs[k].reads - runs[k - 1].reads
            assert new_reads <= (runs[k].archives if k == 1 else 0), runs
    assert later >= 1, tasks


def test_filter_pushdown_to_parquet(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_type") == "purchase").select("user_id", "value")
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" \
        in plan, plan
    # column pruning: scan must not read props/ts
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m and "props" not in m.group(1), plan


def test_small_dim_join_broadcasts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dim = docs.select("lang").distinct().withColumn("flag", F.lit(1))
    out = docs.join(F.broadcast(dim), "lang")
    assert "BroadcastHashJoin" in _plan(out)


def test_bucketed_cogroup_zero_exchange(spark, tmp_path_factory, obs):
    import pandas as pd
    wh = str(tmp_path_factory.mktemp("wh"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS pt LOCATION '{wh}'")
    obs.write.mode("overwrite").format("parquet") \
        .bucketBy(4, "doc_id").sortBy("doc_id", "t").saveAsTable("pt.o")
    generate_probes(spark, 10, 4, seed=1).select("doc_id", "ts") \
        .write.mode("overwrite").format("parquet") \
        .bucketBy(4, "doc_id").saveAsTable("pt.p")

    def fn(a, b):
        if len(b) == 0:
            return pd.DataFrame({"doc_id": [], "x": []})
        return pd.DataFrame({"doc_id": [b.doc_id.iloc[0]],
                             "x": [float(len(a))]})

    g = spark.table("pt.o").groupby("doc_id").cogroup(
        spark.table("pt.p").groupby("doc_id")) \
        .applyInPandas(fn, "doc_id string, x double")
    assert _n_exchanges(g) == 0, _plan(g)


def _cogroup_obs_side(plan: str) -> str:
    """The first (observation-side) child subtree of the plan's
    FlatMapCoGroupsInArrow: the lines marked ':' at the children's
    column."""
    lines = plan.splitlines()
    i = next(j for j, ln in enumerate(lines)
             if "FlatMapCoGroupsInArrow" in ln)
    col = lines[i].index("FlatMapCoGroupsInArrow")
    return "\n".join(ln for ln in lines[i + 1:]
                     if ln[col:col + 1] == ":")


@pytest.mark.parametrize("files", ["one_per_bucket", "two_in_a_bucket"])
def test_sorted_single_file_buckets_skip_obs_sort(spark, tmp_path_factory,
                                                  obs, files):
    """A PIT over a bucketed table SORTED BY (doc_id, t) written as one
    file per bucket takes the scan's order (no Sort on the observation
    side); a second file in one bucket brings the Sort back.  The rows
    equal the same PIT over plain parquet either way."""
    from light_curve_python_spark.operators.extract import FeatureExtractor
    wh = str(tmp_path_factory.mktemp("wh"))
    table = f"pt.o_{files}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS pt LOCATION '{wh}'")
    # repartition by the bucket key: each write task holds whole buckets,
    # so each write adds one file per bucket
    first, second = obs, None
    if files == "two_in_a_bucket":
        late = (F.col("doc_id") == "doc00000003") & (F.col("t") > 500.0)
        first, second = obs.filter(~late), obs.filter(late)
    for df, mode in ((first, "overwrite"), (second, "append")):
        if df is not None:
            df.repartition(4, "doc_id").write.mode(mode).format("parquet") \
                .bucketBy(4, "doc_id").sortBy("doc_id", "t") \
                .saveAsTable(table)
    probes = generate_probes(spark, 10, 4, seed=1).select("doc_id", "ts")
    probes.write.mode("overwrite").format("parquet") \
        .bucketBy(4, "doc_id").saveAsTable("pt.p_sorted_obs")
    plain = str(tmp_path_factory.mktemp("plain"))
    obs.write.parquet(f"{plain}/obs")
    probes.write.parquet(f"{plain}/probes")

    ex = FeatureExtractor(["mean", "amplitude", "stetson_k", "eta_e"])
    got = ex.extract_point_in_time(spark.table(table),
                                   spark.table("pt.p_sorted_obs"))
    want = ex.extract_point_in_time(spark.read.parquet(f"{plain}/obs"),
                                    spark.read.parquet(f"{plain}/probes"))
    plan = _plan(got)
    assert _n_exchanges(got) == 0, plan
    assert ("Sort [" in _cogroup_obs_side(plan)) \
        == (files == "two_in_a_bucket"), plan
    rows = sorted(got.collect())
    assert len(rows) == 40
    assert rows == sorted(want.collect())


def test_feature_spec_roundtrips_priors_and_rainbow():
    """ln_prior-carrying fit params and the rainbow_fit facade must survive
    the JSON round trip (plans resume from disk)."""
    from light_curve_python_spark.functions.fits import LnPrior
    from light_curve_python_spark.plans.spec import FeatureSpec
    priors = [LnPrior.none().spec, LnPrior.normal(2.0, 0.1).spec,
              LnPrior.none().spec, LnPrior.uniform(1.0, 9.0).spec,
              LnPrior.none().spec]
    spec = FeatureSpec.of(
        ("bazin_fit", {"ln_prior": priors, "max_iter": 50}),
        ("rainbow_fit", {"band_wave_cm": {"g": 4.77e-5, "r": 6.231e-5}}),
    )
    rt = FeatureSpec.from_json(spec.to_json())
    assert rt.features == spec.features  # (fill NaN != NaN by design)
    names = rt.names
    assert "bazin_fit_a" in names and "r_chisq" in names
    # compiled kernels carry the prior specs
    ex = rt.to_extractor()
    bazin = ex.kernels[0]
    assert bazin.params["ln_prior"][1][0] == "normal"


def test_submit_entrypoint_end_to_end(spark, tmp_path):
    """scripts/submit_extract.py: the spark-submit CLI runs the
    checkpointed PIT extraction end-to-end and resumes idempotently."""
    import sys
    sys.path.insert(0, "scripts")
    import submit_extract

    from light_curve_python_spark.datagen import (
        generate_observations,
        generate_probes,
    )
    obs_dir = str(tmp_path / "obs")
    probes_dir = str(tmp_path / "probes")
    out_dir = str(tmp_path / "features")
    generate_observations(spark, 8, seed=3, n_obs_choices=(40,)) \
        .write.parquet(obs_dir)
    generate_probes(spark, 8, probes_per_entity=3, seed=3) \
        .select("doc_id", "ts").write.parquet(probes_dir)
    argv = ["--obs", obs_dir, "--probes", probes_dir, "--output", out_dir,
            "--features", "mean", "amplitude", "--n-buckets", "4",
            "--master", "local[4]"]
    assert submit_extract.main(argv) == 0
    got = spark.read.parquet(*[f"{out_dir}/bucket={b}" for b in range(4)])
    assert got.count() == 24
    assert {"mean", "amplitude"} <= set(got.columns)
    # resume: nothing recomputed
    assert submit_extract.main(argv + ["--resume"]) == 0
    import json

    def manifest_rows(out):
        with open(f"{out}/_manifest.jsonl") as f:
            entries = [json.loads(x) for x in f]
        # each entry's row count (read from the parquet footers) is
        # Spark's count of the bucket it commits
        for e in entries:
            n = spark.read.parquet(f"{out}/bucket={e['bucket']}").count()
            assert e["rows"] == n, e
        return [e["rows"] for e in entries]

    assert len(manifest_rows(out_dir)) == 4  # no duplicate commits
    # two keys over four buckets (at least two buckets empty), output as
    # a file:/// URI
    probes2_dir = str(tmp_path / "probes2")
    spark.read.parquet(probes_dir) \
        .filter("doc_id IN ('doc00000000', 'doc00000001')") \
        .write.parquet(probes2_dir)
    out2 = str(tmp_path / "features2")
    argv2 = ["--obs", obs_dir, "--probes", probes2_dir,
             "--output", "file://" + out2, "--features", "mean",
             "--n-buckets", "4", "--master", "local[4]"]
    assert submit_extract.main(argv2) == 0
    rows2 = manifest_rows(out2)
    assert len(rows2) == 4 and rows2.count(0) >= 2 and sum(rows2) == 6


def test_checkpoint_resume_guards(spark, tmp_path):
    """Resuming with a different bucket count or feature spec must refuse
    (silently dropping/duplicating probes otherwise); object-store output
    paths are rejected up front."""
    from light_curve_python_spark.datagen import generate_probes
    from light_curve_python_spark.plans.checkpoint import CheckpointedRun
    probes = generate_probes(spark, 6, probes_per_entity=2, seed=2) \
        .select("doc_id", "ts")
    out = str(tmp_path / "run2")
    run = CheckpointedRun(out, "doc_id", n_buckets=4, spec_json='{"v":1}')
    run.run(probes, lambda s: s.withColumn("f", F.col("ts")))
    with pytest.raises(ValueError, match="n_buckets"):
        CheckpointedRun(out, "doc_id", n_buckets=8, spec_json='{"v":1}') \
            .run(probes, lambda s: s)
    with pytest.raises(ValueError, match="different feature spec"):
        CheckpointedRun(out, "doc_id", n_buckets=4, spec_json='{"v":2}') \
            .run(probes, lambda s: s)
    with pytest.raises(ValueError, match="scheme"):
        CheckpointedRun("s3://bucket/features", "doc_id")
    # 'file://home/x' parses as netloc='home' — silently using the path
    # would drop the first component; must refuse
    with pytest.raises(ValueError, match="authority"):
        CheckpointedRun("file://home/user/out", "doc_id")
    # well-formed file:/// works and round-trips through run/read
    out3 = str(tmp_path / "run3")
    run3 = CheckpointedRun("file://" + out3, "doc_id", n_buckets=2)
    run3.run(probes, lambda s: s.withColumn("f", F.col("ts")))
    assert run3.read(spark).count() == probes.count()


def test_checkpoint_read_takes_the_schema_from_a_footer(spark, tmp_path):
    """``CheckpointedRun.read`` takes its schema from the first committed
    bucket's part-file footer (here an empty bucket's schema-only file):
    same rows and schema as a plain ``spark.read.parquet``, one Spark job
    fewer (no schema-inference job)."""
    from light_curve_python_spark.datagen import generate_probes
    from light_curve_python_spark.plans.checkpoint import CheckpointedRun
    probes = generate_probes(spark, 6, probes_per_entity=2, seed=2) \
        .select("doc_id", "ts")
    calls = []

    def compute(s):
        calls.append(1)
        out = s.withColumn("f", F.array(F.col("ts")))
        return out.limit(0) if len(calls) == 1 else out

    out = str(tmp_path / "run")
    run = CheckpointedRun(out, "doc_id", n_buckets=4)
    run.run(probes, compute)
    assert run.completed_buckets() == [0, 1, 2, 3]
    assert CheckpointedRun._parquet_rows(out + "/bucket=0") == 0
    paths = [f"{out}/bucket={b}" for b in range(4)]
    sc = spark.sparkContext
    got = {}
    try:
        for name, read in (("footer", lambda: run.read(spark)),
                           ("inferred",
                            lambda: spark.read.parquet(*paths))):
            sc.setJobGroup(f"checkpoint_read_{name}", name)
            df = read()
            got[name] = (df.schema, sorted(df.collect()), len(
                sc.statusTracker().getJobIdsForGroup(
                    f"checkpoint_read_{name}")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got["footer"][0] == got["inferred"][0]
    assert got["footer"][1] == got["inferred"][1]
    assert 0 < len(got["footer"][1]) == sum(
        CheckpointedRun._parquet_rows(p) for p in paths)
    assert got["footer"][2] == got["inferred"][2] - 1, got
