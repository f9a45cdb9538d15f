"""Tests of the benchmark itself: each workload at a tiny size passes its
output checks, a corrupted output fails them, and the metric names agree
with BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import run as bench_run  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

TINY = {
    "pit_features": {
        "entities": 10, "n_obs": [20, 60], "hot": 1, "hot_factor": 3,
        "probes_per_entity": 5, "buckets": 4, "controls": 2,
        "check_entities": ["d0000000", "d0000001", "d0000005"]},
    "batch_pipeline": {
        "entities": 8, "n_obs": [40, 80], "hot": 1, "hot_factor": 2,
        "probes_per_entity": 4, "checkpoint_buckets": 2, "horizon": 30.0,
        "events": 3000, "users": 40, "zipf_a": 1.1,
        "check_entities": ["d0000000", "d0000003"]},
}
CORES = 2


def _load(name):
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else BENCH,
                           name)) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    from pyspark import SparkContext
    work = str(tmp_path_factory.mktemp("perfbench"))
    settings = _load("settings.json")
    saved = dict(os.environ)
    bench_run._prepare_env(settings, ROOT, work)
    created = SparkContext._active_spark_context is None
    spark = bench_run.start_session(settings, work, CORES)
    yield spark, work
    if created:
        bench_run.stop_jvm()
    os.environ.clear()
    os.environ.update(saved)


def _tiny(bench, name, seed=3):
    spark, work = bench
    cfg = TINY[name]
    inputs = gen.ensure_inputs(os.path.join(work, "cache"), name, seed, cfg)
    wl = WORKLOADS[name](cfg, inputs, work)
    ctx = Ctx(spark, harness.Tracer(False))
    wl.register(ctx)
    wl.warmup(ctx)
    for traced in (False, True):
        ctx.begin_job(traced)
        res = wl.job(ctx, 0)
        assert res["s"] > 0 and res["rows"] > 0
        if traced:
            lay = wl.layers(ctx.acc, res["s"], CORES)
            assert set(lay) <= set(bench_run.PER_LAYER)
            assert 0 < lay["cores.busy"] <= 1.05
            assert lay["spark.jobs"] >= 1
    ctx.begin_job(False)
    assert wl.verify(ctx) == []
    return wl, ctx


def _bump(table: pa.Table, col: str, row: int, delta: float) -> pa.Table:
    vals = table.column(col).to_pylist()
    vals[row] = (vals[row] or 0.0) + delta
    return table.set_column(table.column_names.index(col), col,
                            pa.array(vals, type=table.schema.field(col).type))


def test_pit_features_checks_pass_and_catch_corruption(bench):
    wl, _ = _tiny(bench, "pit_features")
    from light_curve_python_spark.functions.kernels import make_kernel
    from workloads import FULL_BATTERY
    out = wl._extract().toArrow()
    obs = pq.ParquetDataset(os.path.join(wl.inputs, "obs_b")).read()
    probes = pq.ParquetDataset(os.path.join(wl.inputs, "probes_b")).read()
    kernels = [make_kernel(k) for k in FULL_BATTERY]
    names = [n for k in kernels for n in k.names]
    sample = TINY["pit_features"]["check_entities"]
    assert checks.check_pit(out, obs, probes, kernels, names, sample) == []

    row = out.column("doc_id").to_pylist().index("d0000001")
    bad = _bump(out, "mean", row, 0.5)
    assert any("d0000001" in f for f in
               checks.check_pit(bad, obs, probes, kernels, names, sample))

    toks = out.column("tokens").to_pylist()
    toks[0] = [toks[0][0] + 1] + toks[0][1:]
    bad = out.set_column(out.column_names.index("tokens"), "tokens",
                         pa.array(toks, type=out.schema.field(
                             "tokens").type))
    assert any("token" in f for f in
               checks.check_pit(bad, obs, probes, kernels, names, sample))

    leaked = out.filter(pc.not_equal(out.column("doc_id"), "d0000005"))
    assert checks.check_pit(leaked, obs, probes, kernels, names, sample)


def test_batch_pipeline_checks_pass_and_catch_corruption(bench):
    wl, ctx = _tiny(bench, "batch_pipeline")
    # a changed feature value in the resumed PIT output
    bucket = os.path.join(wl.out, "bucket=0")
    part = next(os.path.join(bucket, f) for f in sorted(os.listdir(bucket))
                if f.startswith("part-") and f.endswith(".parquet"))
    good = pq.read_table(part)
    pq.write_table(_bump(good, "amplitude", 0, 1.0), part)
    assert any("resumed output" in f for f in wl.verify(ctx))
    pq.write_table(good, part)

    # a bucket committed twice
    manifest = os.path.join(wl.out, "_manifest.jsonl")
    with open(manifest) as f:
        lines = f.read()
    with open(manifest, "a") as f:
        f.write(json.dumps({"status": "committed", "bucket": 0}) + "\n")
    assert any("manifest" in f for f in wl.verify(ctx))
    with open(manifest, "w") as f:
        f.write(lines)
    assert wl.verify(ctx) == []

    # a changed whole-curve feature value (or a lost row)
    path = os.path.join(wl.work, "job", "extract")
    part = next(os.path.join(path, f) for f in sorted(os.listdir(path))
                if f.startswith("part-") and f.endswith(".parquet")
                and pq.read_metadata(os.path.join(path, f)).num_rows)
    t = pq.read_table(part)
    keys = t.column("doc_id").to_pylist()
    sampled = TINY["batch_pipeline"]["check_entities"]
    row = next((i for i, k in enumerate(keys) if k in sampled), None)
    if row is None:     # no sampled entity in this file: drop a row
        pq.write_table(t.slice(1), part)
    else:
        pq.write_table(_bump(t, "mean", row, 0.5), part)
    assert wl.verify(ctx)

    # an event-window value off its DuckDB twin
    twins = checks.duckdb_twins(wl.events_path)
    got = wl.frames["rolling"].toArrow()
    assert checks.compare_tables("rolling", got, twins["rolling"]) == []
    bad = _bump(got, "sum_1h", 3, 0.01)
    assert checks.compare_tables("rolling", bad, twins["rolling"])


def test_bucket_ids_match_spark(bench):
    spark, _ = bench
    ids = [gen.doc_id(i) for i in range(0, 3000, 7)]
    rows = spark.createDataFrame([(x,) for x in ids], "d string") \
        .selectExpr("d", "hash(d) AS h", "pmod(hash(d), 16) AS b").collect()
    for r in rows:
        assert gen.spark_hash_utf8(r.d) == r.h
        assert gen.bucket_of(r.d, 16) == r.b


def test_inputs_depend_only_on_seed():
    a = gen.curve_tables(5, 12, (20, 60), 1, 3, 4)
    b = gen.curve_tables(5, 12, (20, 60), 1, 3, 4)
    c = gen.curve_tables(6, 12, (20, 60), 1, 3, 4)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])
    # the amount of work is the same for every seed
    assert a[0].num_rows == c[0].num_rows
    assert sorted(a[1].column("n_tok").to_pylist()) \
        == sorted(c[1].column("n_tok").to_pylist())
    e1 = gen.events_table(5, 500, 20, 1.1)
    assert e1.equals(gen.events_table(5, 500, 20, 1.1))


def test_metric_names_match_benchmark_json():
    spec = _load("BENCHMARK.json")
    settings = _load("settings.json")
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == bench_run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) \
        == set(settings["workloads"])
    mapped = {m for row in settings["layer_map"] for m in row["metrics"]}
    assert mapped == set(bench_run.PER_LAYER)
    for row in settings["layer_map"]:
        assert set(row["moves"]) <= set(bench_run.END_TO_END) | {"resume_s"}
        assert set(row["on"] + row["flat_on"]) <= set(WORKLOADS) | {"all"}


def test_harness_helpers():
    assert harness.parse_sql_metric("1.5 MiB") == 1.5 * 2 ** 20
    assert harness.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n913 ms (226 ms, 229 ms, "
        "231 ms (stage 0.0: task 0))") == pytest.approx(0.913)
    assert harness.parse_sql_metric("100,000") == 100000
    plan = ("AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n"
            "   +- ShuffleQueryStage 0\n      +- Exchange hashpartitioning"
            "\n+- == Initial Plan ==\n   +- Exchange hashpartitioning\n")
    assert harness.count_exchanges(plan) == 1
    tr = harness.Tracer(True)
    with tr.span("job", "j") as root:
        tr.add("spark.job", "a", root["start"], root["start"] + 0.0, None)
    kid = tr.add("x", "k", root["start"], root["end"], root["id"])
    assert kid["parent"] == root["id"]
    assert tr.self_times()["job"] == pytest.approx(0.0, abs=1e-9)


def test_cli_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pit_features",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
