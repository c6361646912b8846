"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start two benchmark runs, about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


# -- generator -----------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    a, b, c = gen.generate(7, 0.01), gen.generate(7, 0.01), gen.generate(8, 0.01)
    assert list(a) == list(gen.TABLES)
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(c["orders"])
    assert not a["documents"].equals(c["documents"])


def test_generator_keys_unique_and_line_numbers_bounded():
    t = gen.generate(3, 0.02)
    for table, key in (("orders", "o_orderkey"), ("events", "event_id"),
                       ("documents", "doc_id"), ("embeddings", "vec_id")):
        keys = t[table][key].to_numpy()
        assert len(np.unique(keys)) == len(keys), table
    line = t["lineitem"]["l_linenumber"].to_numpy()
    assert line.min() >= 1 and line.max() <= 9
    crown = t["lineitem"]["l_orderkey"].to_numpy() * 10 + line
    assert len(np.unique(crown)) == len(crown)
    assert set(t["lineitem"]["l_orderkey"].to_numpy()) <= set(t["orders"]["o_orderkey"].to_numpy())
    # the dense strip keeps its share: ~80% of keys have key % 5 < 4
    hot = np.mean(t["orders"]["o_orderkey"].to_numpy() % 5 < 4)
    assert 0.75 < hot < 0.85


# -- output check -----------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    yield s
    s.stop()


def test_perturbed_output_row_fails_the_check(spark):
    import pandas as pd

    pdf = pd.DataFrame({"id": ["a", "b", "c"], "n": [1, 2, 3], "v": [0.5, None, 2.25]})
    df = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                               "id string, n long, v double")
    got = check.output_hash(df)
    # the same rows in another order hash the same
    assert check.frame_hash(spark, pdf.iloc[::-1], df.schema) == got
    for col, value in (("n", 4), ("v", 0.5000000000000001), ("id", "z")):
        bad = pdf.copy()
        bad.loc[1, col] = value
        assert check.frame_hash(spark, bad, df.schema) != got, col
    # a duplicated row, a dropped row, a missing or an extra column all fail
    assert check.frame_hash(spark, pd.concat([pdf, pdf.iloc[:1]]), df.schema) != got
    assert check.frame_hash(spark, pdf.iloc[:2], df.schema) != got
    assert check.frame_hash(spark, pdf.drop(columns="v"), df.schema) != got
    assert check.frame_hash(spark, pdf.assign(w=1), df.schema) != got


def test_metric_value_parsing():
    assert tracing.metric_value("4,999") == 4999
    assert tracing.metric_value("872 ms") == pytest.approx(0.872)
    assert tracing.metric_value("total (min, med, max (stageId: taskId))\n78.4 KiB (1 B, 2 B)") \
        == pytest.approx(78.4 * 1024)
    assert tracing.metric_value(None) == 0.0


def test_tree_cpu_counts_child_processes():
    import run

    before, jit = run.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    after, _ = run.tree_cpu_s(os.getpid())
    assert after - before >= 0.45
    assert jit == 0.0  # no JIT compiler threads in a Python process


def test_benchmark_json_lists_the_metrics_the_code_prints():
    import run

    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert list(layer) == list(tracing.PER_LAYER)
    assert layer == {k: tracing.unit_of(k) for k in tracing.PER_LAYER}
    import workloads

    assert [w["name"] for w in BENCHMARK["workloads"]] == list(workloads.WORKLOADS)


# -- end to end ----------------------------------------------------------------------

def _run(workload: str, seed: int, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.fixture(scope="module")
def traced_match():
    p = _run("match", 5, 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def test_untraced_run_prints_every_end_to_end_metric():
    p = _run("features", 5, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric(traced_match):
    _, out = traced_match
    assert out["correct"] and out["failed"] == 0
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == \
        [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]]
    assert out["metrics"]["knn.jobs"]["value"] > 0


def test_traced_spans_cover_each_op_wall(traced_match):
    record, _ = traced_match
    path = os.path.join(ROOT, ".perfbench_work", "trace", "match-seed5.json")
    with open(path) as f:
        spans = json.load(f)
    by_id = {s["id"]: s for s in spans}
    ops = {s["op"]: s for s in spans if s["layer"] == "op"}
    assert list(ops) == list(record["traced_op_times_s"])
    for name, wall in record["traced_op_times_s"].items():
        span = ops[name]
        assert span["end"] - span["start"] == pytest.approx(wall, abs=0.05), name
    for s in spans:
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]
            assert s["op"] == parent["op"]
    # calls into layers were traced inside the ops, including names that
    # matching imports by value from knn
    layers = {s["layer"] for s in spans}
    assert {"knn", "pip_join", "matching", "aggregates", "nms", "overlap", "text"} <= layers


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("match", 1, 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
