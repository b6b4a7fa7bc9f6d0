"""Self-tests of the benchmark at tiny scale (sf0.001, one copy of the
vehicle sheet). Each Spark test starts the benchmark as a subprocess, the
way the benchmark is run, so the whole file takes a few minutes:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _bench(cwd: str, workload: str, trace: int, seed: int = 1) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_passes_gates_and_prints_end_to_end_metrics(workload):
    res = _result(_bench(ROOT, workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    proc = _bench(ROOT, workload, 1)
    res = _result(proc)
    assert res["correct"] is True
    spec = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == spec
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.get_spark_s"] > 0 and m["spark.stages"] > 0
    assert "self_s" in proc.stdout  # the span table with self times
    if workload == "vehicle_etl":
        assert m["sources.excel.ingest_rows"] == m["operators.cleaning.ffill_rows"] > 0
        assert 0 < m["functions.headers.hit_ratio"] < 1  # novel headers miss
        assert m["operators.fuzzy.pairs_scored"] == 29 * m["operators.fuzzy.names_scored"]
        assert m["plans.vehicle_pipeline.derive_s"] > 0
        assert "fixture summary ok" in proc.stdout
    elif workload == "dashboard_mix":
        queries = [k for k in spec if k.startswith("plans.") and "vehicle" not in k]
        assert all(m[q] > 0 for q in queries) and len(queries) == 7
        assert m["session.load_table_calls"] >= len(queries)
    else:
        assert m["operators.dedup.candidate_pairs"] > 0
        assert 0 < m["operators.dedup.verified_ratio"] <= 1


def test_refuses_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p)
    proc = _bench(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_inputs_follow_the_seed():
    a, b = datagen.star_frames(0.001, 7), datagen.star_frames(0.001, 7)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.star_frames(0.001, 8)["lineitem"])
    c, d = datagen.corpus_frames(0.001, 7), datagen.corpus_frames(0.001, 7)
    assert c["documents"].equals(d["documents"])
    assert all((x == y).all() for x, y in zip(c["embeddings"].embedding, d["embeddings"].embedding))
    v1, v2 = datagen.messy_vehicle_frame(1, 7), datagen.messy_vehicle_frame(1, 7)
    assert v1.frame.equals(v2.frame) and v1.catalog == v2.catalog
    assert v1.body_rows == 7569 and 1000 <= v1.distinct_importers <= 2000


def test_tail_percentile_leaves_ten_samples_beyond():
    assert run.tail_percentile([float(i) for i in range(1, 101)]) == (90, 90.0)
    assert run.tail_percentile([1.0, 2.0, 3.0]) == (50, 2.0)


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("parent"):
        with t.span("child"):
            pass
    parent, child = t.spans
    assert abs(t.self_time(0) - (parent.duration - child.duration)) < 1e-9
