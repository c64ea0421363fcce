"""Tests of the benchmark itself (not of the package it measures).

    python3 -m pytest perfbench/tests -q

The generator and report tests take seconds; ``test_traced_run_*``
starts Spark and takes about a minute and a half.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _files(root: str) -> list[str]:
    out = []
    for base, _dirs, names in os.walk(root):
        out += [os.path.relpath(os.path.join(base, n), root) for n in names]
    return sorted(out)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, man_a = gen.ensure_inputs(str(tmp_path / "a"), workload, 3)
    b, man_b = gen.ensure_inputs(str(tmp_path / "b"), workload, 3)
    c, _ = gen.ensure_inputs(str(tmp_path / "c"), workload, 4)
    assert _files(a) == _files(b) == _files(c)
    assert man_a == man_b
    same = [filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in _files(a)]
    assert all(same)
    data = [f for f in _files(a) if f != "manifest.json"]
    differ = [not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False) for f in data]
    assert all(differ)


def test_generator_reuses_its_cache(tmp_path):
    path, _ = gen.ensure_inputs(str(tmp_path), "corpus_curation", 5)
    stamp = os.path.getmtime(os.path.join(path, "manifest.json"))
    again, _ = gen.ensure_inputs(str(tmp_path), "corpus_curation", 5)
    assert again == path and os.path.getmtime(os.path.join(path, "manifest.json")) == stamp


def test_generator_plants_the_expected_effects(tmp_path):
    _path, man = gen.ensure_inputs(str(tmp_path), "corpus_curation", 6)
    exp = man["expected"]
    assert exp["minhash_pairs"] and exp["incremental_new_standing"] and exp["incremental_new_new"]
    assert exp["semantic_families"] and exp["semantic_new_dups"] and exp["junk"]
    _path, man = gen.ensure_inputs(str(tmp_path), "daily_batch", 6)
    wape = man["expected"]["wape_report"]
    # one all-zero settlement day and one zero forecast/backcast day are dropped
    assert len(wape["sheets"]["daily_portfolio_mape_ops"]) == len(wape["dates"]) - 2
    anon = man["expected"]["anonymize_folder"]
    assert 0 < anon["seeded_uids"] < anon["distinct_uids"]


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_every_reported_metric_with_its_unit():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(gen.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == tracing.per_layer_metrics()


def _fake_result(trace: bool) -> dict:
    layers = {name: 123.456789012345 for name, _unit in tracing.per_layer_metrics()}
    return {
        "walls": [12.345678901234567, 11.23456789012345],
        "first_pass_s": 27.906475964002311,
        "attempted": 3,
        "failed": 0,
        "errors": [],
        "persistent_rdds_left": 9,
        "bytes_out": 1234567,
        "input_bytes": 7654321,
        "peak_rss": 1623142400,
        "cores": 4,
        "layers": layers if trace else {},
    }


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(trace):
    lines = run.report("daily_batch", 1, trace, _fake_result(trace), [6.04, 5.86])
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    want = tracing.per_layer_metrics() if trace else list(run.END_TO_END)
    assert [(k, v["unit"]) for k, v in last["metrics"].items()] == want
    if not trace:
        for name, unit in run.END_TO_END:
            assert any(line.startswith(f"{name} ") and line.endswith(f" {unit}") for line in lines)
        assert any(line.startswith("failed_share ") for line in lines)
        assert any(line.startswith("first_pass_s ") and line.endswith(" s") for line in lines)


def test_end_to_end_tail_fits_in_2000_characters():
    lines = run.report("corpus_curation", 123456, 0, _fake_result(False), [6.04, 5.86])
    first_metric = next(i for i, line in enumerate(lines) if line.startswith("wall_s "))
    tail = "\n".join(lines[first_metric:]) + "\n"
    assert len(tail) <= 2000


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_traced_run_reports_the_layers_it_exercises(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = {
        "daily_batch": ["sources.readers", "operators.mape", "sources.sinks",
                        "operators.anonymize", "functions.labels", "functions.hashing",
                        "operators.keys"],
        "corpus_curation": ["sources.readers", "operators.text", "operators.dedup",
                            "operators.similarity", "sources.sinks"],
    }[workload]
    for layer in layers:
        assert m[f"{layer}.wall_s"] > 0 and m[f"{layer}.jobs"] > 0, layer
    assert m["session.get_spark_s"] > 0 and m["spark.jobs"] > 0
    assert 0.9 <= m["trace.layer_wall_share"] <= 1.0
    if workload == "daily_batch":
        assert m["functions.hashing.rows_in"] > 0 and m["operators.keys.new_uids"] > 0
        assert m["operators.mape.plan_s"] > 0
    else:
        assert 0 < m["operators.dedup.verified_share"] <= 1
