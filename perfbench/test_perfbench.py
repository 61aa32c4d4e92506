"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q

The smoke tests run each workload end to end on tiny inputs (scale
0.001, one round), about a minute each.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from layers import layer_metrics  # noqa: E402
from metrics import Tally, percentile, tail_percentile, valid_name, valid_unit  # noqa: E402
from spans import Tracer  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize(
    "n, p",
    [(39, None), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (999, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        beyond = [v for v in range(n) if v > percentile(range(n), p)]
        assert len(beyond) >= 10


def test_percentile_is_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile(range(1, 101), 90) == 90
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("name", ["setup_s", "op_p50_s", "extensions.dedup.x.cpu_s", "9a", "a-b"])
def test_name_rule_accepts(name):
    assert valid_name(name)


@pytest.mark.parametrize("name", ["", "_a", ".a", "a b", "a/b", "a" * 65, "é"])
def test_name_rule_rejects(name):
    assert not valid_name(name)


def test_benchmark_json_follows_the_rules():
    bench = _bench()
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bench[k]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    assert all(valid_unit(m["unit"]) for k in ("end_to_end", "per_layer") for m in bench[k])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_per_layer_metrics_match_benchmark_json():
    workload = types.SimpleNamespace(name="market_analytics", round_wall=[1.0], op_latency=[0.5])
    metrics = layer_metrics(workload, Tracer("t", enabled=True), 2.0)
    declared = [(m["name"], m["unit"]) for m in _bench()["per_layer"]]
    assert [(k, u) for k, (_, u) in metrics.items()] == declared
    assert metrics["session.start_s"][0] == 2.0


def test_error_counting():
    tally = Tally()
    for kind, ok in [("a", True), ("a", True), ("b", True), ("b", True), ("b", False), ("c", True)]:
        tally.ran(kind, ok)
    assert (tally.attempted, tally.failed) == (6, 1)
    tally.wrong("b")  # both completed runs of b returned a wrong result
    assert tally.failed == 3
    assert tally.error_rate == 0.5


def test_inputs_follow_the_seed(tmp_path):
    tables = ("events", "documents")
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        datagen.generate(str(tmp_path / d), tables, seed, 0.001)
    for t in tables:
        a, b, c = ((tmp_path / d / f"{t}.parquet").read_bytes() for d in "abc")
        assert a == b and a != c


def _run(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload, trace", [("market_analytics", 1), ("corpus_curation", 0)])
def test_smoke_run(workload, trace):
    proc = _run(
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--scale", "0.001",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in _bench()[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert "error_rate 0.0000" in proc.stdout


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".*", "__pycache__"))
    proc = _run(
        "--workload", "market_analytics", "--seed", "1", "--seconds", "1", "--trace", "0",
        cwd=str(tmp_path),
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
