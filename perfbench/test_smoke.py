"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

Runs the benchmark at ``--size tiny`` and checks that every metric named
in BENCHMARK.json prints with its unit, that the output checks pass on
correct outputs and report a failure on a deliberately corrupted one,
and that the benchmark refuses to run without the program's sources.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT))


def run_bench(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
         *args], cwd=cwd, capture_output=True, text=True, timeout=timeout)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(result, group) -> None:
    want = {m["name"]: m["unit"] for m in SPEC[group]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit
        assert isinstance(got[name]["value"], (int, float))


def test_tracer_self_time_excludes_children():
    from perfbench.trace import Tracer

    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            sum(range(200_000))
    assert tr.total_s["outer"] >= tr.total_s["inner"] > 0
    assert tr.self_s["outer"] == pytest.approx(
        tr.total_s["outer"] - tr.total_s["inner"])
    assert [s["parent"] for s in tr.records()] == [-1, 0]


def test_layer_map_covers_every_per_layer_metric():
    layer_map = json.loads((ROOT / "perfbench" / "layer_map.json").read_text())
    assert set(layer_map["metrics"]) == {m["name"] for m in SPEC["per_layer"]}


def test_end_to_end_metrics_and_corruption_is_caught():
    ok = result_of(run_bench("--workload", "discourse_zipf", "--trace", "0",
                             "--size", "tiny"))
    assert_metrics(ok, "end_to_end")
    assert ok["correct"] and ok["failed"] == 0 and ok["attempted"] >= 1

    bad = result_of(run_bench("--workload", "seed_zipf", "--trace", "0",
                              "--size", "tiny", "--corrupt"))
    assert_metrics(bad, "end_to_end")
    assert not bad["correct"] and bad["failed"] >= 1


def test_per_layer_metrics_and_the_checkpointed_path():
    res = result_of(run_bench("--workload", "seed_zipf", "--trace", "1",
                              "--size", "tiny"))
    assert_metrics(res, "per_layer")
    assert res["correct"] and res["failed"] == 0
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["pipeline.checkpoint.parts_committed"] > 0
    assert m["pipeline.graph.files_written"] > 0
    assert m["trace.attributed_share"] >= 0.9


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("--workload", "seed_zipf", cwd=tmp_path, timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
