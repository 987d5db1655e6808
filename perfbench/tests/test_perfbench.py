"""The benchmark's own tests: every workload at a tiny size, run
through BENCHMARK.json's command, plus the pieces that need no Spark.

    python3 -m pytest perfbench/tests -q

Each workload runs twice in a subprocess (~1 min each on a 4-core
box): traced and clean, where every per-layer metric must be printed
with its unit; and untraced with ``--corrupt``, where every end-to-end
metric must still be printed and the tampered output must be counted
as a failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path[:0] = [str(BENCH)]


def run(*args: str, cwd: Path = ROOT) -> tuple[int, dict | None, str]:
    cmd = SPEC["command"] + list(args)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    return p.returncode, result, p.stderr


def units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_every_per_layer_metric(workload):
    rc, result, err = run("--workload", workload, "--seed", "5", "--seconds", "2",
                          "--trace", "1", "--size", "tiny")
    assert rc == 0, err[-3000:]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units("per_layer")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_corrupted_output_is_counted_as_failure(workload):
    rc, result, err = run("--workload", workload, "--seed", "6", "--seconds", "2",
                          "--trace", "0", "--size", "tiny", "--corrupt")
    assert rc == 1, err[-3000:]
    assert result["correct"] is False
    assert 1 <= result["failed"] <= result["attempted"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units("end_to_end")
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "WRONG OUTPUT" in err


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    rc, result, err = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                          "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert rc != 0 and result is None


def test_spec_is_consistent():
    record = json.loads((BENCH / "workloads.json").read_text())
    assert set(record["workloads"]) == {w["name"] for w in SPEC["workloads"]}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def test_percentile_and_self_time():
    import harness
    from tracer import Span, Tracer

    assert harness.pct([], 50) == 0.0
    assert harness.pct([3.0], 99) == 3.0
    assert harness.pct([1.0, 2.0, 3.0, 4.0], 50) == 2.5

    t = Tracer.__new__(Tracer)
    t.spans = [
        Span(1, None, "outer", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 4.0),
        Span(3, 1, "b", 3.0, 6.0),  # overlaps a: covered once
        Span(4, 1, "c", 8.0, 12.0),  # clipped at the parent's end
        Span(5, 2, "grandchild", 1.0, 2.0),  # not a direct child
    ]
    assert t.self_time(t.spans[0]) == pytest.approx(10.0 - 5.0 - 2.0)


def test_inputs_are_a_function_of_the_seed():
    import inputs

    a, ta = inputs.build_run(3, 40, seed=9)
    b, tb = inputs.build_run(3, 40, seed=9)
    c, _ = inputs.build_run(3, 40, seed=10)
    assert a == b and ta == tb
    assert a != c
    assert set(t.split("-")[0] for t in ta.tasks) == set(inputs.SHAPES)
