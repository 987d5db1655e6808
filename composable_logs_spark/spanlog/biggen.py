"""Deterministic LARGE span-log generator — span analytics at relational
row counts, not correctness-fixture counts.

The golden fixtures (``fixtures.py``) are ~10^2 spans per scenario;
every spanlog_* gate query is proven on them. This module generates the
same span shapes at ~10^6 spans (hundreds of runs x hundreds of tasks)
so the summarisation pipeline can be BENCHED at meaningful
scale: deep dependency chains, wide fan-outs, layered diamonds, failure
plants, logged values — all counter-deterministic (same args => byte-
identical log), so benchmarks and invariant tests are reproducible.

Structure note: DAG depth here means task-DEPENDENCY depth (links),
which the summarisation never traverses iteratively; the PARENT tree
that the ownership walk follows stays ~4 deep by construction (dag-top ->
task -> guard -> call -> data) exactly as the reference emits it, so
ownership cost scales with ROWS, not DAG shape — the property the bench
exists to demonstrate.
"""

from __future__ import annotations

import json
from pathlib import Path

from .fixtures import SpanFixtureBuilder

# one file per ~this many runs => tens of JSONL files, so the Spark scan
# parallelises instead of tailing one giant file
_RUNS_PER_FILE = 16


def _one_run(run_idx: int, tasks_per_run: int) -> list[dict]:
    """One workflow run; shape cycles with run_idx."""
    b = SpanFixtureBuilder(run_idx, {"env": f"bench-{run_idx % 7}"})
    shape = run_idx % 4
    ids: list[str] = []
    for t in range(tasks_per_run):
        if shape == 0:  # deep chain
            deps = [ids[-1]] if ids else None
        elif shape == 1:  # wide fan-out from one root
            deps = [ids[0]] if ids else None
        elif shape == 2:  # layered diamond: depend on 2 of previous layer
            layer = 8
            if t < layer:
                deps = None
            else:
                prev_layer = ids[(t // layer - 1) * layer : (t // layer) * layer]
                deps = [prev_layer[t % layer], prev_layer[(t + 3) % layer]]
        else:  # mixed: counter-deterministic pseudo-random parents
            deps = (
                [ids[(t * 7919) % len(ids)], ids[(t * 104729) % len(ids)]]
                if len(ids) >= 2
                else (ids[:1] or None)
            )
        fail = (run_idx * tasks_per_run + t) % 97 == 0
        ids.append(
            b.add_task(
                f"task_{t}",
                start_s=t * 0.25,
                end_s=t * 0.25 + 0.2,
                num_cpus=1 + (t % 4),
                parameters={"p": t % 13},
                exception=("ValueError", f"boom-{t}") if fail else None,
                depends_on=deps,
                logged_values={"metric": t % 100} if t % 10 == 0 else None,
            )
        )
    return b.build()


def generate_big_spanlog(
    log_dir: str | Path, n_runs: int = 256, tasks_per_run: int = 800
) -> int:
    """Write the log as JSONL; returns the span count. Deterministic in
    (n_runs, tasks_per_run). ~4.2 spans/task + dependency spans: the
    defaults land at ~10^6 spans."""
    log_dir = Path(log_dir)
    log_dir.mkdir(parents=True, exist_ok=True)
    total = 0
    for file_no in range(0, n_runs, _RUNS_PER_FILE):
        lines: list[str] = []
        for run_idx in range(file_no, min(file_no + _RUNS_PER_FILE, n_runs)):
            spans = _one_run(run_idx, tasks_per_run)
            total += len(spans)
            lines.extend(
                json.dumps(s, separators=(",", ":"), default=str) for s in spans
            )
        path = log_dir / f"spans-big-{file_no:05d}.jsonl"
        path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return total
