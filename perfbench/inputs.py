"""Seeded input generators, owned by the benchmark.

Every generator is a pure function of (seed, size): the same pair gives
byte-identical inputs. Generated files are cached under
``.work/inputs/<kind>-<size>-s<seed>`` and written through a temporary
directory and a rename, so a half-written cache entry is never reused.
The engine only ever sees the generated files.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

from harness import WORK

INPUTS = WORK / "inputs"


def cached(kind: str, size: str, seed: int, build: Callable[[Path], None]) -> Path:
    """Path of the (kind, size, seed) input; builds it on a miss."""
    final = INPUTS / f"{kind}-{size}-s{seed}"
    if final.is_dir():
        return final
    tmp = INPUTS / f".{final.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    os.replace(tmp, final)
    return final


# ---------------------------------------------------------------------------
# The lineitem table dag_run's Spark tasks aggregate (same schema and value
# domains as the engine's TPC-H-shaped test data)


def write_lineitem(out: Path, seed: int, sf: float) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    day_us = 86_400 * 1_000_000
    start_us = int(datetime.datetime(1995, 1, 2, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000

    def pick(choices: list[str]):
        return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n_lines)])

    table = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pick(["A", "N", "R"]),
        "l_linestatus": pick(["F", "O"]),
        "l_shipdate": pa.array(
            start_us + rng.integers(0, 2498, n_lines).astype(np.int64) * day_us, pa.timestamp("us")
        ),
    })
    pq.write_table(table, out / "lineitem.parquet")


# ---------------------------------------------------------------------------
# Span logs built with the engine's public SpanFixtureBuilder

SHAPES = ["chain", "fanout", "diamond", "mixed"]


@dataclass
class RunTruth:
    """What the generator planted in one workflow run."""

    run_id: str
    tasks: dict[str, bool] = field(default_factory=dict)  # task_id -> success
    n_deps: int = 0
    n_values: int = 0
    artifacts: dict[str, list[str]] = field(default_factory=dict)  # task_id -> names
    values: dict[str, dict[str, object]] = field(default_factory=dict)
    n_spans: int = 0

    @property
    def success(self) -> bool:
        return all(self.tasks.values())


def _upstreams(shape: str, i: int, rng: random.Random) -> list[int]:
    if i == 0:
        return []
    if shape == "chain":
        return [i - 1]
    if shape == "fanout":
        return [0]
    if shape == "diamond":  # 0 -> band of 4 -> join -> band of 4 -> ...
        block, pos = divmod(i - 1, 5)
        head = block * 5
        return [head] if pos < 4 else [head + 1, head + 2, head + 3, head + 4]
    return sorted(rng.sample(range(i), min(2, i)))


def build_run(run_idx: int, n_tasks: int, seed: int) -> tuple[list[dict], RunTruth]:
    """One seeded workflow run made of four sub-DAGs, one per shape, in
    a seeded order, with one failing task. Tasks downstream of it are
    skipped and emit nothing, as in the orchestrator."""
    from composable_logs_spark.spanlog.fixtures import SpanFixtureBuilder

    rng = random.Random(f"{seed}/{run_idx}")
    shapes = rng.sample(SHAPES, len(SHAPES))
    b = SpanFixtureBuilder(run_idx, {"env": "perfbench", "shapes": ",".join(shapes), "seed": seed})
    truth = RunTruth(run_id=b.trace_id)
    # one planted failure, third from the end of the chain segment: its
    # two downstream tasks are skipped, so every seed gives the same
    # number of tasks and spans
    seg = shapes.index("chain")
    fail_at = -(-(seg + 1) * n_tasks // len(shapes)) - 3
    span_of: dict[int, str] = {}
    end_of: dict[int, float] = {}
    dead: set[int] = set()
    for i in range(n_tasks):
        seg = i * len(shapes) // n_tasks
        first = -(-seg * n_tasks // len(shapes))  # first task index of the segment
        shape = shapes[seg]
        ups = [first + u for u in _upstreams(shape, i - first, rng)]
        if any(u in dead for u in ups):
            dead.add(i)
            continue
        task_id = f"{shape}-{i:04d}"
        start = max((end_of[u] for u in ups), default=0.0) + rng.uniform(0.001, 0.05)
        end = start + rng.uniform(0.01, 2.0)
        failed = i == fail_at
        values = {} if failed else {"rows": rng.randrange(10**6), "score": round(rng.random(), 6)}
        arts: dict[str, str] = {}
        if not failed and i % 7 == 0:
            arts["summary.txt"] = f"task {i} of {shape} run {run_idx}\n" * rng.randint(1, 4)
        if not failed and i == 1:
            arts["notebook.ipynb"] = json.dumps(
                {"cells": [{"cell_type": "code", "source": f"x = {i}"}], "nbformat": 4}
            )
        span_of[i] = b.add_task(
            task_id, start, end,
            task_type="jupytext" if "notebook.ipynb" in arts else "python",
            parameters={"index": i},
            exception=("ValueError", f"planted failure at {task_id}") if failed else None,
            depends_on=[span_of[u] for u in ups],
            logged_values=values,
            artifacts=arts,
        )
        end_of[i] = end
        truth.tasks[task_id] = not failed
        truth.n_deps += len(ups)
        truth.n_values += len(values)
        truth.values[task_id] = values
        if arts:
            # a logged notebook.ipynb implies a derived notebook.html
            extra = ["notebook.html"] if "notebook.ipynb" in arts else []
            truth.artifacts[task_id] = sorted(list(arts) + extra)
        if failed:
            dead.add(i)
    spans = b.build()
    truth.n_spans = len(spans)
    return spans, truth


def write_jsonl(path: Path, spans: list[dict]) -> None:
    path.write_text("".join(json.dumps(s, separators=(",", ":")) + "\n" for s in spans))
