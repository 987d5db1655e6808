"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints diagnostics on stderr and, as
the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits 1 when any output was wrong, 2 when the engine is
not there to measure.

``--trace 1`` measures the first half of the window untraced and the
second half with every layer call recorded; the per-layer numbers come
from the traced half, and ``trace.overhead_share`` is the traced
median operation time over the untraced one, minus one. The spans are
written to ``perfbench/.work/traces/``.

``--size tiny`` and ``--corrupt`` (tamper with the first measured
output) exist for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["dag_run", "span_report", "query_mix", "live_ingest"]


@dataclass
class Context:
    spark: Any
    seed: int
    size: str
    settings: dict
    scratch: Path
    warm: Any  # harness.Window of the set-up operations
    tracer: Any = None


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not (ROOT / "composable_logs_spark" / "__init__.py").is_file():
        print(f"engine package composable_logs_spark not found under {ROOT}", file=sys.stderr)
        return 2
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)

    import harness

    settings = harness.pin_environment()
    workload = importlib.import_module(f"workloads.{args.workload}")
    scratch = harness.WORK / f"run-{args.workload}-{args.seed}-{time.time_ns()}"
    scratch.mkdir(parents=True)
    spark, session_s = harness.start_session(settings)
    ctx = Context(spark, args.seed, args.size, settings, scratch, harness.Window())
    wl = workload.Workload(ctx)
    try:
        if args.trace:
            from tracer import Tracer

            ctx.tracer = Tracer(spark)
            wl.trace_hooks(ctx.tracer)
        t0 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start

        if not args.trace:
            w = harness.Window()
            wl.measure(w, time.perf_counter() + args.seconds, corrupt=args.corrupt)
            metrics = harness.end_to_end(setup_s, w)
            windows = [w]
        else:
            plain, traced = harness.Window(), harness.Window()
            # one operation at least per half, so a traced run costs about
            # what an untraced one does
            wl.measure(plain, time.perf_counter() + args.seconds / 2, corrupt=args.corrupt, min_ops=1)
            ctx.tracer.enabled = True
            per_op = wl.measure(traced, time.perf_counter() + args.seconds / 2, min_ops=1)
            ctx.tracer.enabled = False
            metrics = {m["name"]: 0.0 for m in harness.load_spec()["per_layer"]}
            metrics.update(wl.layers(ctx.tracer, per_op))
            metrics["session.start_s"] = session_s
            metrics["session.warmup_s"] = warmup_s
            base = harness.median(plain.latencies_s)
            metrics["trace.overhead_share"] = (
                harness.median(traced.latencies_s) / base - 1.0 if base > 0 else 0.0
            )
            ctx.tracer.dump(harness.WORK / "traces" / f"{args.workload}-s{args.seed}.jsonl")
            windows = [plain, traced]
    finally:
        wl.close()
        if ctx.tracer is not None:
            ctx.tracer.unpatch()
        harness.stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    windows.append(ctx.warm)
    attempted = sum(w.attempted for w in windows)
    failed = sum(w.failed for w in windows)
    for w in windows:
        for why in w.failures:
            print(f"WRONG OUTPUT: {why}", file=sys.stderr)
    print("settings: " + json.dumps(settings), file=sys.stderr)
    harness.emit(failed == 0, attempted, failed, metrics)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
