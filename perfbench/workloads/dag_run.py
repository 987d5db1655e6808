"""dag_run: the write path and live ingest, as one closed loop.

One client, one shared session. Each operation launches a seeded
layered DAG (100 tasks in 10 layers, two upstream dependencies per task,
both in the previous layer) through
``run_dag`` with ``max_cpus = nproc``; every tenth task runs a small
Spark aggregation over a seeded sf0.01 lineitem table, the rest
log two values and one small artifact. Half the runs plant one failing
task, which exercises the upstream-failure short-circuit. The shape is
regular on purpose: with one or two operations per run, a seed that put
more Spark tasks on the critical path would read as a slower engine. When
``run_dag`` returns, its span log is renamed into a directory tailed by
``streaming.ingest.stream_task_runs`` (checkpointed, ``dedup_within``),
and the operation ends when that run's ``task_runs`` have been emitted:
the latency is launch -> run visible in the live report. The next
launch waits for it.

Checked per run: Success/Failure, the number of spans in the log,
which task bodies ran (failed and skipped tasks exactly as planted),
and that the stream emitted the run once, with one row per task that
ran.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import harness
import inputs

N_TASKS = {"full": 100, "tiny": 40}
WIDTH = {"full": 10, "tiny": 5}
SPARK_EVERY = 10
DATA_SPANS_PER_TASK = 3  # two logged values + one artifact
EMIT_TIMEOUT_S = 60.0
WARM_RUNS = {"full": 2, "tiny": 1}
MIN_OPS = {"full": 5, "tiny": 3}


@dataclass
class Plan:
    """A seeded DAG shape; ``ups[i]`` are the upstream task indices."""

    ups: list[list[int]]
    spark_tasks: set[int]
    fail_at: int  # -1 for none
    downstream_of_fail: set[int] = field(default_factory=set)

    @property
    def n(self) -> int:
        return len(self.ups)


def make_plan(seed: int, run_idx: int, size: str) -> Plan:
    rng = random.Random(f"dag/{seed}/{run_idx}")
    n, width = N_TASKS[size], WIDTH[size]
    ups: list[list[int]] = []
    for i in range(n):
        layer = i // width
        if layer == 0:
            ups.append([])
            continue
        # strictly layered: the task above, plus a seeded one from the
        # same previous layer
        a = i - width
        b = rng.choice([x for x in range((layer - 1) * width, layer * width) if x != a])
        ups.append(sorted({a, b}))
    # Spark tasks at fixed places, the same number in every layer: which
    # of them fall on the critical path, and so the run time, does not
    # swing with the seed
    spark_tasks = {i for i in range(n) if i % SPARK_EVERY == 0}
    # every other run plants a failure in the next-to-last layer, so a
    # failing run skips a few tasks of the last one and run times stay
    # comparable
    fail_at = rng.randrange(n - 2 * width, n - width) if run_idx % 2 == 0 else -1
    plan = Plan(ups, spark_tasks, fail_at)
    if fail_at >= 0:
        dead = {fail_at}
        for i in range(fail_at + 1, n):
            if any(u in dead for u in ups[i]):
                dead.add(i)
        plan.downstream_of_fail = dead - {fail_at}
    return plan


def expected_spans(plan: Plan) -> int:
    """1 dag-top span + per executed task: execute-task, guard, call,
    one legacy dependency span per upstream, and the data spans (none
    for the failing task, whose body raises first)."""
    total = 1
    for i in range(plan.n):
        if i in plan.downstream_of_fail:
            continue
        total += 3 + len(plan.ups[i]) + (0 if i == plan.fail_at else DATA_SPANS_PER_TASK)
    return total


class PlantedFailure(Exception):
    pass


class Workload:
    name = "dag_run"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.runs = 0
        self.lock = threading.Lock()
        self.arrived = threading.Condition(self.lock)
        self.emitted: dict[str, list[int]] = defaultdict(list)  # run_id -> rows per emission
        self.corrupt_next = False
        self.query = None

    # -- the DAG -----------------------------------------------------------
    def _build(self, plan: Plan, marks: dict):
        from composable_logs_spark import orchestrator

        nodes = []
        for i in range(plan.n):
            nodes.append(self._node(orchestrator, i, plan, marks)(*[nodes[u] for u in plan.ups[i]]))
        has_down = {u for ups in plan.ups for u in ups}
        return [nodes[i] for i in range(plan.n) if i not in has_down]

    def _node(self, orchestrator, i: int, plan: Plan, marks: dict):
        perf = time.perf_counter
        lineitem = self.lineitem

        if i == plan.fail_at:
            def body(*_):
                marks[i] = (perf(), perf())
                raise PlantedFailure(f"planted failure at task {i}")
        elif i in plan.spark_tasks:
            def body(spark, *_):
                t0 = perf()
                n = lineitem.where(f"l_quantity > {i % 50}").groupBy("l_returnflag").count().collect()
                c = orchestrator.get_task_context()
                c.log_int("groups", len(n))
                c.log_float("t", float(i))
                c.log_artefact("groups.txt", repr(sorted(r[0] for r in n)))
                marks[i] = (t0, perf())
                return len(n)
        else:
            def body(*_):
                t0 = perf()
                c = orchestrator.get_task_context()
                c.log_int("index", i)
                c.log_float("half", i / 2)
                c.log_artefact("out.txt", f"task {i}")
                marks[i] = (t0, perf())
                return i

        return orchestrator.task(task_id=f"t{i:04d}")(body)

    # -- the stream ----------------------------------------------------------
    def on_batch(self, task_runs, batch_id: int) -> None:
        tracer = self.ctx.tracer
        if tracer is not None and tracer.enabled:
            with tracer.span("streaming.on_batch"):
                rows = task_runs.select("run_id", "task_id").collect()
        else:
            rows = task_runs.select("run_id", "task_id").collect()
        if self.corrupt_next and rows:
            self.corrupt_next = False
            rows = rows[:-1]
        per_run: dict[str, int] = defaultdict(int)
        for r in rows:
            per_run[r["run_id"]] += 1
        with self.arrived:
            for run_id, n in per_run.items():
                self.emitted[run_id].append(n)
            self.arrived.notify_all()

    def _wait_emitted(self, run_id: str) -> bool:
        end = time.perf_counter() + EMIT_TIMEOUT_S
        with self.arrived:
            while run_id not in self.emitted:
                left = end - time.perf_counter()
                if left <= 0 or self.query.exception() is not None:
                    return False
                self.arrived.wait(min(left, 0.5))
        return True

    # -- one operation -----------------------------------------------------
    def op(self, corrupt: bool = False, size: str | None = None):
        from composable_logs_spark import orchestrator

        idx = self.runs
        self.runs += 1
        if self.ctx.tracer is not None:
            self.ctx.tracer.op = idx
        plan = make_plan(self.ctx.seed, idx, size or self.ctx.size)
        marks: dict[int, tuple[float, float]] = {}
        sinks = self._build(plan, marks)
        log_dir = self.ctx.scratch / f"dag-{idx}"
        t0 = time.perf_counter()
        result = orchestrator.run_dag(
            sinks, workflow_parameters={"seed": self.ctx.seed, "run": idx},
            log_dir=log_dir, max_cpus=self.ctx.settings["cpus"], spark=self.ctx.spark,
        )
        t_dag = time.perf_counter()
        (log,) = log_dir.glob("*.jsonl")  # one writer per run_dag call
        with open(log, "rb") as f:
            run_id = json.loads(f.readline())["context"]["trace_id"]
            n_spans = 1 + sum(1 for _ in f)
        n_bytes = log.stat().st_size
        self.corrupt_next = corrupt
        t_land = time.perf_counter()
        # named by run id: the file source skips a path it has seen before
        os.replace(log, self.watch / f"{run_id}.jsonl")
        emitted = self._wait_emitted(run_id)
        t_end = time.perf_counter()
        log_dir.rmdir()

        ran = set(marks)
        want_ran = set(range(plan.n)) - plan.downstream_of_fail
        problems = []
        if result.is_failure() != (plan.fail_at >= 0):
            problems.append(f"run {idx}: {type(result).__name__}, planted failure at {plan.fail_at}")
        if n_spans != expected_spans(plan):
            problems.append(f"run {idx}: {n_spans} spans, expected {expected_spans(plan)}")
        if ran != want_ran:
            problems.append(f"run {idx}: {len(ran)} bodies ran, expected {len(want_ran)}")
        if not emitted:
            problems.append(f"run {idx}: not emitted within {EMIT_TIMEOUT_S:.0f} s")
        with self.lock:
            got = list(self.emitted.get(run_id, []))
        if emitted and got != [len(want_ran)]:
            problems.append(f"run {idx}: emitted {got} task rows, expected [{len(want_ran)}]")
        dispatch = [
            (start - max((marks[u][1] for u in plan.ups[i]), default=t0)) * 1e3
            for i, (start, _) in marks.items()
        ]
        self.last = {
            "dag_s": t_dag - t0,
            "fresh_s": t_end - t_land,
            "n_spans": n_spans,
            "n_bytes": n_bytes,
            "ran": len(ran),
            "failed": int(plan.fail_at in marks),
            "skipped": plan.n - len(ran),
            "dispatch_ms": dispatch,
            "body_s": sum(e - s for s, e in marks.values()),
            "critical_s": _critical_path(plan, marks),
        }
        # every task of the DAG is an item, whether it ran, failed or was
        # skipped: the orchestrator handles each
        return t_end - t0, plan.n, not problems, "; ".join(problems)

    # -- lifecycle -----------------------------------------------------------
    def setup(self) -> None:
        from composable_logs_spark.streaming import ingest

        data_dir = inputs.cached(
            "lineitem", "sf0.01", self.ctx.seed, lambda out: inputs.write_lineitem(out, self.ctx.seed, 0.01)
        )
        # read once and cached: a task's Spark job is the aggregation, not
        # the file listing and footer reads
        self.lineitem = self.ctx.spark.read.parquet(str(data_dir / "lineitem.parquet")).cache()
        self.lineitem.count()
        self.watch = self.ctx.scratch / "watch"
        self.watch.mkdir()
        self.query = ingest.stream_task_runs(
            self.ctx.spark, str(self.watch), self.on_batch,
            checkpoint_dir=str(self.ctx.scratch / "checkpoint"), dedup_within="48 hours",
        )
        # warm-up: the cold start (JIT, thread pool, the stream's first
        # micro-batch) and the run after it, ~2x and ~1.4x slower than
        # the ones that follow
        for _ in range(WARM_RUNS[self.ctx.size]):
            self.ctx.warm.record(*self.op())

    def measure(self, w: harness.Window, deadline: float, corrupt: bool = False,
                min_ops: int | None = None) -> list[dict]:
        per_op = []
        seen = {p["batchId"] for p in self.query.recentProgress}
        self.runs = 0  # each window runs the same seeded DAG sequence

        def one() -> None:
            w.record(*self.op(corrupt=corrupt and w.attempted == 0))
            per_op.append(self.last)

        # never fewer than five runs (three with a planted failure, two
        # without), so the median is of a fixed mix
        harness.closed_loop(deadline, one, min_ops=min_ops or MIN_OPS[self.ctx.size])
        self.progress = [
            p for p in self.query.recentProgress
            if p["batchId"] not in seen and p["numInputRows"] > 0
        ]
        if self.query.exception() is not None:
            w.fail(f"stream failed: {self.query.exception()}")
        return per_op

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None

    def trace_hooks(self, tracer) -> None:
        from composable_logs_spark import orchestrator
        from composable_logs_spark.plans import summarize
        from composable_logs_spark.spanlog.writer import SpanWriter

        # neither runs Spark jobs of its own; task bodies tag theirs
        tracer.wrap(orchestrator, "run_dag", "orchestrator.run_dag", spark_jobs=False, adopt=True)
        tracer.wrap(SpanWriter, "write", "spanlog.write", spark_jobs=False)
        # stream_task_runs imports summarize_spans when it is called, so
        # these must be in place before setup starts the stream
        tracer.wrap(summarize, "summarize_spans", "plans.summarize_spans")
        tracer.wrap(summarize, "descendants", "operators.closure")

    def layers(self, tracer, per_op: list[dict]) -> dict[str, float]:
        med = harness.median
        dispatch = [d for o in per_op for d in o["dispatch_ms"]]
        writes = tracer.per_op("spanlog.write", lambda s: 1.0)
        write_s = tracer.per_op("spanlog.write", lambda s: s.dur)
        summ = tracer.named("plans.summarize_spans")
        closure = tracer.named("operators.closure")
        batch_s = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in self.progress]
        return {
            "orchestrator.run_dag_s": med([s.dur for s in tracer.named("orchestrator.run_dag")]),
            "orchestrator.body_s": med([o["body_s"] for o in per_op]),
            "orchestrator.overhead_share": med([1 - o["critical_s"] / o["dag_s"] for o in per_op]),
            "orchestrator.tasks_failed": sum(o["failed"] for o in per_op),
            "orchestrator.tasks_skipped": sum(o["skipped"] for o in per_op),
            "orchestrator.dispatch_ms.p50": harness.pct(dispatch, 50),
            "orchestrator.dispatch_ms.p99": harness.pct(dispatch, 99),
            "spanlog.write_calls": med(list(writes.values())),
            "spanlog.spans_written": med([o["n_spans"] for o in per_op]),
            "spanlog.bytes_written": med([o["n_bytes"] for o in per_op]),
            "spanlog.write_s": med(list(write_s.values())),
            "spanlog.spans_per_task": med([o["n_spans"] / o["ran"] for o in per_op]),
            "streaming.fresh_s.p50": med([o["fresh_s"] for o in per_op]),
            "streaming.batches": float(len(self.progress)),
            "streaming.batch_s.p50": med(batch_s),
            "streaming.rows_per_batch": med([p["numInputRows"] for p in self.progress]),
            "streaming.on_batch_s": med([s.dur for s in tracer.named("streaming.on_batch")]),
            "plans.summarize_build_s": med([s.dur for s in summ]),
            "plans.spark_jobs": med([s.jobs for s in summ]),
            "plans.spark_tasks": med([s.tasks for s in summ]),
            "operators.closure_s": med([s.dur for s in closure]),
            "operators.closure_jobs": med([s.jobs for s in closure]),
        }


def _critical_path(plan: Plan, marks: dict) -> float:
    """Longest upstream chain of body durations."""
    best: dict[int, float] = {}
    for i in range(plan.n):
        if i not in marks:
            continue
        s, e = marks[i]
        best[i] = (e - s) + max((best.get(u, 0.0) for u in plan.ups[i]), default=0.0)
    return max(best.values(), default=0.0)
