"""span_report: a closed loop over the ``generate-static-data`` path.

Each pass is what ``cli generate-static-data`` does: ``read_span_jsonl``
-> ``summarize_spans`` -> ``write_static_data`` into a fresh www root,
starting from a cold cache. The input is a seeded JSONL log built once
in setup with ``SpanFixtureBuilder`` (one workflow run of 40 tasks; two
runs, so span ids collide across runs, at the tests' tiny size). Each run
is a chain, a fan-out, a diamond and a mixed sub-DAG, with a planted
failure, logged values and artifacts (one ``notebook.ipynb``). One
checked warm-up pass comes first; then at least two measured passes,
whose median is reported.

Checked, untimed: the warm-up pass against what the generator planted,
and against the pins kept for this (seed, size) next to the cached
input: ``summaries_digest`` plus a ``multiset_digest`` of ``artifacts``
and a canonical hash of ``static_data.json``. Every measured pass must
reproduce the ``static_data.json`` hash; the digests (five more Spark
jobs) are taken again only in the traced half, where they time each
table's materialisation.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time

import harness
import inputs

SIZES = {"full": (1, 40), "tiny": (2, 12)}  # (runs, tasks per run)
MIN_OPS = {"full": 2, "tiny": 1}
TABLES = ["task_runs", "workflow_runs", "deps", "logged_values", "artifacts"]


def site_hash(www) -> tuple[str, list]:
    entries = json.loads((www / "static_data.json").read_text())
    entries.sort(key=lambda e: (e["run_id"], e["entry_type"], e["task_id"] or ""))
    blob = json.dumps(entries, sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(blob.encode()).hexdigest(), entries


def check_against_truth(truths: list[inputs.RunTruth], digests: dict, entries: list) -> list[str]:
    """The warm-up output, against what the generator planted."""
    want = {
        "task_runs": sum(len(t.tasks) for t in truths),
        "workflow_runs": len(truths),
        "deps": sum(t.n_deps for t in truths),
        "logged_values": sum(t.n_values for t in truths),
        "artifacts": sum(len(a) for t in truths for a in t.artifacts.values()),
    }
    problems = [
        f"{k}: {digests[k][0]} rows, expected {n}" for k, n in want.items() if digests[k][0] != n
    ]
    by_run = {t.run_id: t for t in truths}
    seen = 0
    for e in entries:
        t = by_run.get(e["run_id"])
        if t is None:
            problems.append(f"unknown run {e['run_id']}")
            continue
        if e["entry_type"] == "workflow":
            ok = e["is_success"] == t.success
            seen += 1
        else:
            tid = e["task_id"]
            vals = e.get("logged_values") or {}
            want_vals = t.values.get(tid, {})
            ok = (
                tid in t.tasks
                and e["is_success"] == t.tasks[tid]
                and sorted(e["artifacts"]) == sorted(t.artifacts.get(tid, []) + ["run-time-metadata.json"])
                and vals.keys() == want_vals.keys()
                and all(math.isclose(float(vals[k]), float(v)) for k, v in want_vals.items())
            )
            seen += 1
        if not ok:
            problems.append(f"entry {e['entry_type']} {e.get('task_id')} of {e['run_id']} differs")
    if seen != want["task_runs"] + want["workflow_runs"]:
        problems.append(f"{seen} static_data entries, expected {want['task_runs'] + want['workflow_runs']}")
    return problems


class Workload:
    name = "span_report"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.passes = 0
        self.closures: list = []  # closure DataFrames seen by the tracer
        self.closure_rows: list[int] = []

    def setup(self) -> None:
        runs, tasks = SIZES[self.ctx.size]
        built = [inputs.build_run(r, tasks, self.ctx.seed) for r in range(runs)]
        truths = [t for _, t in built]
        self.dir = inputs.cached(
            "spanlog", f"{runs}x{tasks}", self.ctx.seed,
            lambda out: inputs.write_jsonl(out / "spans.jsonl", [s for spans, _ in built for s in spans]),
        )
        self.log = self.dir / "spans.jsonl"
        self.n_spans = sum(t.n_spans for t in truths)
        self.n_runs = runs
        pin_file = self.dir / "pin.json"

        lat, out = self._pass()
        problems = check_against_truth(truths, out["digests"], out["entries"])
        pin = {"digests": out["digests"], "site": out["site"]}
        if pin_file.exists():
            if json.loads(pin_file.read_text()) != pin:
                problems.append("warm-up output differs from the pin kept for this seed and size")
        elif not problems:
            pin_file.write_text(json.dumps(pin))
        self.pin = pin
        self.ctx.warm.record(lat, self.n_spans, not problems, "; ".join(problems))
        self.passes = 0

    def _check(self, w: harness.Window, lat: float, out: dict) -> None:
        problems = [k for k, v in out["digests"].items() if v != self.pin["digests"][k]]
        if out["site"] != self.pin["site"]:
            problems.append("static_data.json")
        w.record(lat, self.n_spans, not problems, "differs from pin: " + ", ".join(problems))

    def _pass(self, corrupt: bool = False, digests: bool = True):
        from composable_logs_spark import plans, sinks, spanlog
        from composable_logs_spark.spanlog.digest import multiset_digest, summaries_digest

        spark, tracer = self.ctx.spark, self.ctx.tracer
        spark.catalog.clearCache()
        www = self.ctx.scratch / f"www-{self.passes}"
        self.passes += 1
        t0 = time.perf_counter()
        summary = plans.summarize_spans(spanlog.read_span_jsonl(spark, str(self.log)))
        sinks.write_static_data(summary, www)
        lat = time.perf_counter() - t0

        if corrupt:
            p = www / "static_data.json"
            entries = json.loads(p.read_text())
            p.write_text(json.dumps(entries[:-1]))
        tables = {t: getattr(summary, t) for t in TABLES}
        found = {}
        if tracer is not None and tracer.enabled:
            if digests:
                for t in TABLES:
                    with tracer.span(f"plans.materialize.{t}"):
                        found[t] = multiset_digest(tables[t])
            with tracer.span("spanlog.scan"):
                spanlog.read_span_jsonl(spark, str(self.log)).write.format("noop").mode("overwrite").save()
            self.closure_rows = [c.count() for c in self.closures]
            self.closures.clear()
        elif digests:
            found = dict(summaries_digest(summary), artifacts=multiset_digest(tables["artifacts"]))
        h, entries = site_hash(www)
        files = [os.path.join(d, f) for d, _, fs in os.walk(www) for f in fs]
        self.site_files = len(files)
        self.site_bytes = sum(os.path.getsize(f) for f in files)
        shutil.rmtree(www, ignore_errors=True)
        return lat, {"digests": {k: list(v) for k, v in found.items()}, "site": h, "entries": entries}

    def measure(self, w: harness.Window, deadline: float, corrupt: bool = False,
                min_ops: int | None = None) -> list[dict]:
        per_op = []

        def one() -> None:
            if self.ctx.tracer is not None:
                self.ctx.tracer.op = self.passes
            traced = self.ctx.tracer is not None and self.ctx.tracer.enabled
            self._check(w, *self._pass(corrupt=corrupt and w.attempted == 0, digests=traced))
            per_op.append({
                "files": self.site_files,
                "bytes": self.site_bytes,
                "closure_rows": self.closure_rows,
            })

        # at least two passes, so one slowed by the host sets half the result, not all of it
        harness.closed_loop(deadline, one, min_ops=min_ops or MIN_OPS[self.ctx.size])
        return per_op

    def close(self) -> None:
        pass

    def trace_hooks(self, tracer) -> None:
        """Wrap each layer at the module that calls it."""
        from composable_logs_spark import plans, sinks
        from composable_logs_spark.plans import summarize
        from composable_logs_spark.sinks import static_data

        tracer.wrap(plans, "summarize_spans", "plans.summarize_spans")
        tracer.wrap(summarize, "descendants", "operators.closure", on_return=self.closures.append)
        tracer.wrap(sinks, "write_static_data", "sinks.write_static_data")
        tracer.wrap(static_data, "make_mermaid_dag", "sinks.mermaid")
        tracer.wrap(static_data, "make_mermaid_gantt", "sinks.mermaid")

    def layers(self, tracer, per_op: list[dict]) -> dict[str, float]:
        med = harness.median

        def op_med(name: str, value=lambda s: s.dur) -> float:
            return med(list(tracer.per_op(name, value).values()))

        def jobs(prefixes: tuple[str, ...], what: str) -> list[float]:
            out: dict[int, float] = {}
            for s in tracer.spans:
                if s.op is not None and s.name.startswith(prefixes):
                    out[s.op] = out.get(s.op, 0.0) + getattr(s, what)
            return list(out.values())

        sink_jobs = jobs(("sinks.",), "jobs")
        m = {
            "spanlog.read_s": op_med("spanlog.scan"),
            "spanlog.bytes_read": float(self.log.stat().st_size),
            "operators.closure_s": op_med("operators.closure"),
            "operators.closure_jobs": op_med("operators.closure", lambda s: s.jobs),
            "operators.closure_rows": med([sum(o["closure_rows"]) for o in per_op]),
            "plans.summarize_build_s": op_med("plans.summarize_spans"),
            "plans.spark_jobs": med(jobs(("plans.",), "jobs")),
            "plans.spark_tasks": med(jobs(("plans.",), "tasks")),
            "sinks.static_data_s": op_med("sinks.write_static_data"),
            "sinks.spark_jobs": med(sink_jobs),
            "sinks.jobs_per_run": med(sink_jobs) / self.n_runs,
            "sinks.files_written": med([o["files"] for o in per_op]),
            "sinks.bytes_written": med([o["bytes"] for o in per_op]),
        }
        for t in TABLES:
            m[f"plans.materialize_s.{t}"] = op_med(f"plans.materialize.{t}")
        return m
