"""In-memory call tracer for the traced run.

The tracer replaces a public engine function by a wrapper that records
one span per call: name, start, end, parent (the innermost traced call
on the same thread, else an adopting span such as ``run_dag``, whose
tasks run on worker threads) and the Spark jobs, stages
and tasks the call ran. Jobs are attributed by giving each traced call
its own job group and reading ``statusTracker()`` when it returns; the
caller's job group is restored afterwards, so a nested call's jobs are
its own and not its parent's.

Wrappers are installed at the module that *calls* the function: a
module that did ``from x import f`` holds its own reference, so
patching ``x.f`` would miss it. ``enabled`` turns recording off without
unpatching, for the untraced half of a traced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    op: int | None = None  # index of the benchmark operation it belongs to

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []
        # an open span that adopts spans started on threads with no open
        # span of their own (run_dag's worker threads)
        self._adopter: int | None = None

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, spark_jobs: bool = True, adopt: bool = False):
        """Context manager recording one span around a block. With
        ``adopt``, spans started meanwhile on other threads that have no
        open span become its children."""
        return _SpanCtx(self, name, spark_jobs, adopt)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        spark_jobs: bool = True,
        on_return: Callable[[Any], None] | None = None,
        adopt: bool = False,
    ) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name, spark_jobs=spark_jobs, adopt=adopt):
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- derived numbers -------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span, children: list[Span] | None = None) -> float:
        """Duration minus the part of it covered by direct children."""
        if children is None:
            children = [c for c in self.spans if c.parent == span.span_id]
        kids = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def per_op(self, name: str, value: Callable[[Span], float]) -> dict[int, float]:
        """Sum of ``value`` over spans called ``name``, per operation."""
        out: dict[int, float] = {}
        for s in self.named(name):
            if s.op is not None:
                out[s.op] = out.get(s.op, 0.0) + value(s)
        return out

    def dump(self, path: Path) -> None:
        """One JSON line per span, then one line of total self time per
        span name."""
        path.parent.mkdir(parents=True, exist_ok=True)
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        self_s: dict[str, float] = {}
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
                own = self.self_time(s, children.get(s.span_id, []))
                self_s[s.name] = self_s.get(s.name, 0.0) + own
            f.write(json.dumps({"self_time_s": self_s}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, spark_jobs: bool, adopt: bool):
        self.t = tracer
        self.name = name
        self.spark_jobs = spark_jobs
        self.adopt = adopt

    def __enter__(self) -> Span:
        t = self.t
        stack = t._stack()
        parent = stack[-1] if stack else t._adopter
        self.s = Span(next(t._ids), parent, self.name, time.perf_counter(), op=t.op)
        stack.append(self.s.span_id)
        if self.adopt:
            t._adopter = self.s.span_id
        if self.spark_jobs:
            self.prev = (t.sc.getLocalProperty(_GROUP_KEY), t.sc.getLocalProperty(_DESC_KEY))
            self.group = f"perfbench-{self.s.span_id}"
            t.sc.setJobGroup(self.group, self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        t = self.t
        self.s.end = time.perf_counter()
        t._stack().pop()
        if self.adopt:
            t._adopter = None
        if self.spark_jobs:
            group, desc = self.prev
            t.sc.setLocalProperty(_GROUP_KEY, group)
            t.sc.setLocalProperty(_DESC_KEY, desc)
            st = t.sc.statusTracker()
            for job_id in st.getJobIdsForGroup(self.group):
                self.s.jobs += 1
                info = st.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    self.s.stages += 1
                    stage = st.getStageInfo(stage_id)
                    if stage is not None:
                        self.s.tasks += stage.numTasks
        with t._lock:
            t.spans.append(self.s)
