"""Collected per-run report shared by every span-log sink (S6-S9, F6).

The directory tree, the static site and the mermaid files all render
from one small per-run summary. ``collect_runs`` is the only sink code
that touches Spark: one ``collect()`` per summary table, rows grouped
per run in plain Python. A reporting tree is small by construction (one
workflow's tasks, values and artifacts), as in the reference CLIs; for
bulk export of MANY runs use ``df.write.partitionBy("run_id")`` on the
summary tables instead.

Path safety (F6, cli_pynb_log_parser.py:25-28): span ids, task ids and
artifact names come from span-log data, so every path built from them
goes through ``safe_path``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

from ..functions.notebooks import ipynb_to_html
from ..plans.summarize import SpanSummary


@dataclass
class RunReport:
    """One workflow run as plain Python rows (dicts keyed by column)."""

    workflow: dict
    tasks: list[dict] = field(default_factory=list)  # by (start_time, span_id)
    deps: list[dict] = field(default_factory=list)
    artifacts: dict[str, list[dict]] = field(default_factory=dict)  # per task span_id
    values: dict[str, dict] = field(default_factory=dict)  # task span_id -> {name: value}


def collect_runs(summary: SpanSummary) -> dict[str, RunReport]:
    """One collect() per summary table, grouped by run_id (in
    workflow_runs collect order)."""
    runs = {r["run_id"]: RunReport(r.asDict()) for r in summary.workflow_runs.collect()}
    for r in summary.task_runs.collect():
        runs[r["run_id"]].tasks.append(r.asDict())
    for r in summary.deps.collect():
        runs[r["run_id"]].deps.append(r.asDict())
    for r in summary.artifacts.collect():
        runs[r["run_id"]].artifacts.setdefault(r["task_span_id"], []).append(r.asDict())
    for r in summary.logged_values.collect():
        runs[r["run_id"]].values.setdefault(r["task_span_id"], {})[r["name"]] = _value_of(r)
    for run in runs.values():
        # null start times first, as Spark's orderBy puts them
        run.tasks.sort(key=lambda t: (t["start_time"] is not None, t["start_time"], t["span_id"]))
    return runs


def _value_of(v) -> object:
    for k in ("value_str", "value_long", "value_double", "value_bool", "value_json"):
        if v[k] is not None:
            return v[k]
    return None


def safe_name(s: str) -> str:
    """Path-safety (reference F6, cli_pynb_log_parser.py:25-28 + dir-name
    building :59-70): ``/`` and ``.`` become ``-``, as the reference's
    ``task_dir`` builder does."""
    return re.sub(r"[/.]", "-", s)


def _safe_artifact_name(s: str) -> str:
    """Artifact FILE names keep their extension dots but must not carry
    separators or traversal components — names come from span-log data."""
    s = s.replace("\\", "_").replace("/", "_")
    return "_" if s in (".", "..") else s


def safe_path(base: Path, *parts: str) -> Path:
    # is_relative_to, not str.startswith: a prefix check lets '../out2'
    # escape to a sibling directory that shares the base's name prefix
    # (/tmp/out -> /tmp/out2)
    out = base.joinpath(*parts).resolve()
    if not out.is_relative_to(base.resolve()):
        raise ValueError(f"unsafe path escape: {parts}")
    return out


def run_dir(base: Path, runs: dict[str, RunReport], run_id: str) -> Path:
    """A single run gets the reference layout directly at ``base``; with
    several runs in one span table (an extension — the reference CLIs
    are one run per invocation, and span ids are only unique per run)
    each run nests under its own subdirectory."""
    return base if len(runs) == 1 else safe_path(base, safe_name(run_id))


def write_artifact(directory: Path, artifact: dict) -> Path:
    """Write one decoded artifact blob into ``directory``."""
    path = safe_path(directory, _safe_artifact_name(artifact["name"]))
    path.parent.mkdir(parents=True, exist_ok=True)
    content = bytes(artifact["content"])
    if artifact["name"] == "notebook.html":
        # the summary's derived notebook.html row carries the source
        # ipynb (plans/summarize.py); C14 converts it here
        try:
            content = ipynb_to_html(json.loads(content)).encode()
        except ValueError:  # not a notebook: an HTML file logged under that name
            pass
    path.write_bytes(content)
    return path
