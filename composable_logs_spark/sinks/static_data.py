"""Static-site dataset sink (SURVEY §2.1 S7).

Reference: cli_generate_static_data.py:75-201 — union the workflow entry
and task entries of every run into one ``static_data.json`` under a
www-root, plus per-span artifact directories.

Renders from the collected per-run report (``report.collect_runs``, one
collect per summary table): the workflow ∪ task entry list (U3) is built
in plain Python, and each run's mermaid artifacts reuse the S9 generators
over the same report.
"""

from __future__ import annotations

import json
from pathlib import Path

from ..plans.summarize import SpanSummary
from .mermaid import make_mermaid_dag, make_mermaid_gantt
from .report import collect_runs, run_dir, safe_path, write_artifact


def write_static_data(summary: SpanSummary, www_root: str | Path) -> Path:
    """Reference-layout www-root (cli_generate_static_data.py:75-175):
    per-workflow reporting artifacts under ``artifacts/workflow/{span}/``
    (dag.mmd + dag-nolinks.mmd + gantt.mmd + run-time-metadata.json),
    per-task logged artifacts + metadata under ``artifacts/task/{span}/``,
    and one ``static_data.json`` whose entries carry type /
    parent_span_id links and artifact name lists. Multi-run span tables
    (an extension; reference is one run per invocation, and span ids
    are only unique per run) nest each run's artifacts under a run_id
    subdirectory."""
    root = Path(www_root)
    root.mkdir(parents=True, exist_ok=True)
    runs = collect_runs(summary)

    wf_entries, task_entries = [], []
    for run_id, run in runs.items():
        wf = run.workflow
        base = run_dir(root, runs, run_id)
        adir = safe_path(base, "artifacts", "workflow", wf["span_id"])
        adir.mkdir(parents=True, exist_ok=True)
        (adir / "dag.mmd").write_text(make_mermaid_dag(run, generate_links=True))
        (adir / "dag-nolinks.mmd").write_text(make_mermaid_dag(run, generate_links=False))
        (adir / "gantt.mmd").write_text(make_mermaid_gantt(run))
        (adir / "run-time-metadata.json").write_text(
            _metadata(wf, "run_id", "span_id", "duration_s", "is_success")
        )
        names = ["dag.mmd", "dag-nolinks.mmd", "gantt.mmd", "run-time-metadata.json"]
        wf_entries.append(_entry("workflow", wf, None, names))

        for t in run.tasks:
            adir = safe_path(base, "artifacts", "task", t["span_id"])
            adir.mkdir(parents=True, exist_ok=True)
            names = [write_artifact(adir, a).name for a in run.artifacts.get(t["span_id"], [])]
            (adir / "run-time-metadata.json").write_text(
                _metadata(t, "run_id", "span_id", "task_id", "duration_s", "is_success")
            )
            names.append("run-time-metadata.json")
            entry = _entry("task", t, wf["span_id"], names)
            entry["logged_values"] = run.values.get(t["span_id"], {})
            task_entries.append(entry)

    out = root / "static_data.json"
    out.write_text(json.dumps(wf_entries + task_entries, indent=2))
    return out


def _metadata(row: dict, *keys: str) -> str:
    meta = {k: row[k] for k in keys}
    meta["attributes"] = dict(row["attributes"] or {})
    return json.dumps(meta, indent=2)


def _entry(kind: str, row: dict, parent_span_id: str | None, artifacts: list[str]) -> dict:
    return {
        "entry_type": kind,
        "type": kind,
        "parent_span_id": parent_span_id,
        "run_id": row["run_id"],
        "span_id": row["span_id"],
        "task_id": row.get("task_id"),
        "task_type": row.get("task_type"),
        "start_time": str(row["start_time"]),
        "end_time": str(row["end_time"]),
        "duration_s": row["duration_s"],
        "is_success": row["is_success"],
        "attributes": dict(row["attributes"] or {}),
        "artifacts": artifacts,
    }
