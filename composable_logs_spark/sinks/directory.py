"""Directory-tree sink (SURVEY §2.1 S6).

Reference: write_spans_to_output_directory_structure
(cli_pynb_log_parser.py:38-81): one directory per task run named
``{type}-task--{task_id}--{span_id}--{OK|FAILED}`` (task_id's ``/`` and
``.`` replaced by ``-``, :59-70) containing ``run-time-metadata.json``
plus the decoded artifact files under ``artifacts/`` (:76-81); a
top-level ``run-time-metadata.json`` describes the workflow run (:50-52).

Single-run inputs reproduce that layout EXACTLY at ``out_dir``; with
multiple runs in one span table (an extension — the reference CLI is
one-run-per-invocation) each run gets the reference layout inside its
own ``{run_id}/`` subdirectory.

Renders from the collected per-run report (``report.collect_runs``, one
collect per summary table); this module only handles the layout.
"""

from __future__ import annotations

import json
from pathlib import Path

from ..plans.summarize import SpanSummary
from .report import collect_runs, run_dir, safe_name, safe_path, write_artifact


def write_spans_to_directory(summary: SpanSummary, out_dir: str | Path) -> list[str]:
    """Write the exploded per-task directory tree; returns created paths."""
    base = Path(out_dir)
    base.mkdir(parents=True, exist_ok=True)
    created: list[str] = []
    runs = collect_runs(summary)

    for run_id, run in runs.items():
        wf = run.workflow
        rb = run_dir(base, runs, run_id)
        rb.mkdir(parents=True, exist_ok=True)
        meta = {
            "run_id": run_id,
            "duration_s": wf["duration_s"],
            "is_success": wf["is_success"],
            "attributes": wf["attributes"] or {},
        }
        p = rb / "run-time-metadata.json"
        p.write_text(json.dumps(meta, indent=2, default=str))
        created.append(str(p))

        for t in run.tasks:
            status = "OK" if t["is_success"] else "FAILED"
            dir_name = "--".join(
                [
                    f"{t['task_type'] or 'python'}-task",
                    safe_name(t["task_id"] or "unknown"),
                    t["span_id"],
                    status,
                ]
            )
            task_dir = safe_path(rb, dir_name)
            task_dir.mkdir(parents=True, exist_ok=True)
            meta = {
                "task_id": t["task_id"],
                "span_id": t["span_id"],
                "duration_s": t["duration_s"],
                "is_success": t["is_success"],
                "n_exceptions": t["n_exceptions"],
                "attributes": t["attributes"] or {},
                "logged_values": run.values.get(t["span_id"], {}),
            }
            p = task_dir / "run-time-metadata.json"
            p.write_text(json.dumps(meta, indent=2, default=str))
            created.append(str(p))

            # artifacts live under an artifacts/ subdirectory
            # (cli_pynb_log_parser.py:76-81)
            for a in run.artifacts.get(t["span_id"], []):
                created.append(str(write_artifact(task_dir / "artifacts", a)))

    return created
