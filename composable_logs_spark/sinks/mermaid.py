"""Mermaid DAG / Gantt text generation (SURVEY §2.1 S9).

Golden-parity with the reference generators (mermaid_graphs.py:49-114
dag, :117-161 gantt; cli_pynb_log_parser.py:126-146): same comment
banner, ``TASK_SPAN_ID_{span_id}`` node ids, ``<a href=...>`` task
links with ``task.*`` attribute lines, ``generate_links`` flag, gantt
sections per task with unix-epoch-second timestamps and ``dateFormat
x``. Pure functions over one collected ``RunReport``
(``report.collect_runs``): they start no Spark job — the heavy lifting
(summarisation) already happened distributed.
"""

from __future__ import annotations

import datetime

from .report import RunReport


def render_seconds(seconds: float) -> str:
    """'1m 20s' style rendering (reference mermaid_graphs.py:9-22)."""
    if seconds <= 60:
        return f"{round(seconds, 2)}s"
    dt = datetime.timedelta(seconds=seconds)
    return (
        (str(dt).replace(":", "h ", 1).replace(":", "m ", 1)[:-4] + "s")
        .replace("0h ", "")
        .replace("00m ", "")
    )


def _make_header(task_id: str, task_type: str) -> str:
    """'ingest (Python task)' (reference mermaid_graphs.py:40-46)."""
    return f"{task_id} ({(task_type or 'python').capitalize()} task)"


def _make_link_to_task_run(attributes: dict, task_id: str, span_id: str) -> str:
    """Reference mermaid_graphs.py:25-38: GitHub-Pages host when the
    workflow carries a repository attribute, else relative."""
    repo = (attributes or {}).get("workflow.github.repository")
    if repo and "/" in repo:
        repo_owner, repo_name = repo.split("/", 1)
        host = f"https://{repo_owner}.github.io/{repo_name}"
    else:
        host = "."
    return f"{host}/#/experiments/{task_id}/runs/{span_id}"


def make_mermaid_dag(run: RunReport, generate_links: bool = True) -> str:
    """Render one run's task DAG as mermaid 'graph LR' input-file text
    (reference mermaid_graphs.py:49-114)."""
    span_ids = {t["span_id"] for t in run.tasks}
    lines = [
        "graph LR",
        "    %% Mermaid input file for drawing task dependencies ",
        "    %% See https://mermaid-js.github.io/mermaid",
        "    %%",
    ]
    for t in run.tasks:
        attrs = dict(t["attributes"] or {})
        desc = _make_header(t["task_id"], t["task_type"])
        if not t["is_success"]:
            desc += " ❌"
        attr_lines = sorted(
            f"{k}={v}"
            for k, v in attrs.items()
            if k.startswith("task.") and k != "task.type"
        )
        if generate_links:
            url = _make_link_to_task_run(attrs, t["task_id"], t["span_id"])
            link_html_text = f"<b>{desc} 🔗</b> <br />" + "<br />".join(attr_lines)
            label = (
                f"<a href='{url}' style='text-decoration: none; color: black;'>"
                f"{link_html_text}"
                f"</a>"
            )
        else:
            label = desc
        lines.append(f'    TASK_SPAN_ID_{t["span_id"]}["{label}"]')
    for d in run.deps:
        if d["from_span_id"] in span_ids and d["to_span_id"] in span_ids:
            lines.append(
                f'    TASK_SPAN_ID_{d["from_span_id"]} --> TASK_SPAN_ID_{d["to_span_id"]}'
            )
    return "\n".join(lines) + "\n"


def make_mermaid_gantt(run: RunReport) -> str:
    """Render one run's tasks as a mermaid gantt input file
    (reference mermaid_graphs.py:117-161): one section per task,
    unix-epoch-second timestamps with ``dateFormat x``."""
    lines = [
        "gantt",
        "    %% Mermaid input file for drawing Gantt chart of runlog runtimes",
        "    %% See https://mermaid-js.github.io/mermaid/#/gantt",
        "    %%",
        "    axisFormat %H:%M",
        "    %%",
        "    %% Give timestamps as unix timestamps (ms)",
        "    dateFormat x",
        "    %%",
    ]
    epoch = datetime.timezone.utc

    def _s(ts) -> int:
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=epoch)
        return int(ts.timestamp())

    for t in run.tasks:
        lines.append(f"    section {_make_header(t['task_id'], t['task_type'])}")
        if t["is_success"]:
            description, modifier = "OK", ""
        else:
            description, modifier = "FAILED", "crit"
        lines.append(
            ", ".join(
                [
                    f"    {render_seconds(t['duration_s'] or 0.0)} - {description} :{modifier} ",
                    f"{_s(t['start_time'])} ",
                    f"{_s(t['end_time'])} ",
                ]
            )
        )
    return "\n".join(lines) + "\n"
