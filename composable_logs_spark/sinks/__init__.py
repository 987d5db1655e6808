from .directory import write_spans_to_directory
from .mermaid import make_mermaid_dag, make_mermaid_gantt
from .report import RunReport, collect_runs
from .static_data import write_static_data

__all__ = [
    "write_spans_to_directory",
    "make_mermaid_dag",
    "make_mermaid_gantt",
    "RunReport",
    "collect_runs",
    "write_static_data",
]
