"""The collected run report (sinks/report.py) and the sinks rendered from it:
byte-level golden pins, one collect per summary table, Spark-free mermaid
rendering, path safety and the notebook.html conversion."""

import hashlib
import json
from pathlib import Path

import pytest

from composable_logs_spark.functions import jupytext_to_ipynb
from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.sinks import (
    collect_runs,
    make_mermaid_dag,
    make_mermaid_gantt,
    write_spans_to_directory,
    write_static_data,
)
from composable_logs_spark.spanlog import fixtures as FX

from conftest import spans_df

R0 = "0x" + "0" * 32
R1 = "0x" + "0" * 31 + "1"
WF = "artifacts/workflow/0x0000000000000001"

# sha256 of every file both writers produce from FX.compose3(0) +
# FX.parallel_fail(1) (two runs; span ids collide across them).
# Attribute maps are sorted by key, so these bytes do not depend on the
# shuffle order of the summary's attribute aggregation.
GOLDEN = {
    "static_data.json": "122485baaa72ffc8e5152dce78d83d895308cdb19d00798852f5b76245c7288f",
    f"{R0}/{WF}/dag.mmd": "26e7cde13eb8d89cd44273b389092ab7d3af7dffef0f5dd880116372d502840b",
    f"{R0}/{WF}/dag-nolinks.mmd": "5c5841fe229a9a24a84afd75821cc9f4e39e3ed55305cfdf757e371602706d2e",
    f"{R0}/{WF}/gantt.mmd": "3da5e993729a12a75cc0185ed37514834736f7314d022bdd9d26d5b16fa59fd2",
    f"{R1}/{WF}/dag.mmd": "c820a700f458544dce38efb486840a8f67c03c2deae80d5d0b7cb1f48748112c",
    f"{R1}/{WF}/dag-nolinks.mmd": "1438e82a6ddfb7651980f0177a707ba7b272a1b20d294fdc3b20e27dda34e8bf",
    f"{R1}/{WF}/gantt.mmd": "7481bead0d155370e5b7ea1ad74a6f9f058943b095ecd3d09862a52a842a43e1",
    f"dir/{R0}/run-time-metadata.json": "a81816591b3eb03996aee6f30b4a07ea2e8ee27b604a5fc4d83380d6de623935",
    f"dir/{R0}/python-task--input_1--0x0000000000000002--OK/run-time-metadata.json": "a4a954bbbce6889613d8e3931e684031a93be9c6fc27aad3e95a1d722ef84647",
    f"dir/{R0}/python-task--input_2--0x0000000000000005--OK/run-time-metadata.json": "eea23114bae0af364fae2dfdf4fe252e966e2a78ef98c06f0b8f8782f05c2580",
    f"dir/{R0}/python-task--process--0x0000000000000008--OK/run-time-metadata.json": "f9889fac55e894ffc9cb8f803b8a9befb766a427367257292bd2257ad1bc5e65",
    f"dir/{R1}/run-time-metadata.json": "d9cc6378aff134d5186709473d137d363abf67bcf6ccba2625aa55996c25e5e8",
    f"dir/{R1}/python-task--f--0x0000000000000002--OK/run-time-metadata.json": "b4636631a213d67a9b9467850ad67be9c17acd3761d6f930c47677f65ee59014",
    f"dir/{R1}/python-task--g--0x0000000000000005--FAILED/run-time-metadata.json": "bb6e91ddde71083d36e6180d118d51b846c7a2e30e7df4e85470c0299e9c32cf",
    f"dir/{R1}/python-task--h--0x0000000000000008--OK/run-time-metadata.json": "4c9771b99378338a50836c724bd3126a8fa66c3152bf9c2bd7df60ef3949a0d4",
}


def _sha(p: Path) -> str:
    return hashlib.sha256(p.read_bytes()).hexdigest()


def _two_runs(spark):
    return summarize_spans(spans_df(spark, FX.compose3(0) + FX.parallel_fail(1)))


def test_sinks_golden(spark, tmp_path):
    s = _two_runs(spark)
    www, out = tmp_path / "www", tmp_path / "dir"
    write_static_data(s, www)
    write_spans_to_directory(s, out)
    got = {"static_data.json": _sha(www / "static_data.json")}
    got.update({str(p.relative_to(www)): _sha(p) for p in www.glob("*/artifacts/workflow/*/*.mmd")})
    got.update({f"dir/{p.relative_to(out)}": _sha(p) for p in out.rglob("run-time-metadata.json")})
    assert got == GOLDEN


def test_write_static_data_collects_each_table_once(spark, tmp_path, monkeypatch):
    s = _two_runs(spark)
    collected = []
    cls = type(s.task_runs)
    real = cls.collect

    def counting(df):
        collected.append(df)
        return real(df)

    monkeypatch.setattr(cls, "collect", counting)
    write_static_data(s, tmp_path)
    tables = [s.workflow_runs, s.task_runs, s.deps, s.artifacts, s.logged_values]
    assert len(collected) == 5
    assert all(any(df is t for df in collected) for t in tables)


def test_mermaid_starts_no_spark_job(spark):
    (run, _) = collect_runs(_two_runs(spark)).values()
    sc = spark.sparkContext
    group = "test-mermaid-no-jobs"
    sc.setJobGroup(group, "render mermaid")
    try:
        make_mermaid_dag(run)
        make_mermaid_dag(run, generate_links=False)
        make_mermaid_gantt(run)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        spark.range(1).count()  # the group does see a job when one runs
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _with_artifacts(artifacts: dict) -> list[dict]:
    b = FX.SpanFixtureBuilder(9)
    b.add_task("t", 0.0, 1.0, artifacts=artifacts)
    return b.build()


def test_sinks_reject_path_escape(spark, tmp_path):
    # an artifact named '..' is written as '_', not onto its directory
    s = summarize_spans(spans_df(spark, _with_artifacts({"..": "dots"})))
    www = write_static_data(s, tmp_path / "www").parent
    (task,) = [e for e in json.loads((www / "static_data.json").read_text()) if e["type"] == "task"]
    assert task["artifacts"] == ["_", "run-time-metadata.json"]
    assert (www / "artifacts" / "task" / task["span_id"] / "_").read_text() == "dots"
    write_spans_to_directory(s, tmp_path / "dir")
    assert [p.read_text() for p in (tmp_path / "dir").glob("*/artifacts/_")] == ["dots"]

    # a task span id that climbs out of the output directory is refused
    escape = "../../../../escaped"
    spans = json.loads(json.dumps(_with_artifacts({"a.txt": "x"})).replace('"0x0000000000000002"', f'"{escape}"'))
    s = summarize_spans(spans_df(spark, spans))
    assert [t["span_id"] for t in s.task_runs.collect()] == [escape]
    with pytest.raises(ValueError, match="unsafe path"):
        write_static_data(s, tmp_path / "www2")
    with pytest.raises(ValueError, match="unsafe path"):
        write_spans_to_directory(s, tmp_path / "a" / "b")
    assert not list(tmp_path.parent.glob("escaped*")) and not list(tmp_path.glob("escaped*"))


def test_notebook_html_is_html(spark, tmp_path):
    nb = jupytext_to_ipynb("# %%\nx = 1 + 2\n")
    s = summarize_spans(spans_df(spark, _with_artifacts({"notebook.ipynb": json.dumps(nb)})))
    write_static_data(s, tmp_path / "www")
    write_spans_to_directory(s, tmp_path / "dir")
    pages = list(tmp_path.glob("www/artifacts/task/*/notebook.html"))
    pages += list(tmp_path.glob("dir/*/artifacts/notebook.html"))
    assert len(pages) == 2
    for page in pages:
        html = page.read_text()
        assert "<html" in html and "x = 1 + 2" in html
        with pytest.raises(ValueError):
            json.loads(html)
        # the source notebook next to it is still the raw ipynb
        assert json.loads((page.parent / "notebook.ipynb").read_text()) == nb
