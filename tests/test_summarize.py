"""Golden tests for the parse_spans pipeline over FIXTURES.md A2 scenarios,
mirroring the reference's round-trip assertions (SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from composable_logs_spark.plans import summarize_spans
from composable_logs_spark.spanlog import fixtures as FX
from composable_logs_spark.spanlog import schema as S

from conftest import spans_df


def _summary(spark, fixture):
    return summarize_spans(spans_df(spark, fixture))


def test_compose3_task_runs(spark):
    s = _summary(spark, FX.compose3())
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(rows) == {"input_1", "input_2", "process"}
    assert all(r["is_success"] for r in rows.values())
    assert all(r["n_exceptions"] == 0 for r in rows.values())
    # durations: round(µs/1e6, 3) — reference Timing.get_duration_s
    assert rows["input_1"]["duration_s"] == 1.0
    assert rows["process"]["duration_s"] == 1.25
    # attributes = task.* ⊕ workflow.* (test_dag_runner.py:63-137)
    a = rows["input_1"]["attributes"]
    assert a["workflow.env"] == "xyz"
    assert a["task.x"] == "1"
    assert a["task.id"] == "input_1"
    assert rows["input_2"]["attributes"]["task.x"] == "2"


def test_compose3_deps(spark):
    s = _summary(spark, FX.compose3())
    task_ids = s.task_runs.select("span_id", "task_id")
    deps = (
        s.deps.join(task_ids.withColumnRenamed("span_id", "from_span_id")
                    .withColumnRenamed("task_id", "from_task"), "from_span_id")
        .join(task_ids.withColumnRenamed("span_id", "to_span_id")
              .withColumnRenamed("task_id", "to_task"), "to_span_id")
        .select("from_task", "to_task")
    )
    assert {(r["from_task"], r["to_task"]) for r in deps.collect()} == {
        ("input_1", "process"),
        ("input_2", "process"),
    }


def test_parallel_fail(spark):
    s = _summary(spark, FX.parallel_fail())
    rows = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(rows) == {"f", "g", "h"}
    assert rows["g"]["is_success"] is False
    assert rows["g"]["n_exceptions"] == 1
    assert rows["f"]["is_success"] and rows["h"]["is_success"]
    assert s.deps.count() == 0
    wf = s.workflow_runs.collect()
    assert len(wf) == 1 and wf[0]["is_success"] is False


def test_diamond5(spark):
    s = _summary(spark, FX.diamond5())
    assert s.task_runs.count() == 5
    assert s.deps.count() == 4
    wf = s.workflow_runs.collect()[0]
    assert wf["is_success"] is True
    assert wf["attributes"]["workflow.env"] == "diamond"


def test_diamond5_short_circuit(spark):
    # mid-DAG failure stops downstream (test_parallel_tasks.py:176-215)
    s = _summary(spark, FX.diamond5(fail_at="t2"))
    assert s.task_runs.count() == 3
    assert s.task_runs.where(~F.col("is_success")).count() == 1


def test_timeout(spark):
    s = _summary(spark, FX.timeout_fixture())
    r = s.task_runs.collect()[0]
    assert r["is_success"] is False
    assert r["attributes"]["task.timeout_s"] == "0.5"
    exc = s.validation_errors  # no validation errors for timeouts
    assert exc.count() == 0


def test_logged_values_scoped_per_task(spark):
    s = _summary(spark, FX.logged_values_fixture())
    lv = s.logged_values
    shared = {
        (r["task_span_id"], r["value_str"])
        for r in lv.where(F.col("name") == "shared").collect()
    }
    assert len(shared) == 2  # two tasks, two distinct values
    by_name = {r["name"]: r for r in
               lv.join(s.task_runs.where(F.col("task_id") == "h")
                       .select(F.col("span_id").alias("task_span_id")),
                       "task_span_id").collect()}
    assert by_name["an_int"]["value_long"] == 42
    assert by_name["a_float"]["value_double"] == 1.25
    assert by_name["a_bool"]["value_bool"] is True
    assert by_name["a_str"]["value_str"] == "hello"
    assert '"a"' in by_name["a_json"]["value_json"]


def test_artifact_roundtrip(spark):
    s = _summary(spark, FX.logged_values_fixture())
    arts = {r["name"]: r for r in s.artifacts.collect()}
    assert bytes(arts["plot.png"]["content"]) == bytes(range(256)) * 4
    assert bytes(arts["notes.txt"]["content"]).decode() == "some notes"
    assert arts["plot.png"]["length"] == 1024


def test_notebook_html_derived(spark):
    s = _summary(spark, FX.notebook_ok())
    names = {r["name"] for r in s.artifacts.collect()}
    assert names == {"notebook.ipynb", "notebook.html"}


def test_dup_value_flagged(spark):
    s = _summary(spark, FX.dup_value_error())
    errs = s.validation_errors.collect()
    assert len(errs) == 1
    assert errs[0]["kind"] == "duplicate-named-value"
    assert errs[0]["detail"] == "twice"


def test_multi_run_grouping(spark):
    spans = FX.compose3(0) + FX.parallel_fail(1) + FX.diamond5(2)
    s = summarize_spans(spans_df(spark, spans))
    assert s.workflow_runs.count() == 3
    assert s.task_runs.count() == 11
    per_run = {r["run_id"]: r["n"] for r in
               s.task_runs.groupBy("run_id").agg(F.count("*").alias("n")).collect()}
    assert sorted(per_run.values()) == [3, 3, 5]
    # span ids COLLIDE across runs (counter-based per run, like real OTel
    # where ids are only unique per trace) — exceptions must not leak
    # across runs through the closure joins.
    fails = {(r["run_id"], r["task_id"]) for r in
             s.task_runs.where(~F.col("is_success")).collect()}
    assert len(fails) == 1 and fails.pop()[1] == "g"
    wf = {r["run_id"]: r["is_success"] for r in s.workflow_runs.collect()}
    assert sorted(wf.values()) == [False, True, True]


def test_attr_conflict_reported_and_winner_deterministic(spark):
    # inject a conflicting task.* value on a subtree child: the conflict
    # must be REPORTED, and the surviving value must be the array_min
    # (stable run-to-run), not collect_set's arbitrary first element
    spans = FX.compose3()
    task_span = next(
        s for s in spans if s.get("attributes", {}).get("task.id") == "input_1"
    )
    child = next(
        s for s in spans if s.get("parent_id") == task_span["context"]["span_id"]
    )
    child.setdefault("attributes", {})["task.x"] = "0"  # task span says "1"

    outs = []
    for _ in range(2):
        s = _summary(spark, spans)
        errs = [
            (r["kind"], r["detail"]) for r in s.validation_errors.collect()
        ]
        assert ("attribute-conflict", "task.x") in errs
        row = next(
            r for r in s.task_runs.collect() if r["task_id"] == "input_1"
        )
        outs.append(row["attributes"]["task.x"])
    assert outs == ["0", "0"]  # min("0", "1") — deterministic winner


def _task_span(spans, task_id):
    return next(s for s in spans if s["attributes"].get("task.id") == task_id)


def _values(s):
    return sorted(
        (r["task_span_id"], r["name"]) for r in s.logged_values.collect()
    )


def test_value_nested_12_levels_keeps_its_owner(spark):
    # h's an_int value sits under h's call span (depth 3); re-parent it
    # through 9 filler spans so it is 12 levels below the task
    spans = FX.logged_values_fixture()
    h = _task_span(spans, "h")
    value = next(s for s in spans if s["attributes"].get("name") == "an_int")
    parent = value["parent_id"]
    for i in range(9):
        filler = S.span_row(
            f"0xdeep{i:011x}", S.SPAN_CALL_FUNCTION,
            value["start_time"], value["end_time"],
            trace_id=value["context"]["trace_id"], parent_id=parent,
        )
        spans.append(filler)
        parent = filler["context"]["span_id"]
    value["parent_id"] = parent

    s = _summary(spark, spans)
    assert len(s.logged_values.collect()) == 9
    (row,) = s.logged_values.where(F.col("name") == "an_int").collect()
    assert row["task_span_id"] == h["context"]["span_id"]
    assert row["value_long"] == 42
    assert s.validation_errors.collect() == []


def test_parent_cycle_returns_a_summary(spark):
    # task f -> guard -> call -> f: a parent cycle through the task
    spans = FX.logged_values_fixture()
    f = _task_span(spans, "f")
    fid = f["context"]["span_id"]
    guard = next(s for s in spans if s["parent_id"] == fid)
    call = next(s for s in spans if s["parent_id"] == guard["context"]["span_id"])
    f["parent_id"] = call["context"]["span_id"]

    s = _summary(spark, spans)
    expected = _values(_summary(spark, FX.logged_values_fixture()))
    assert _values(s) == expected  # each value once, under its own task
    assert s.validation_errors.collect() == []
    runs = {r["task_id"]: r for r in s.task_runs.collect()}
    assert set(runs) == {"f", "g", "h"}
    assert runs["f"]["parent_span_id"] == call["context"]["span_id"]
    assert runs["f"]["attributes"]["task.id"] == "f"


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_summaries_keep_no_cache(spark):
    from composable_logs_spark.sinks import collect_runs

    before = _persisted(spark)
    for fixture in (FX.compose3, FX.parallel_fail, FX.diamond5, FX.notebook_ok):
        collect_runs(_summary(spark, fixture()))
    assert _persisted(spark) == before


def test_stream_batches_keep_no_cache(spark, tmp_path):
    from composable_logs_spark.spanlog import SpanWriter
    from composable_logs_spark.streaming import stream_task_runs

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    counts = []
    before = _persisted(spark)
    q = stream_task_runs(
        spark, log_dir, lambda df, bid: counts.append(df.count()), str(tmp_path / "ckpt")
    )
    try:
        for fixture in (FX.compose3, FX.parallel_fail, FX.diamond5):
            SpanWriter(log_dir).write_many(fixture())
            q.processAllAvailable()  # one micro-batch per new file
    finally:
        q.stop()
    assert counts == [3, 3, 5]
    assert _persisted(spark) == before
