"""Span-analytics queries (the reference's core read path) with exact
golden oracles.

The span fixtures are fully deterministic (constant trace ids, counter
span ids, fixed timestamps — FIXTURES.md), so each query's expected
output is a constant relation: the DuckDB oracle is a VALUES literal,
giving these tree-closure queries a REAL hash check even though DuckDB
cannot run the closure itself (BASELINE.md notes the fixtures approach).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec
from ..plans import summarize_spans
from ..spanlog import fixtures as FX
from ..spanlog.schema import SPAN_SCHEMA


_FIXTURE_MEMO: dict = {}


def _spans_df(spark: SparkSession, span_dicts) -> DataFrame:
    # memoized per (session, fixture): repeated calls then return the SAME
    # leaf DataFrame, so downstream plans canonicalize equal and the
    # closure caches of span_ops_q's descendants() calls HIT instead of
    # piling up one orphaned cache entry per call (each parallelize() is
    # a fresh RDD). summarize_spans keeps no cache.
    # Keyed by applicationId, NOT id(spark) (r11 verdict): a GC'd and
    # re-created session can alias the same id() and serve a DataFrame
    # bound to a dead session; applicationId is unique per started context.
    lines = [json.dumps(s) for s in span_dicts]
    key = (spark.sparkContext.applicationId, hash(tuple(lines)))
    if key not in _FIXTURE_MEMO:
        _FIXTURE_MEMO[key] = spark.read.schema(SPAN_SCHEMA).json(
            spark.sparkContext.parallelize(lines, 2)
        )
    return _FIXTURE_MEMO[key]


def _run_id(i: int) -> str:
    return f"0x{i:032x}"


# ---------------------------------------------------------------------------
def spanlog_task_runs(spark: SparkSession, sf: str) -> DataFrame:
    spans = FX.compose3(0) + FX.parallel_fail(1)
    s = summarize_spans(_spans_df(spark, spans))
    return s.task_runs.select(
        "run_id", "task_id", "task_type", "duration_s", "is_success", "n_exceptions"
    )


TASK_RUNS_SQL = f"""
SELECT run_id, task_id, task_type,
       CAST(duration_s AS DOUBLE) AS duration_s,
       is_success,
       CAST(n_exceptions AS INT) AS n_exceptions
FROM (VALUES
  ('{_run_id(0)}', 'input_1', 'python', 1.0,  true,  0),
  ('{_run_id(0)}', 'input_2', 'python', 1.5,  true,  0),
  ('{_run_id(0)}', 'process', 'python', 1.25, true,  0),
  ('{_run_id(1)}', 'f',       'python', 1.0,  true,  0),
  ('{_run_id(1)}', 'g',       'python', 0.5,  false, 1),
  ('{_run_id(1)}', 'h',       'python', 2.0,  true,  0)
) AS t(run_id, task_id, task_type, duration_s, is_success, n_exceptions)
"""


# ---------------------------------------------------------------------------
def spanlog_deps(spark: SparkSession, sf: str) -> DataFrame:
    s = summarize_spans(_spans_df(spark, FX.compose3(0) + FX.diamond5(2)))
    ids = s.task_runs.select("run_id", "span_id", "task_id")
    return (
        s.deps.join(
            ids.select(
                "run_id",
                F.col("span_id").alias("from_span_id"),
                F.col("task_id").alias("from_task"),
            ),
            ["run_id", "from_span_id"],
        )
        .join(
            ids.select(
                "run_id",
                F.col("span_id").alias("to_span_id"),
                F.col("task_id").alias("to_task"),
            ),
            ["run_id", "to_span_id"],
        )
        .select("run_id", "from_task", "to_task")
    )


DEPS_SQL = f"""
SELECT run_id, from_task, to_task FROM (VALUES
  ('{_run_id(0)}', 'input_1', 'process'),
  ('{_run_id(0)}', 'input_2', 'process'),
  ('{_run_id(2)}', 't0', 't2'),
  ('{_run_id(2)}', 't1', 't2'),
  ('{_run_id(2)}', 't2', 't3'),
  ('{_run_id(2)}', 't2', 't4')
) AS t(run_id, from_task, to_task)
"""


# ---------------------------------------------------------------------------
def spanlog_logged_values(spark: SparkSession, sf: str) -> DataFrame:
    s = summarize_spans(_spans_df(spark, FX.logged_values_fixture(4)))
    ids = s.task_runs.select(
        "run_id", F.col("span_id").alias("task_span_id"), "task_id"
    )
    return s.logged_values.join(ids, ["run_id", "task_span_id"]).select(
        "task_id", "name", "type",
        "value_str", "value_long", "value_double", "value_bool", "value_json",
    )


_A_JSON = json.dumps({"a": [1, 2], "b": None})

LOGGED_VALUES_SQL = f"""
SELECT task_id, name, type,
       CAST(value_str AS VARCHAR)    AS value_str,
       CAST(value_long AS BIGINT)    AS value_long,
       CAST(value_double AS DOUBLE)  AS value_double,
       CAST(value_bool AS BOOLEAN)   AS value_bool,
       CAST(value_json AS VARCHAR)   AS value_json
FROM (VALUES
  ('f', 'shared',  'utf-8', 'from-f', NULL, NULL, NULL, NULL),
  ('f', 'x',       'int',   NULL, 1,    NULL, NULL, NULL),
  ('g', 'shared',  'utf-8', 'from-g', NULL, NULL, NULL, NULL),
  ('g', 'x',       'int',   NULL, 2,    NULL, NULL, NULL),
  ('h', 'an_int',  'int',   NULL, 42,   NULL, NULL, NULL),
  ('h', 'a_float', 'float', NULL, NULL, 1.25, NULL, NULL),
  ('h', 'a_bool',  'bool',  NULL, NULL, NULL, true, NULL),
  ('h', 'a_str',   'utf-8', 'hello', NULL, NULL, NULL, NULL),
  ('h', 'a_json',  'json',  NULL, NULL, NULL, NULL, '{_A_JSON}')
) AS t(task_id, name, type, value_str, value_long, value_double, value_bool, value_json)
"""


# ---------------------------------------------------------------------------
def spanlog_workflow_runs(spark: SparkSession, sf: str) -> DataFrame:
    spans = FX.compose3(0) + FX.parallel_fail(1) + FX.timeout_fixture(3)
    s = summarize_spans(_spans_df(spark, spans))
    return s.workflow_runs.select(
        "run_id",
        "duration_s",
        "is_success",
        F.col("attributes").getItem("workflow.env").alias("env"),
    )


WORKFLOW_RUNS_SQL = f"""
SELECT run_id, CAST(duration_s AS DOUBLE) AS duration_s, is_success, env
FROM (VALUES
  ('{_run_id(0)}', 3.25, true,  'xyz'),
  ('{_run_id(1)}', 2.0,  false, 'parallel'),
  ('{_run_id(3)}', 0.5,  false, 'timeout')
) AS t(run_id, duration_s, is_success, env)
"""


# ---------------------------------------------------------------------------
def spanlog_artifacts(spark: SparkSession, sf: str) -> DataFrame:
    spans = FX.logged_values_fixture(4) + FX.notebook_ok(5)
    s = summarize_spans(_spans_df(spark, spans))
    ids = s.task_runs.select("run_id", F.col("span_id").alias("task_span_id"), "task_id")
    return s.artifacts.join(ids, ["run_id", "task_span_id"]).select(
        "task_id", "name", "type", "length", F.md5("content").alias("content_md5")
    )


_PNG = bytes(range(256)) * 4
_NOTES = "some notes".encode()
_NB = '{"cells": []}'.encode()

ARTIFACTS_SQL = f"""
SELECT task_id, name, type, CAST(length AS BIGINT) AS length, content_md5
FROM (VALUES
  ('h', 'plot.png',  'bytes', {len(_PNG)},  '{hashlib.md5(_PNG).hexdigest()}'),
  ('h', 'notes.txt', 'utf-8', {len(_NOTES)}, '{hashlib.md5(_NOTES).hexdigest()}'),
  ('nb-task', 'notebook.ipynb', 'utf-8', {len(_NB)}, '{hashlib.md5(_NB).hexdigest()}'),
  ('nb-task', 'notebook.html',  'utf-8', {len(_NB)}, '{hashlib.md5(_NB).hexdigest()}')
) AS t(task_id, name, type, length, content_md5)
"""


# ---------------------------------------------------------------------------
# Validation query (A8 duplicate-name guard) — deterministic error rows.
def spanlog_validation_errors(spark: SparkSession, sf: str) -> DataFrame:
    s = summarize_spans(_spans_df(spark, FX.dup_value_error(6)))
    return s.validation_errors.select("run_id", "kind", "detail")


VALIDATION_SQL = f"""
SELECT run_id, kind, detail FROM (VALUES
  ('{_run_id(6)}', 'duplicate-named-value', 'twice')
) AS t(run_id, kind, detail)
"""


# ---------------------------------------------------------------------------
# Cross-run task health: per task_id across every run in the log —
# run count, duration stats, failure rate. The fleet-dashboard query a
# spanlog deployment runs continuously; one hash agg over task_runs.
def spanlog_task_trends(spark: SparkSession, sf: str) -> DataFrame:
    spans = (
        FX.compose3(0)
        + FX.parallel_fail(1)
        + FX.diamond5(2)
        + FX.diamond5(3, fail_at="t2")
    )
    s = summarize_spans(_spans_df(spark, spans))
    return s.task_runs.groupBy("task_id").agg(
        F.count("*").alias("n_runs"),
        F.round(F.avg("duration_s"), 4).alias("mean_duration_s"),
        F.round(F.max("duration_s"), 4).alias("max_duration_s"),
        F.round(
            F.sum((~F.col("is_success")).cast("long")) / F.count("*"), 4
        ).alias("failure_rate"),
    )


TASK_TRENDS_SQL = """
SELECT task_id, CAST(n_runs AS BIGINT) AS n_runs,
       CAST(mean_duration_s AS DOUBLE) AS mean_duration_s,
       CAST(max_duration_s AS DOUBLE) AS max_duration_s,
       CAST(failure_rate AS DOUBLE) AS failure_rate
FROM (VALUES
  ('input_1', 1, 1.0,  1.0,  0.0),
  ('input_2', 1, 1.5,  1.5,  0.0),
  ('process', 1, 1.25, 1.25, 0.0),
  ('f',       1, 1.0,  1.0,  0.0),
  ('g',       1, 0.5,  0.5,  1.0),
  ('h',       1, 2.0,  2.0,  0.0),
  ('t0',      2, 1.0,  1.0,  0.0),
  ('t1',      2, 1.2,  1.2,  0.0),
  ('t2',      2, 1.0,  1.0,  0.5),
  ('t3',      1, 1.0,  1.0,  0.0),
  ('t4',      1, 1.5,  1.5,  0.0)
) AS t(task_id, n_runs, mean_duration_s, max_duration_s, failure_rate)
"""


QUERIES = {
    "spanlog_task_runs": QuerySpec(spanlog_task_runs, TASK_RUNS_SQL),
    "spanlog_task_trends": QuerySpec(spanlog_task_trends, TASK_TRENDS_SQL),
    "spanlog_deps": QuerySpec(spanlog_deps, DEPS_SQL),
    "spanlog_logged_values": QuerySpec(spanlog_logged_values, LOGGED_VALUES_SQL),
    "spanlog_workflow_runs": QuerySpec(spanlog_workflow_runs, WORKFLOW_RUNS_SQL),
    "spanlog_artifacts": QuerySpec(spanlog_artifacts, ARTIFACTS_SQL),
    "spanlog_validation_errors": QuerySpec(spanlog_validation_errors, VALIDATION_SQL),
}
