"""Spans-container operators as DataFrame transforms (SURVEY §2.2/2.4-2.6).

Each function mirrors one method of the reference's ``Spans`` class
(opentelemetry_helpers.py:365-491) but is expressed as a declarative
DataFrame op so Catalyst gets pushdown/pruning and the whole thing runs
distributed.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_by_path(spans: DataFrame, keys: Sequence[str], value: Any) -> DataFrame:
    """F1: keep spans where the nested path equals ``value``; a missing
    path is simply a non-match, never an error
    (reference: Spans.filter, opentelemetry_helpers.py:373-381).

    Paths into the ``attributes`` map use map access (null when absent);
    struct paths resolve via dotted column access over the closed schema.
    """
    col: Column
    if keys[0] == "attributes" and len(keys) == 2:
        col = F.col("attributes").getItem(keys[1])
    else:
        col = F.col(".".join(keys))
    if isinstance(value, bool):
        value = "true" if value else "false"
    return spans.where(col == F.lit(value))


def sort_by_start_time(spans: DataFrame, reverse: bool = False) -> DataFrame:
    """O1 (reference: Spans.sort_by_start_time, opentelemetry_helpers.py:383-392).

    ISO8601 strings with a constant Z suffix sort lexicographically ==
    chronologically, but we parse to timestamp for correctness across
    offsets.
    """
    ts = F.to_timestamp(F.col("start_time"))
    return spans.orderBy(ts.desc() if reverse else ts.asc())


def span_edges(spans: DataFrame) -> DataFrame:
    """J2: the (run_id, parent_span_id, span_id) edge table
    (reference: Spans._get_graph, opentelemetry_helpers.py:407-419).

    OTel span ids are only unique WITHIN a trace, so every edge carries
    the trace as ``run_id`` and all downstream joins must include it —
    at 100 TB a span log holds millions of runs and id collisions across
    traces are certain.
    """
    return (
        spans.where(F.col("parent_id").isNotNull())
        .select(
            F.col("context.trace_id").alias("run_id"),
            F.col("parent_id").alias("parent_span_id"),
            F.col("context.span_id").alias("span_id"),
        )
    )


def root_spans(spans: DataFrame) -> DataFrame:
    """J6/U2: spans with no parent among the span set
    (reference: UDT.root_nodes, opentelemetry_helpers.py:289-293).

    The reference treats a node as root when it has no parent edge; a span
    whose parent_id points outside the captured set is also a root, so
    this is an anti-join against captured span ids, not just
    ``parent_id IS NULL``.
    """
    ids = spans.select(
        F.col("context.trace_id").alias("_tid"), F.col("context.span_id").alias("_pid")
    )
    return spans.join(
        ids,
        (spans["parent_id"] == ids["_pid"]) & (spans["context.trace_id"] == ids["_tid"]),
        "left_anti",
    )


def exception_events(spans: DataFrame) -> DataFrame:
    """A5: flatten all events named 'exception' across a span set
    (reference: Spans.exception_events, opentelemetry_helpers.py:453-457).

    Returns one row per exception with the owning span_id.
    """
    return (
        spans.select(
            F.col("context.span_id").alias("span_id"),
            F.explode_outer("events").alias("event"),
        )
        .where(F.col("event.name") == "exception")
        .select(
            "span_id",
            F.col("event.attributes").getItem("exception.type").alias("exception_type"),
            F.col("event.attributes").getItem("exception.message").alias("exception_message"),
            F.col("event.attributes").getItem("exception.stacktrace").alias("exception_stacktrace"),
        )
    )


def attributes_with_prefix(spans: DataFrame, prefixes: Sequence[str]) -> DataFrame:
    """F3: project the attributes map down to allowed key prefixes
    (reference: filter_attribute_dict inside get_attributes,
    opentelemetry_helpers.py:471-479). Empty prefix list = keep all."""
    attrs = F.col("attributes")
    if prefixes:
        attrs = F.map_filter(attrs, lambda k, v: _any_startswith(k, prefixes))
    return spans.withColumn("attributes", attrs)


def _any_startswith(k: Column, prefixes: Sequence[str]) -> Column:
    cond = F.lit(False)
    for p in prefixes:
        cond = cond | k.startswith(p)
    return cond


def union_attributes(spans: DataFrame, prefixes: Sequence[str] = ()) -> DataFrame:
    """A1: conflict-checked union of all attribute maps in a span set
    (reference: Spans.get_attributes, opentelemetry_helpers.py:459-491 —
    raises if one key maps to two distinct values).

    Returns one row per key: (key, value, n_values). A conflict is a
    row with n_values > 1 — Spark aggregates cannot raise mid-query, so
    the conflict check is an output column (SURVEY §4 "error-raising
    aggregates").
    """
    exploded = (
        spans.select(F.explode_outer("attributes").alias("key", "value"))
        .where(F.col("key").isNotNull())
    )
    if prefixes:
        exploded = exploded.where(_any_startswith(F.col("key"), prefixes))
    return (
        exploded.groupBy("key")
        .agg(
            F.collect_set("value").alias("values"),
            F.size(F.collect_set("value")).alias("n_values"),
        )
        .select("key", F.col("values").getItem(0).alias("value"), "n_values")
    )


def new_spans(spans: DataFrame, seen_span_ids: DataFrame) -> DataFrame:
    """U1/S5: snapshot-diff — spans whose id is not in the seen set
    (reference: SpanRecorder.__exit__, opentelemetry_helpers.py:540-546).
    ``seen_span_ids`` must have a ``span_id`` column."""
    return spans.join(
        seen_span_ids.select("span_id"),
        spans["context.span_id"] == seen_span_ids["span_id"],
        "left_anti",
    )
