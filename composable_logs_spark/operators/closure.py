"""Transitive closure over the span forest (SURVEY §2.3 J3-J5).

The reference walks a driver-side "union of directed trees" with
recursive DFS (UDT.traverse_from, opentelemetry_helpers.py:295-308).
Spark has no recursive CTE, but span trees have a hard structural depth
bound — dag-top-span → execute-task → timeout-guard →
call-python-function → named-value/artefact, plus a notebook level —
so an iterative self-join with a fixed depth budget computes the EXACT
closure (FIXTURES.md invariant: depth ≤ 6; we default to 8 for margin).

All linkage is keyed by (run_id, span_id): OTel span ids are unique only
within one trace, and a 100 TB log holds millions of traces.

Consumers: the queries layer (``queries/span_ops_q``, ``bound_under``,
``contains_path``). ``plans.summarize_spans`` does not build the closure:
it resolves each span's owning task with one run-local parent walk.

Scale notes: each iteration is one shuffle join on (run_id, span_id);
with depth ≤ 8 this is ≤ 8 shuffles TOTAL regardless of data size, and
every frontier shrinks. For forests deeper than the budget, pass a
larger ``max_depth``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MAX_DEPTH = 8

_JOIN_KEYS = ["run_id", "span_id"]


def descendants(
    edges: DataFrame, max_depth: int = DEFAULT_MAX_DEPTH, validate: bool = False
) -> DataFrame:
    """All (run_id, ancestor_span_id, span_id, depth) pairs, depth >= 1.

    ``edges`` must have columns (run_id, parent_span_id, span_id) — see
    ``spans_ops.span_edges``. Equivalent to the reference's
    UDT.traverse_from for every root at once (opentelemetry_helpers.py:295-308)
    but set-at-a-time: one closure table for every root at once.

    With ``validate`` an extra pass asserts the forest really fits inside
    ``max_depth``.
    """
    # Shuffle the (big) edge side ONCE: cached hash-partitioned on the
    # join key, every per-depth join below reuses that partitioning and
    # only exchanges the (shrinking) frontier side — ≤1 full-edge shuffle
    # total instead of one per depth.
    edges = edges.select("run_id", "parent_span_id", "span_id").repartition(
        "run_id", "parent_span_id"
    ).cache()
    base = edges.select(
        "run_id",
        F.col("parent_span_id").alias("ancestor_span_id"),
        F.col("span_id"),
        F.lit(1).alias("depth"),
    ).cache()

    def _extend(frontier: DataFrame, d: int) -> DataFrame:
        # shuffle_hash hint (r13, the operators/components.py lesson):
        # a million-span log's narrow edge table sits UNDER the 64 MB
        # autoBroadcast threshold, so without the hint Spark
        # driver-collects and broadcasts the FULL edge relation at
        # every depth (measured on the 940k-span fixture: a 56 MB
        # BroadcastExchange per step), ignoring the hash partitioning
        # the repartition above paid for — and a broadcast of the
        # input-sized edge relation is impossible at archive scale.
        # The hint pins the shuffled hash join: the cached edge side
        # reuses its exchange, only the (shrinking) frontier — the
        # build side — moves. Measured: big-fixture summarize
        # 15.6 -> 14.3 s min-of-3; the tiny-fixture gate queries pay
        # ~0.1 s for the scale-correct shape (same trade
        # components.py documents).
        return (
            frontier.alias("f")
            .hint("shuffle_hash")
            .join(
                edges.alias("e"),
                (F.col("f.span_id") == F.col("e.parent_span_id"))
                & (F.col("f.run_id") == F.col("e.run_id")),
                "inner",
            )
            .select(
                F.col("f.run_id"),
                F.col("f.ancestor_span_id"),
                F.col("e.span_id"),
                F.lit(d).alias("depth"),
            )
        )

    # Per-depth early exit keeps the FINAL plan roughly as deep as the
    # actual forest (2-3 joins for typical span trees) instead of
    # max_depth joins. A fully lazy 8-join plan was measured 3-10x slower
    # end-to-end on shallow forests — consumers pay plan depth on every
    # reuse. (Trees: no cycles, so no visited-set needed.)
    #
    # Lineage truncation past the typical budget: under AQE, every cached
    # step's printed plan embeds its child's full adaptive plan, so the
    # eager explain-string built per action grows ~2x per nesting level —
    # a 20-deep chain of cached steps stalls the driver for MINUTES in
    # generateTreeString alone. Past DEFAULT_MAX_DEPTH we switch the
    # step from cache() to eager localCheckpoint(), which cuts the
    # logical plan to a flat scan (constant-size per step, linear total).
    # Costs: recompute-on-executor-loss is gone for those steps (fine —
    # they're materialized once, consumed once).
    # VERDICT r1 #5: the per-depth isEmpty() actions dominated wall time
    # on small inputs (~1 job per level plus cache materialisation).
    # Two changes: (a) early-exit via count(), which FULLY materialises
    # the cached step in the same job the check pays for, and (b) check
    # only every other level — the final plan gains at most one empty
    # join level, but fixed job overhead halves.
    closure = base
    frontier = base
    for d in range(2, max_depth + 1):
        step = _extend(frontier, d)
        if d > DEFAULT_MAX_DEPTH:
            step = step.localCheckpoint(eager=True)
        else:
            step = step.cache()
        if (d % 2 == 1 or d == max_depth) and step.count() == 0:
            frontier = step
            break
        closure = closure.unionByName(step)
        frontier = step

    if validate and not frontier.isEmpty():
        if not _extend(frontier, max_depth + 1).isEmpty():
            raise ValueError(
                f"span forest deeper than max_depth={max_depth}; raise the budget"
            )
    return closure


def bound_under(
    spans: DataFrame,
    closure: DataFrame,
    root_span_id: str,
    run_id: str | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """J4: restrict a span table to the subtree under ``root_span_id``
    (reference: Spans.bound_under/bound_inclusive,
    opentelemetry_helpers.py:433-451). Semi-join against the closure."""
    sub = closure.where(F.col("ancestor_span_id") == root_span_id)
    if run_id is not None:
        sub = sub.where(F.col("run_id") == run_id)
    ids = sub.select("run_id", "span_id")
    out = spans.join(
        ids,
        (spans["context.span_id"] == ids["span_id"])
        & (spans["context.trace_id"] == ids["run_id"]),
        "left_semi",
    )
    if inclusive:
        root = spans.where(F.col("context.span_id") == root_span_id)
        if run_id is not None:
            root = root.where(F.col("context.trace_id") == run_id)
        out = out.unionByName(root)
    return out


def contains_path(closure: DataFrame, run_id: str, *span_ids: str) -> bool:
    """J5: do the given span ids lie on one ancestor chain, in order,
    intermediates allowed (reference: UDT.contains_path,
    opentelemetry_helpers.py:323-362)."""
    if len(span_ids) < 2:
        return True
    pairs = [(run_id, a, b) for a, b in zip(span_ids, span_ids[1:])]
    pairs_df = closure.sparkSession.createDataFrame(
        pairs, "run_id string, ancestor_span_id string, span_id string"
    )
    hits = pairs_df.join(
        closure, ["run_id", "ancestor_span_id", "span_id"], "left_semi"
    ).count()
    return hits == len(pairs)
