"""The iterative ancestor closure (operators.closure.descendants) on a
chain far deeper than typical span forests, and across runs."""

from pyspark.sql import functions as F

from composable_logs_spark.operators.closure import descendants


def _chain_edges(spark, n, run_id="0xr"):
    rows = [(run_id, f"n{i}", f"n{i+1}") for i in range(n)]
    return spark.createDataFrame(
        rows, "run_id string, parent_span_id string, span_id string"
    )


def test_descendants_deep_chain(spark):
    # 20 levels: past DEFAULT_MAX_DEPTH, so the checkpointed steps run too
    closure = descendants(_chain_edges(spark, 20), max_depth=25)
    got = {(r["ancestor_span_id"], r["span_id"], r["depth"]) for r in closure.collect()}
    assert got == {(f"n{i}", f"n{j}", j - i) for i in range(21) for j in range(i + 1, 21)}
    assert len(got) == 20 * 21 // 2  # all ancestor pairs of a 21-node chain


def test_descendants_multi_run_isolation(spark):
    e1 = _chain_edges(spark, 3, "0xa")
    e2 = _chain_edges(spark, 3, "0xb")
    closure = descendants(e1.unionByName(e2))
    per_run = {
        r["run_id"]: r["n"]
        for r in closure.groupBy("run_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_run == {"0xa": 6, "0xb": 6}
