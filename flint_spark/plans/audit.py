"""Physical-plan introspection shared by the gate assertions
(``entry_queries.common.count_exchanges``) and the PLANS.md generator
(``tests/plan_audit.py``) — ONE walker, so AQE/QueryStage traversal
fixes land in both consumers.

Counting is per final plan NODE, not the printed string (which repeats
cached subtrees once per consumer): cached ``InMemoryTableScan``
subtrees and ``ReusedExchange`` pointers are not re-entered, AQE
wrappers and query stages are followed into their current plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Arrow-batched Python stages — the only Python execution in the engine
PYTHON_NODES = ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
                "FlatMapCoGroupsInPandas", "FlatMapGroupsInPandasWithState")


def walk_plan(node):
    """Yield every node name in the final physical plan, following AQE
    wrappers and query stages but NOT re-entering cached subtrees (an
    InMemoryTableScan's cached plan executes once, not per consumer —
    string-counting the printed plan double-counts it)."""
    name = node.nodeName()
    yield name
    if name.startswith("InMemoryTableScan"):
        return
    if name.startswith("AdaptiveSparkPlan"):
        yield from walk_plan(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from walk_plan(node.plan())
        return
    if name.startswith("ReusedExchange"):
        return
    for i in range(node.children().length()):
        yield from walk_plan(node.children().apply(i))


def plan_counts(df: DataFrame, execute: bool = True) -> dict[str, int]:
    """(shuffles, broadcasts, python stages, broadcast-NLJ) of ``df``'s
    plan. ``execute=True`` first runs ``queryExecution().toRdd().count()``
    — an action on df's OWN QueryExecution, so the inspected
    AdaptiveSparkPlan is genuinely AQE-final (a side-channel action
    like a noop write builds a separate QueryExecution and leaves this
    one un-finalized), and the count aggregates distributed — no
    result rows reach the driver, so gates can audit plans whose
    output would not fit there. Exchange nodes are counted bare —
    query stages wrap them, and counting both would double-count
    every AQE shuffle."""
    if execute:
        df._jdf.queryExecution().toRdd().count()
    names = list(walk_plan(df._jdf.queryExecution().executedPlan()))
    return {
        "shuffles": sum(1 for n in names if n == "Exchange"),
        "broadcasts": sum(1 for n in names if n.startswith("BroadcastExchange")),
        "python": sum(1 for n in names if n in PYTHON_NODES),
        "bnlj": sum(1 for n in names if n.startswith("BroadcastNestedLoopJoin")),
    }


def count_exchanges(df: DataFrame, execute: bool = True) -> int:
    """Data-shuffle Exchange count of the (finalized) plan."""
    return plan_counts(df, execute)["shuffles"]
