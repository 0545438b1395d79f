"""Order-preservation analysis of analyzed logical plans.

Port of the reference's rule table (``org/apache/spark/sql/
OrderPreservingOperation.scala:34-96``, theory ``doc/partition.md:199-269``):
a DataFrame derived from a sorted one remains sorted iff every node
between them preserves row order. The Python wrapper uses this to keep
its ``is_sorted`` flag honest across arbitrary DataFrame ops, so
operators can skip re-sorting when provably unnecessary.

Unlike the reference we never cache physical partition metadata — this
is a logical-only check; Catalyst's own outputOrdering drives physical
planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: logical nodes through which row order survives (reference rule table)
ORDER_PRESERVING_NODES = {
    "Project", "Filter", "Generate", "SubqueryAlias", "SerializeFromObject",
    "DeserializeToObject", "TypedFilter", "LogicalRDD", "LocalRelation",
    "Relation", "LogicalRelation", "View", "GlobalLimit", "LocalLimit",
    "WithColumns",
}

#: nodes that definitively destroy or redefine order
ORDER_DESTROYING_NODES = {
    "Aggregate", "Join", "Window", "Sort", "Distinct", "Deduplicate",
    "Union", "Repartition", "RepartitionByExpression", "Sample",
    "FlatMapGroupsInPandas", "MapInPandas", "Intersect", "Except", "Pivot",
}


def is_order_preserving(df: DataFrame, base: DataFrame | None = None) -> bool:
    """True iff every plan node preserves row order.

    With ``base`` given, only nodes ADDED on top of ``base``'s plan are
    classified (the reference's OrderPreservingOperation compares the
    derivation path between the two DataFrames): the walk stops at any
    subtree equal to ``base``'s analyzed plan, so a sorted DataFrame
    whose own lineage contains Sort/Window/Aggregate (e.g. the output
    of an as-of join) is not spuriously downgraded by a pure filter
    transform. Conservative: unknown nodes count as order-destroying."""
    plan = df._jdf.queryExecution().analyzed()
    base_plan = base._jdf.queryExecution().analyzed() if base is not None else None
    stack = [plan]
    while stack:
        node = stack.pop()
        if base_plan is not None and node.sameResult(base_plan):
            continue  # reached the original df: nothing below was added
        name = node.nodeName().replace("Exec", "")
        if name in ORDER_DESTROYING_NODES:
            return False
        if name not in ORDER_PRESERVING_NODES:
            return False
        for i in range(node.children().length()):
            stack.append(node.children().apply(i))
    return True
