"""Plan shape: operator counts of a query's physical plan.

The shape of a query is how many of each costly operator its plan holds:
shuffles, broadcasts, sort-merge joins, window sorts, Arrow Python stages
and scans of a cut (checkpointed) relation. A refactor that keeps every
query's shape keeps its cost structure; ``plans/shapes_sf0.001.json``
records the shape of every batch query at sf0.001, and
``scripts/plan_shapes.py`` rewrites it. The counts are read from the AQE
initial plan, i.e. before any runtime re-planning, with no cached relation
substituted, and ``broadcast_if_small`` decides by size, so a shape holds
for one fixture scale only.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Shape key -> the physical node names it counts.
SHAPE_NODES = {
    "exchange": ("Exchange",),
    "broadcast_exchange": ("BroadcastExchange",),
    "sort_merge_join": ("SortMergeJoin",),
    "window": ("Window",),
    "arrow_python": ("ArrowEvalPython", "MapInPandas"),
    "rdd_scan": ("Scan ExistingRDD",),
}

# A tree-string line's node name, after the tree prefix and any
# whole-stage-codegen id (``*(3) ``).
_NODE = re.compile(r"^[ :+\-]*(?:\*\(\d+\) )?(Scan \w+|\w+)", re.M)


def plan_shapes(dfs: dict[str, DataFrame]) -> dict[str, dict[str, int]]:
    """The shape of each built query in ``dfs``, under the same key.

    The session's cache is cleared first and each query is planned afresh
    from its analyzed plan: a relation that some query persisted would
    otherwise replace every matching subtree with an in-memory scan, so a
    shape would depend on which queries ran before and, in a threaded
    sweep, on timing."""
    spark = next(iter(dfs.values())).sparkSession
    spark.catalog.clearCache()
    mode = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL()
    state = spark._jsparkSession.sessionState()
    shapes = {}
    for name, df in dfs.items():
        plan = state.executePlan(df._jdf.queryExecution().analyzed(), mode).executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.initialPlan()
        names = _NODE.findall(plan.treeString())
        shapes[name] = {key: sum(map(names.count, nodes)) for key, nodes in SHAPE_NODES.items()}
    return shapes
