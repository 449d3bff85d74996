"""Plan-node queries over a DataFrame's Catalyst plans (JVM gateway).

Plan guards assert on node TYPES, not on explain() text: the text of a
physical plan also prints cached sub-plans under InMemoryTableScan and
AQE's wrapper, so a substring count over-counts. Used by the plan-guard
tests and tools/explain_audit.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def _walk(root, subqueries: bool):
    stack = [root]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(_seq(node.children()))
        if subqueries:
            stack.extend(_seq(node.subqueries()))


def logical_nodes(df: DataFrame, name: str) -> list:
    """Optimized-logical-plan nodes called ``name``, subquery plans
    included (e.g. "MapInPandas", "Union", "LogicalRDD")."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return [n for n in _walk(plan, True) if n.nodeName() == name]


def physical_nodes(df: DataFrame, name: str) -> list:
    """Physical-plan nodes called ``name`` as planned before execution
    (AQE's initial plan, exchanges placed). A cached frame is a leaf
    InMemoryTableScan: its own sub-plan ran when it was materialized.
    Shuffles are "Exchange"; broadcasts are "BroadcastExchange"."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return [n for n in _walk(plan, False) if n.nodeName() == name]


def python_rdd_relations(df: DataFrame) -> list:
    """LogicalRDD relations whose RDD lineage runs through a PythonRDD —
    what ``spark.createDataFrame(<list of rows>)`` plans: every action
    runs a Python-worker job to produce those rows. A localCheckpoint
    is also a LogicalRDD, but a JVM one (its lineage is truncated)."""
    return [
        n for n in logical_nodes(df, "LogicalRDD")
        if "PythonRDD" in n.rdd().toDebugString()
    ]
