"""Plan invariants read from the structured physical plan.

The walker here traverses a DataFrame's physical plan — operator tree
and every operator's expression trees — over py4j, testing each
expression's JVM class rather than grepping the rendered plan string,
so an abbreviated or re-printed plan line cannot hide (or invent) a
violation. The descent enters the current plan of an adaptive query,
the plan behind every query stage, the cached plan behind every
in-memory scan (a persisted fragment's operators run inside the query
that first consumes it), the plan of an eagerly run command (a write)
and expression subqueries; a cached plan shared by several scans is
walked once.
"""

from __future__ import annotations

from py4j.java_gateway import JavaObject, is_instance_of
from pyspark.sql import DataFrame, SparkSession

from marketdatapipeline_spark.session import active_or

__all__ = ["higher_order_functions"]

#: Catalyst's marker trait for lambda-taking expressions (``transform``,
#: ``aggregate``, ``filter``, ``exists``, ``zip_with``, ``map_filter``,
#: ...). They evaluate interpreted, outside whole-stage codegen, once
#: per array element.
HIGHER_ORDER_FUNCTION = "org.apache.spark.sql.catalyst.expressions.HigherOrderFunction"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    if name == "CommandResultExec":
        return [node.commandPhysicalPlan()]
    return _seq(node.children()) + _seq(node.subqueries())


def higher_order_functions(
    query: DataFrame | JavaObject, spark: SparkSession | None = None
) -> list[str]:
    """The distinct higher-order-function expressions anywhere in the
    physical plan of ``query``: a DataFrame (its
    ``queryExecution.executedPlan``; run an action first to walk the
    finalized adaptive plan) or a JVM ``QueryExecution`` as a
    ``QueryExecutionListener`` receives it (``spark`` names its
    session; default the active one). Each entry is the expression's
    rendering, lambda variable ids included, so the same expression
    reached through two paths counts once."""
    if isinstance(query, DataFrame):
        spark, qe = query.sparkSession, query._jdf.queryExecution()
    else:
        spark, qe = active_or(spark), query
    gateway = spark.sparkContext._gateway
    identity = gateway.jvm.java.lang.System.identityHashCode
    found: set[str] = set()
    seen: set[int] = set()
    nodes = [qe.executedPlan()]
    while nodes:
        node = nodes.pop()
        key = identity(node)
        if key in seen:
            continue
        seen.add(key)
        exprs = _seq(node.expressions())
        while exprs:
            e = exprs.pop()
            if is_instance_of(gateway, e, HIGHER_ORDER_FUNCTION):
                found.add(e.toString())
            exprs.extend(_seq(e.children()))
        nodes.extend(_plan_children(node))
    return sorted(found)
