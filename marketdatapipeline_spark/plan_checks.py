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

__all__ = ["higher_order_functions", "plan_nodes"]

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


def _query_execution(query: DataFrame | JavaObject, spark: SparkSession | None):
    if isinstance(query, DataFrame):
        return query.sparkSession, query._jdf.queryExecution()
    return active_or(spark), query


def plan_nodes(
    query: DataFrame | JavaObject, spark: SparkSession | None = None
) -> list[JavaObject]:
    """Every physical operator in the plan of ``query``: a DataFrame (its
    ``queryExecution.executedPlan``; run an action first to walk the
    finalized adaptive plan) or a JVM ``QueryExecution`` as a
    ``QueryExecutionListener`` receives it (``spark`` names its
    session; default the active one). Wrappers the descent passes
    through (adaptive plan, query stages, in-memory scans, command
    results) are included; an operator reached through two paths
    counts once."""
    spark, qe = _query_execution(query, spark)
    identity = spark.sparkContext._gateway.jvm.java.lang.System.identityHashCode
    out: list[JavaObject] = []
    seen: set[int] = set()
    nodes = [qe.executedPlan()]
    while nodes:
        node = nodes.pop()
        key = identity(node)
        if key in seen:
            continue
        seen.add(key)
        out.append(node)
        nodes.extend(_plan_children(node))
    return out


def higher_order_functions(
    query: DataFrame | JavaObject, spark: SparkSession | None = None
) -> list[str]:
    """The distinct higher-order-function expressions anywhere in the
    physical plan of ``query`` (any :func:`plan_nodes` input). Each
    entry is the expression's rendering, lambda variable ids included,
    so the same expression reached through two paths counts once."""
    spark, qe = _query_execution(query, spark)
    gateway = spark.sparkContext._gateway
    found: set[str] = set()
    for node in plan_nodes(qe, spark):
        exprs = _seq(node.expressions())
        while exprs:
            e = exprs.pop()
            if is_instance_of(gateway, e, HIGHER_ORDER_FUNCTION):
                found.add(e.toString())
            exprs.extend(_seq(e.children()))
    return sorted(found)
