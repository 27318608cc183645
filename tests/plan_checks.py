"""Physical-plan walks shared by the oracle sweep and the plan tests."""

from __future__ import annotations

_PYTHON_EXEC_PACKAGE = "org.apache.spark.sql.execution.python."


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def python_backed_nodes(df) -> list[str]:
    """Names of the physical nodes in ``df``'s plan that need a Python
    worker at run time: Python exec nodes (UDFs, pandas/Arrow maps,
    Python UDTFs) and RDD scans whose lineage holds a ``PythonRDD`` —
    a relation built from a Python list by ``sc.parallelize``.

    The walk also enters what ``children`` leaves out: the current plan
    of an ``AdaptiveSparkPlan``, AQE query stages, reused exchanges,
    subqueries, and the cached plan behind every ``InMemoryRelation``
    (a Python-backed leaf under a ``persist`` still runs Python when
    the cache fills)."""
    found = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getName()
        if cls.startswith(_PYTHON_EXEC_PACKAGE):
            found.append(node.nodeName())
        elif cls.endswith(".RDDScanExec"):
            if "PythonRDD" in node.rdd().toDebugString():
                found.append(f"{node.nodeName()} over PythonRDD")
        if cls.endswith(".AdaptiveSparkPlanExec"):
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls.endswith((".ReusedExchangeExec", ".ReusedSubqueryExec")):
            stack.append(node.child())
        stack += _seq(node.children()) + _seq(node.innerChildren())
        stack += _seq(node.subqueries())
    return found
