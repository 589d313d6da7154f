"""Plan guard for frames built from driver-side Python rows.

``spark.createDataFrame(<list>)`` plans a LogicalRDD over a PythonRDD, so
every action on such a frame starts Python-worker tasks just to unpickle
its rows.  The engine builds those frames with ``core.utils.local_frame``
(a JVM LocalRelation) instead; this helper finds any that slipped back.
"""

from __future__ import annotations


def python_row_leaves(df) -> list[str]:
    """Leaves of ``df``'s optimized plan that replay Python rows: a
    LogicalRDD with a PythonRDD in its lineage.  A LogicalRDD over a
    ``localCheckpoint`` is JVM-only and is not reported."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    found = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD" and "PythonRDD" in leaf.rdd().toDebugString():
            found.append(leaf.toString())
    return found
