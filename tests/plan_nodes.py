"""Plan-shape helpers for tests: walk Spark's executed physical plans and
their expressions as JVM objects and match on node classes, so a test
does not depend on how the plan renderer prints a node."""

from __future__ import annotations

# physical operators that run Python workers
PYTHON_EXECS = (
    "ArrowEvalPythonExec",
    "BatchEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "MapInPandasExec",
    "MapInArrowExec",
    "AggregateInPandasExec",
    "WindowInPandasExec",
    "ArrowWindowPythonExec",
)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def class_name(jobj) -> str:
    return jobj.getClass().getSimpleName()


def plan_nodes(plan) -> list:
    """Every node under a physical plan, looking through AQE wrappers,
    query stages, cached relations and subqueries."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        name = class_name(node)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def executed_nodes(df) -> list:
    """Nodes of df's executed plan; run an action on df first so AQE
    reports its final plan."""
    return plan_nodes(df._jdf.queryExecution().executedPlan())


def expressions(expr) -> list:
    """expr and every expression below it."""
    out, stack = [], [expr]
    while stack:
        e = stack.pop()
        out.append(e)
        stack.extend(_seq(e.children()))
    return out


def node_expressions(node) -> list:
    """Every expression a physical node evaluates."""
    return [e for top in _seq(node.expressions()) for e in expressions(top)]


def is_instance(spark, jobj, jvm_class: str) -> bool:
    return spark.sparkContext._jvm.java.lang.Class.forName(jvm_class).isInstance(jobj)


class CapturedPlans:
    """Context manager collecting the executed plan of every query the
    session runs inside it (a QueryExecutionListener over py4j)."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        self.spark = spark
        self.plans: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — JVM interface
        self.plans.append(qe.executedPlan())

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — JVM interface
        self.plans.append(qe.executedPlan())

    def __enter__(self):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.spark._jsparkSession.listenerManager().register(self)
        return self

    def __exit__(self, *exc):
        # listener events arrive asynchronously on the listener bus
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark._jsparkSession.listenerManager().unregister(self)
        return False
