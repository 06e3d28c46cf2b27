"""Spark's own metrics, read from outside the package after an action.

Three sources, none of which needs a change in the package:

- SQL metrics of executed physical plans. ``PlanRecorder`` registers a
  ``QueryExecutionListener`` (a py4j callback) that keeps the
  ``QueryExecution`` of every action, including the actions that run inside a
  streaming ``foreachBatch``; ``plan_nodes`` walks each executed plan with the
  adaptive wrappers unwrapped (``AdaptiveSparkPlanExec`` -> final plan,
  ``*QueryStageExec`` -> ``plan()``, ``InMemoryTableScanExec`` -> the cached
  plan, visited once per cached relation).
- ``statusTracker``: jobs, stages and tasks of one job group.
- ``StreamingQuery.recentProgress`` (read in ``workloads.py``).

``summarize`` folds the node list into the per-layer counts the benchmark
reports (``python.*`` rows and bytes, ``shuffle.*``, ``dedup`` candidate
joins). Spark's own Python and codegen timers (``pythonTotalTime``,
``pipelineTime``) are not read: each runs from the moment its iterator is
created until it is drained, so it includes the time of every node above and
below it, and a sum over nested nodes counts the same time several times.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: physical nodes that cross into a Python worker
PYTHON_NODES = frozenset(
    {
        "ArrowEvalPythonExec",
        "BatchEvalPythonExec",
        "MapInPandasExec",
        "MapInArrowExec",
        "FlatMapGroupsInPandasExec",
        "FlatMapCoGroupsInPandasExec",
        "AggregateInPandasExec",
        "WindowInPandasExec",
        "ArrowWindowPythonExec",
    }
)
_JOIN_NODES = frozenset(
    {
        "SortMergeJoinExec",
        "BroadcastHashJoinExec",
        "ShuffledHashJoinExec",
    }
)
_PYTHON_METRICS = ("pythonNumRowsReceived", "pythonDataSent", "pythonDataReceived")
#: the SQL metrics read per node class; every py4j call is a round trip, so
#: nodes of other classes are walked without reading their metrics
WANTED_METRICS = {
    **{name: _PYTHON_METRICS for name in PYTHON_NODES},
    "ShuffleExchangeExec": ("shuffleRecordsWritten", "shuffleBytesWritten"),
    **{name: ("numOutputRows",) for name in _JOIN_NODES},
}
#: join keys that identify the candidate-generation join of each dedup
#: operator: minhash_lsh_pairs joins buckets on (band, bsig), the prefix
#: filter of ngram_jaccard_pairs joins prefixes on (blk, sh)
CANDIDATE_JOIN_KEYS = {
    "lsh": frozenset({"band", "bsig"}),
    "prefix": frozenset({"blk", "sh"}),
}


@dataclass
class Node:
    """One executed physical node: class name, the SQL metric values listed in
    ``WANTED_METRICS`` (raw longs) and, for joins, the left key names."""

    name: str
    metrics: dict[str, int]
    join_keys: frozenset[str] = field(default_factory=frozenset)


def _scala_seq(jvm, seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _key_names(jvm, exprs) -> frozenset[str]:
    names = set()
    for e in _scala_seq(jvm, exprs):
        for ref in _scala_seq(jvm, e.references().toSeq()):
            names.add(ref.name())
    return frozenset(names)


def plan_nodes(jvm, plan, seen_cached: set[int] | None = None) -> list[Node]:
    """Every executed node under ``plan``. ``seen_cached`` carries the
    identities of cached plans already walked, so a cached relation read by
    several actions counts its build once. Reused exchanges are skipped: the
    exchange they point at is counted where it ran."""
    seen_cached = set() if seen_cached is None else seen_cached
    out: list[Node] = []
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        wanted = WANTED_METRICS.get(cls, ())
        jm = p.metrics() if wanted else None
        metrics = {k: int(jm.apply(k).value()) for k in wanted if jm.contains(k)}
        keys = frozenset()
        if cls in _JOIN_NODES:
            keys = _key_names(jvm, p.leftKeys())
        out.append(Node(cls, metrics, keys))
        if cls == "InMemoryTableScanExec":
            cached = p.relation().cachedPlan()
            ident = jvm.System.identityHashCode(cached)
            if ident not in seen_cached:
                seen_cached.add(ident)
                stack.append(cached)
        stack.extend(_scala_seq(jvm, p.children()))
        for sub in _scala_seq(jvm, p.subqueries()):
            stack.append(sub)
    return out


def summarize(nodes: list[Node]) -> dict[str, float]:
    """Per-layer counts over the nodes of one measured unit of work.

    ``python.rows_in`` is ``pythonNumRowsReceived``: for a scalar pandas UDF
    node (every Python node of the KG chain) rows back equal rows in."""
    out = {
        "python.nodes": 0,
        "python.rows_in": 0,
        "python.bytes_sent": 0,
        "python.bytes_received": 0,
        "shuffle.exchanges": 0,
        "shuffle.records": 0,
        "shuffle.bytes": 0,
        "dedup.lsh_candidates": 0,
        "dedup.prefix_candidates": 0,
    }
    for n in nodes:
        m = n.metrics
        if n.name in PYTHON_NODES:
            out["python.nodes"] += 1
            out["python.rows_in"] += m.get("pythonNumRowsReceived", 0)
            out["python.bytes_sent"] += m.get("pythonDataSent", 0)
            out["python.bytes_received"] += m.get("pythonDataReceived", 0)
        elif n.name == "ShuffleExchangeExec":
            out["shuffle.exchanges"] += 1
            out["shuffle.records"] += m.get("shuffleRecordsWritten", 0)
            out["shuffle.bytes"] += m.get("shuffleBytesWritten", 0)
        elif n.name in _JOIN_NODES:
            for op, keys in CANDIDATE_JOIN_KEYS.items():
                if keys <= n.join_keys:
                    out[f"dedup.{op}_candidates"] += m.get("numOutputRows", 0)
    return out


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, and completed tasks of one job group
    (skipped stages report no completed tasks and are not counted)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
    return {"plan.jobs": len(jobs), "plan.stages": stages, "plan.tasks": tasks}


class PlanRecorder:
    """Keeps the ``QueryExecution`` of every successful action while
    registered. Listener events arrive on Spark's listener bus, so ``take``
    drains the bus before handing the executions over."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._qes: list = []
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener, called from the JVM
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        self._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def take(self) -> list:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        qes, self._qes = self._qes, []
        return qes

    def nodes(self) -> list[Node]:
        """Executed nodes of every action recorded since the last call."""
        jvm = self._spark._jvm
        seen: set[int] = set()
        out: list[Node] = []
        for qe in self.take():
            out.extend(plan_nodes(jvm, qe.executedPlan(), seen))
        return out

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)
