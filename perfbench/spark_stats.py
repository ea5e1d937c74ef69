"""Readers for what Spark and the OS already record: the JVM's peak resident
memory, the core status store (jobs, stages, task-time quantiles), the SQL
status store (per-operator metrics) and Catalyst's phase trackers.

All reads go through py4j into a running session; none of them changes what
the engine executes.
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Iterable

#: Physical plan node names, counted with the `[+:]- Name` shape so a node
#: is counted once per occurrence in the tree (not by substring).
_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
)
_NODE_RE = r"(?:^|[+:]- )(?:\*\(\d+\) )?({names})\b"


def count_nodes(plan_text: str, names: Iterable[str]) -> int:
    pattern = re.compile(_NODE_RE.format(names="|".join(names)), re.MULTILINE)
    return len(pattern.findall(plan_text))


def plan_shape(df) -> dict[str, int]:  # noqa: ANN001
    """Exchange, Python-operator and cached-scan counts of ``df``'s
    physical plan (the pre-AQE plan of its own QueryExecution)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": count_nodes(text, ("Exchange", "BroadcastExchange")),
        "python_nodes": count_nodes(text, _PY_NODES),
        "cached_scans": count_nodes(text, ("InMemoryTableScan",)),
    }


def _phases_ms(tracker) -> dict[str, float]:  # noqa: ANN001
    """Duration (end − start) of each phase a QueryPlanningTracker recorded."""
    out = {}
    it = tracker.phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().endTimeMs() - kv._2().startTimeMs())
    return out


def analysis_ms(df) -> float:  # noqa: ANN001
    """Analysis time of ``df``'s own QueryExecution: the last analysis step
    of the runner that built it. Read it before ``df`` runs an action,
    because a write shares this tracker and stretches the phase to its own
    end."""
    return _phases_ms(df._jdf.queryExecution().tracker()).get("analysis", 0.0)


class CommandPhases:
    """A QueryExecutionListener (a py4j callback) that keeps the Catalyst
    phase durations of the next command run after `arm`: the write's own
    QueryExecution, which optimizes and plans the query as it executes.
    Listener events arrive on Spark's listener bus after the action
    returns; `arm` first drains the bus, so an event from an earlier
    action cannot be taken for the next one."""

    def __init__(self, spark) -> None:  # noqa: ANN001
        from pyspark.java_gateway import ensure_callback_server_started

        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._armed = False
        self._done = threading.Event()
        self._phases: dict[str, float] = {}
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def arm(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        self._phases = {}
        self._done.clear()
        self._armed = True

    def wait(self, timeout_s: float = 30.0) -> dict[str, float]:
        """Phase → ms of the first command after `arm` ({} if none came)."""
        self._done.wait(timeout_s)
        self._armed = False
        return self._phases

    def close(self) -> None:
        self._manager.unregister(self)

    # QueryExecutionListener, called from the listener bus thread
    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: ANN001, N802, ARG002
        if self._armed and not self._done.is_set():
            self._phases = _phases_ms(qe.tracker())
            self._done.set()

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: ANN001, N802, ARG002
        if self._armed:
            self._done.set()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def jvm_pid(spark) -> int:  # noqa: ANN001
    """PID of the Spark driver JVM that pyspark launched (spark-submit execs
    java in place, so the launcher's PID is the JVM's)."""
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB, read from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` so far, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def _as_list(spark, seq):  # noqa: ANN001
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def last_job_id(spark) -> int:  # noqa: ANN001
    """Highest job id the scheduler has started so far, in any job group
    (-1 before any). The status store lists jobs newest first."""
    jobs = _as_list(spark, spark.sparkContext._jsc.sc().statusStore().jobsList(None))
    return jobs.get(0).jobId() if jobs.size() else -1


def _stage_list(spark):  # noqa: ANN001
    """Every stage attempt, newest first (the status store's order)."""
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    store = sc._jsc.sc().statusStore()
    return _as_list(spark, store.stageList(None, False, False, no_quantiles, None))


def _stages_after(spark, stage_id: int):  # noqa: ANN001
    for s in _stage_list(spark):
        if s.stageId() <= stage_id:
            return
        yield s


def last_stage_id(spark) -> int:  # noqa: ANN001
    stages = _stage_list(spark)
    return stages.get(0).stageId() if stages.size() else -1


STAGE_KEYS = (
    "stages", "tasks", "task_time_s", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "gc_s", "failed_tasks", "skew_ms",
)


def stages_after(spark, stage_id: int) -> dict[str, float]:  # noqa: ANN001
    """Sums over every stage attempt with id > ``stage_id``: stages, tasks,
    task time, shuffle and spill bytes, GC time, failed tasks, and
    ``skew_ms`` = Σ stage task time × (max/median task time), from which
    ``skew_ratio`` gives the task-time-weighted skew."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    tot = dict.fromkeys(STAGE_KEYS, 0.0)
    for s in _stages_after(spark, stage_id):
        run_ms = float(s.executorRunTime())
        tot["stages"] += 1
        tot["tasks"] += s.numTasks()
        tot["task_time_s"] += run_ms / 1000.0
        tot["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
        tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
        tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        tot["gc_s"] += s.jvmGcTime() / 1000.0
        tot["failed_tasks"] += s.numFailedTasks()
        skew = 1.0
        summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
        if summary.isDefined():
            med, mx = _as_list(spark, summary.get().executorRunTime())
            if med > 0:
                skew = mx / med
        tot["skew_ms"] += skew * run_ms
    return tot


def skew_ratio(tot: dict[str, float]) -> float:
    return tot["skew_ms"] / (tot["task_time_s"] * 1000.0) if tot["task_time_s"] else 1.0


def _sql_store(spark):  # noqa: ANN001
    return spark._jsparkSession.sharedState().statusStore()


def execution_count(spark) -> int:  # noqa: ANN001
    """Number of SQL executions recorded so far; executions listed after
    this mark are the ones that ran since."""
    return _sql_store(spark).executionsCount()


def _executions(spark, mark: int) -> list:  # noqa: ANN001
    store = _sql_store(spark)
    return list(_as_list(spark, store.executionsList(mark, store.executionsCount() - mark)))


_MAP_KEY_RE = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")


def _metric_values(spark, execution_id: int) -> dict[int, str]:  # noqa: ANN001
    """accumulator id → formatted value of one SQL execution, parsed from
    the Scala map's string form (one py4j call instead of one per key)."""
    text = _sql_store(spark).executionMetrics(execution_id).toString()
    keys = list(_MAP_KEY_RE.finditer(text))
    ends = [k.start() for k in keys[1:]] + [len(text) - 1]
    return {int(k.group(1)): text[k.end():end] for k, end in zip(keys, ends)}


def scan_rows(spark, mark: int) -> int:  # noqa: ANN001
    """Rows emitted by the scan nodes (cached-table or file scans) of the
    first SQL execution since ``mark`` (an `execution_count`)."""
    store = _sql_store(spark)
    (execution,) = _as_list(spark, store.executionsList(mark, 1))
    ids = [
        m.accumulatorId()
        for node in _as_list(spark, store.planGraph(execution.executionId()).allNodes())
        if node.name() == "InMemoryTableScan" or node.name().startswith("Scan ")
        for m in _as_list(spark, node.metrics())
        if m.name() == "number of output rows"
    ]
    values = _metric_values(spark, execution.executionId())
    return sum(int(values[i].replace(",", "")) for i in ids if i in values)


_TIME_RE = re.compile(r"([\d.,]+) (ms|s|m|min|h)\b")
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}


def parse_timing_ms(text: str) -> float:
    """Total of a formatted SQL timing metric: the first value, which is
    the total when the metric also lists min/med/max."""
    body = text.split("\n", 1)[-1]
    m = _TIME_RE.search(body)
    return float(m.group(1).replace(",", "")) * _TIME_MS[m.group(2)] if m else 0.0


def python_eval_ms_after(spark, mark: int) -> float:  # noqa: ANN001
    """Time spent running Python workers ("time to run Python workers", the
    Arrow/Python operator metric) over the SQL executions since ``mark``."""
    total = 0.0
    for e in _executions(spark, mark):
        metrics = _as_list(spark, e.metrics())
        ids = [m.accumulatorId() for m in metrics if m.name() == "time to run Python workers"]
        if not ids:
            continue
        values = _metric_values(spark, e.executionId())
        total += sum(parse_timing_ms(values[acc]) for acc in ids if acc in values)
    return total


def storage_mb(spark) -> float:  # noqa: ANN001
    """Memory plus disk held by cached RDDs/DataFrames, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
