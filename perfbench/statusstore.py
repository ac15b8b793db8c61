"""Read Spark's own metrics for the executions a pass triggered.

Two stores, both reached through py4j with the web UI disabled:

- the SQL status store (``sharedState().statusStore()``): one record
  per SQL execution, with its submission and completion times, its
  jobs and stages, the physical plan graph and each plan node's
  formatted metric strings;
- the core status store (``SparkContext.statusStore()``): per-stage
  task metrics (executor CPU, GC, shuffle write, spill) and per-task
  durations.

The listener bus fills both asynchronously, so ``drain`` must run
before executions that just finished are read.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from metric_strings import parse_value

# Plan-node metric names (Spark 4.1) this benchmark reads.
PY_METRICS = {
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "number of output rows": "rows",
}
SCAN_METRICS = {
    "number of output rows": "rows",
    "size of files read": "bytes",
    "scan time": "s",
}
SINK_METRICS = {
    "written output": "bytes",
    "number of written files": "files",
}


@dataclass
class Execution:
    id: int
    start: float  # epoch seconds
    end: float
    jobs: int
    stages: list[int]
    # node name -> list of {metric name: formatted value}, one per node
    nodes: dict[str, list[dict[str, str]]] = field(default_factory=dict)


def _java_list(jvm, scala_coll):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


class StatusStore:
    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = spark.sparkContext._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def executions(self, t0: float, t1: float) -> list[Execution]:
        """Executions submitted in [t0, t1] (epoch seconds), with their
        plan-node metrics parsed."""
        out = []
        for e in _java_list(self.jvm, self.sql.executionsList()):
            start = e.submissionTime() / 1000.0
            if not (t0 <= start <= t1):
                continue
            done = e.completionTime()
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            ex = Execution(
                id=e.executionId(),
                start=start,
                end=end,
                jobs=e.jobs().size(),
                stages=sorted(int(s) for s in _java_list(self.jvm, e.stages())),
            )
            metrics = self.sql.executionMetrics(ex.id)
            graph = self.sql.planGraph(ex.id)
            for node in _java_list(self.jvm, graph.allNodes()):
                values = {}
                for m in _java_list(self.jvm, node.metrics()):
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        values[m.name()] = v.get()  # parsed when summed
                ex.nodes.setdefault(node.name().strip(), []).append(values)
            out.append(ex)
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Summed task metrics over the stages' last attempts."""
        tot = dict.fromkeys(
            ("cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_records",
             "spill_mem_bytes", "spill_disk_bytes"), 0.0)
        for sid in stage_ids:
            s = self._stage(sid)
            if s is None:
                continue
            tot["cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_records"] += s.shuffleWriteRecords()
            tot["spill_mem_bytes"] += s.memoryBytesSpilled()
            tot["spill_disk_bytes"] += s.diskBytesSpilled()
        return tot

    def task_durations(self, stage_id: int) -> list[float]:
        s = self._stage(stage_id)
        if s is None:
            return []
        tasks = self.core.taskList(stage_id, s.attemptId(), 1 << 20)
        return [
            t.duration().get() / 1e3
            for t in _java_list(self.jvm, tasks)
            if t.duration().isDefined()
        ]

    def _stage(self, stage_id: int):
        try:
            return self.core.lastStageAttempt(stage_id)
        except Exception as e:  # py4j wraps the store's NoSuchElementException
            if "NoSuchElementException" in str(e):
                return None  # evicted from the store, or never ran
            raise


def node_sum(executions, node_prefix: str, names: dict[str, str]) -> dict[str, float]:
    """Sum the named metrics over every node whose name starts with
    ``node_prefix``, keyed by the short names in ``names``."""
    tot = dict.fromkeys(names.values(), 0.0)
    for ex in executions:
        for node_name, instances in ex.nodes.items():
            if not node_name.startswith(node_prefix):
                continue
            for values in instances:
                for long, short in names.items():
                    if long in values:
                        tot[short] += parse_value(values[long])
    return tot


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (persisted frames).

    The entry list is a private field of the CacheManager, read by
    reflection: the public API only tells whether it is empty."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return int(fld.get(cm).size())


def jvm_gc_seconds(spark) -> float:
    """Collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3
