"""Layer probes for traced runs, read from outside the program.

Everything here observes Spark through its public or developer surfaces:

- ``Tracer.step`` times one call into a layer and tags its jobs with a job
  group, so the JVM status store can later sum the group's jobs, stages
  and task metrics;
- a py4j ``QueryExecutionListener`` keeps every ``QueryExecution`` that
  ran, so the Catalyst phases and the Python eval node metrics come from
  the plan that executed (for a noop write: the write command's plan, not
  ``df._jdf.queryExecution()``, whose tracker only holds ``analysis``);
- cached storage comes from ``SparkContext.getRDDStorageInfo``.

Untraced runs build no ``Tracer``: ``NullTracer`` only adds up wall time.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0

CATALYST_PHASES = ("analysis", "optimization", "planning")
PYTHON_METRICS = {
    "python.rows": "pythonNumRowsReceived",
    "python.bytes_in": "pythonDataReceived",
    "python.bytes_out": "pythonDataSent",
}


class NullTracer:
    """Probes off: a step only adds its wall time to the pass."""

    enabled = False

    def __init__(self) -> None:
        self.pass_metrics: dict[str, float] = defaultdict(float)

    def begin_pass(self, index: int) -> None:
        self.pass_metrics = defaultdict(float)

    @contextmanager
    def step(self, tag: str, metric: str | None = None, exec_layer: bool = True):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self.pass_metrics["__timed_s"] += dt
            if metric:
                self.pass_metrics[metric] += dt

    def untimed(self):
        """Work outside the timed region (verification, re-runs)."""
        return nullcontext()

    def add(self, metric: str, value: float) -> None:
        self.pass_metrics[metric] += value

    def count_group(self, group: str) -> None:
        """Count the jobs of a group the program set itself: a streaming
        query tags its micro-batch jobs with its run id."""

    def end_pass(self) -> dict[str, float]:
        return dict(self.pass_metrics)

    def close(self) -> None:
        pass


class _QeListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener.
    The callback only stashes the QueryExecution; it is read later on the
    main thread so the listener bus is not held up."""

    def __init__(self) -> None:
        self.events: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM name)
        self.events.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.events.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer(NullTracer):
    """Probes on: job groups, status-store sums, executed-plan metrics."""

    enabled = True

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        super().__init__()
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm_sc = self.sc._jsc.sc()
        self._identity = self.sc._gateway.jvm.java.lang.System.identityHashCode
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _QeListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        # the status store keeps every job of the session: group names
        # must be unique to this tracer, not only to the pass
        self.prefix = f"pb-{uuid.uuid4().hex[:8]}"
        self.pass_index = 0
        self.groups: dict[str, str] = {}  # job group -> "build" | "exec"
        self._seen_cached: set = set()

    def begin_pass(self, index: int) -> None:
        super().begin_pass(index)
        self.pass_index = index
        self.groups = {}
        self._seen_cached = set()
        self._drain()
        self.listener.events.clear()

    def _drain(self) -> None:
        # listener events and status-store updates are asynchronous
        self._jvm_sc.listenerBus().waitUntilEmpty()

    @contextmanager
    def step(self, tag: str, metric: str | None = None, exec_layer: bool = True):
        group = f"{self.prefix}.{self.pass_index}.{tag}"
        self.groups[group] = "exec" if exec_layer else "build"
        self.sc.setJobGroup(group, group)
        try:
            with super().step(tag, metric):
                yield
        finally:
            self.sc.setJobGroup("", "")  # untimed work after the step is untagged
            self._drain()
            self._read_plans(self.listener.events)
            self.listener.events.clear()

    @contextmanager
    def untimed(self):
        """Work outside the timed region: its plans are not counted."""
        try:
            yield
        finally:
            self._drain()
            self.listener.events.clear()

    def count_group(self, group: str) -> None:
        self.groups[group] = "exec"

    def _read_plans(self, qes: list) -> None:
        m = self.pass_metrics
        for qe in qes:
            phases = qe.tracker().phases()
            for phase in CATALYST_PHASES:
                summary = phases.get(phase)
                if summary.isDefined():
                    m[f"catalyst.{phase}_s"] += summary.get().durationMs() / 1000.0
            try:
                plan = qe.executedPlan()
            except Py4JJavaError:  # a failed query may have no physical plan
                continue
            for node in _walk(plan, self._seen_cached, self._identity):
                name = node.nodeName()
                if "Python" not in name and "Pandas" not in name:
                    continue
                metrics = node.metrics()
                for key, jname in PYTHON_METRICS.items():
                    opt = metrics.get(jname)
                    if opt.isDefined():
                        m[key] += opt.get().value()

    def _job_sums(self) -> None:
        """Sum the status store's jobs and stages for this pass's groups."""
        store = self._jvm_sc.statusStore()
        jobs = store.jobsList(None)
        m = self.pass_metrics
        stage_ids: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            kind = self.groups.get(group.get()) if group.isDefined() else None
            if kind is None:
                continue
            if kind == "build":
                m["queries.eager_jobs"] += 1
                continue
            m["exec.jobs"] += 1
            ids = job.stageIds()
            for j in range(ids.size()):
                stage_ids.add(int(ids.apply(j)))
        for sid in stage_ids:
            attempts = store.stageData(sid, False, None, False, None)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if str(st.status()) == "SKIPPED":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                m["exec.run_s"] += st.executorRunTime() / 1000.0
                m["exec.cpu_s"] += st.executorCpuTime() / 1e9
                m["exec.gc_s"] += st.jvmGcTime() / 1000.0
                m["exec.shuffle_read_mb"] += (
                    st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
                ) / MB
                m["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                m["exec.spill_mb"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                ) / MB

    def cached(self) -> tuple[float, int]:
        """(MB, relations) of cached storage the session still holds."""
        infos = self._jvm_sc.getRDDStorageInfo()
        mb = 0.0
        n = 0
        for info in infos:
            if info.isCached():
                n += 1
                mb += (info.memSize() + info.diskSize()) / MB
        return mb, n

    def end_pass(self) -> dict[str, float]:
        self._drain()
        self._job_sums()
        return dict(self.pass_metrics)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.listener)


def _walk(plan, seen_cached: set, identity):
    """Every physical node of an executed plan, through AQE wrappers,
    query stages, reused exchanges, subqueries and cached relations (each
    cached plan once per ``seen_cached``: it is materialized once)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if name == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = identity(cached)
            if key not in seen_cached:
                seen_cached.add(key)
                stack.append(cached)
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))


def heap_live_mb(spark) -> float:
    """Driver JVM heap in use after a forced full GC."""
    jvm = spark.sparkContext._gateway.jvm
    jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return used.getHeapMemoryUsage().getUsed() / MB
