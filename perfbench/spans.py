"""In-memory span tracing around calls into the package's layers.

A ``Tracer`` records one span per layer call (name, start, end, parent,
operation id). Spark jobs are attributed to spans through job groups:
each span sets its own group for its lifetime and restores the
parent's. py4j round trips are counted by wrapping the gateway client's
``send_command``. After the traced pass, ``job_metrics`` reads job and
stage metrics from the JVM status store and ``python_plan_metrics``
reads the SQL metrics of Python/Arrow nodes from an executed plan.

Tracing is installed only for the traced pass; timed passes run the
package untouched.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1
        self._internal = 0
        client = self.sc._gateway._gateway_client
        self._client = client
        self._send = client.send_command

        def counting_send(*args, **kwargs):
            if not self._internal and self._stack:
                self._stack[-1].py4j += 1
            return self._send(*args, **kwargs)

        client.send_command = counting_send

    def close(self) -> None:
        """Restore the gateway client's own ``send_command``."""
        self._client.send_command = self._send

    def _set_group(self, group: str | None) -> None:
        self._internal += 1
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        finally:
            self._internal -= 1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans), name, self.op,
            parent.sid if parent else None, 0.0,
        )
        self.spans.append(s)
        self._set_group(s.group)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def wrap(self, fn, name: str, count=None):
        """``fn`` wrapped in a span; ``count(args, span)`` may record
        counters from the call's arguments."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if count is not None:
                    count(args, s)
                return fn(*args, **kwargs)

        return traced

    def self_ms(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover
        (children of one span never overlap: there is one client)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.ms
        return {s.sid: s.ms - child[s.sid] for s in self.spans}


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace module attributes: ``targets`` is a list of
    ``(module, attribute, replacement)``."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, r in targets:
            setattr(m, a, r)
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)


def _opt(o):
    return o.get() if o.isDefined() else None


def last_job_id(spark) -> int:
    it = spark.sparkContext._jsc.sc().statusStore().jobsList(
        spark._jvm.java.util.ArrayList()
    ).iterator()
    return it.next().jobId() if it.hasNext() else -1


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    ms: float
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0


def persisted_rdds(spark) -> int:
    """RDDs currently registered as persisted (cached or checkpointed
    locally) in the driver's block manager."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def live_heap_mb(spark) -> float:
    """The JVM's used heap right after a full collection, in MB."""
    jvm = spark._jvm
    jvm.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 1e6


def job_metrics(spark, after_job_id: int) -> list[JobRecord]:
    """Every job newer than ``after_job_id`` with its stages' task
    metrics summed, read from the JVM status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark._jvm
    jobs = []
    it = store.jobsList(jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        j = it.next()
        if j.jobId() <= after_job_id:
            break  # newest first
        ids = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            ids.append(sit.next())
        jobs.append((j, ids))
    if not jobs:
        return []
    oldest = min(min(ids, default=1 << 30) for _, ids in jobs)
    stages = {}
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        st = it.next()
        if st.stageId() < oldest:
            break  # newest first
        stages.setdefault(st.stageId(), st)
    out = []
    for j, ids in jobs:
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        rec = JobRecord(
            j.jobId(), _opt(j.jobGroup()),
            float(done.getTime() - sub.getTime()) if sub and done else 0.0,
        )
        for sid in ids:
            st = stages.get(sid)
            if st is None or st.numCompleteTasks() == 0:
                continue  # skipped stage (its shuffle output was reused)
            rec.stages += 1
            rec.tasks += st.numCompleteTasks()
            rec.task_failures += st.numFailedTasks()
            rec.run_ms += st.executorRunTime()
            rec.cpu_ms += st.executorCpuTime() / 1e6
            rec.gc_ms += st.jvmGcTime()
            rec.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
            rec.shuffle_read_mb += st.shuffleReadBytes() / 1e6
            rec.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out.append(rec)
    return out


_PY_METRICS = {
    "pythonTotalTime": "total_ms",
    "pythonBootTime": "boot_ms",
    "pythonDataSent": "data_sent_mb",
    "pythonDataReceived": "data_received_mb",
}


def _children(node):
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    kids = []
    it = node.children().iterator()
    while it.hasNext():
        kids.append(it.next())
    return kids


def python_plan_metrics(spark, df) -> dict[str, float]:
    """Summed SQL metrics of the Python/Arrow nodes in ``df``'s executed
    plan (call after the plan has run)."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out = {v: 0.0 for v in _PY_METRICS.values()}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        metrics = conv.asJava(node.metrics())
        if "pythonTotalTime" in metrics:
            for key, name in _PY_METRICS.items():
                if key in metrics:
                    v = float(metrics[key].value())
                    out[name] += v / 1e6 if name.endswith("_mb") else v
        todo.extend(_children(node))
    return out


_EXCHANGE = re.compile(r"^[\s:+\-|]*Exchange ", re.M)


def force_plan(df) -> int:
    """Run Catalyst through physical planning; returns the number of
    shuffle exchanges in the physical plan."""
    return len(_EXCHANGE.findall(df._jdf.queryExecution().executedPlan().toString()))
