"""Measurement from outside the engine: sessions, memory, plans and stages.

Nothing here changes what the engine computes. ``Session`` starts a JVM
with the engine's own ``get_spark`` defaults (master URL aside) and ends
it; ``RssSampler`` tracks JVM plus Python-worker memory; ``plan_nodes`` reads
the SQL metrics of an executed DataFrame's final adaptive plan;
``StageWindow`` sums Spark's stage metrics over a stretch of work;
``Spans`` keeps timed spans in memory; and ``cpu_counters`` reads the
host's CPU accounting, whose steal share flags runs on a contended host.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

STAGE_METRICS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "failed_tasks": ("numFailedTasks", 1),
}
SHOWN_CONF = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.execution.arrow.maxBytesPerBatch",
)


class Session:
    """One engine session in its own JVM, ended by ``close``."""

    def __init__(self, work: str, cores: int):
        from pyspark import SparkContext

        from netml_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        self.jvm_pid = SparkContext._gateway.proc.pid

    def conf(self) -> dict:
        return {k: self.spark.conf.get(k, None) for k in SHOWN_CONF}

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait()


def _rss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(root: int) -> list[str]:
    """``root`` and every live descendant (the Python daemon and workers)."""
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except OSError:
            continue
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak summed RSS of a JVM and its descendants, sampled every second.

    One sample lists /proc and reads each process's stat and status: about
    2.6 ms of one CPU on a 4-vCPU host with ~90 processes, so under 0.3% of
    a core at this rate. The JVM's heap rarely shrinks, so the sparse
    samples miss little of its peak; short worker peaks can be missed.
    """

    INTERVAL_S = 1.0

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = sum(_rss_kb(p) for p in _tree(self.pid))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.INTERVAL_S)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def cpu_counters() -> list[int]:
    """The host's CPU time counters from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def plan_nodes(df) -> list[tuple[str, str, dict]]:
    """(class, one-line description, {metric: value}) for every operator of
    the final adaptive plan of an executed DataFrame, descending through the
    query stages. Reused exchanges are skipped so bytes count once."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        vals = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        out.append((cls, p.simpleString(40), vals))
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def metric_sum(nodes, metric: str, match=lambda cls, desc: True) -> int:
    return sum(v.get(metric, 0) for cls, desc, v in nodes if match(cls, desc))


class StageWindow:
    """Sums stage metrics over the stages that ran since the window opened."""

    def __init__(self, spark):
        self.spark = spark
        self.start_id = self._max_stage_id()

    def _stages(self):
        gw = self.spark.sparkContext._gateway
        store = self.spark.sparkContext._jsc.sc().statusStore()
        lst = store.stageList(gw.jvm.java.util.ArrayList(), False, False,
                              gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())
        return [lst.apply(i) for i in range(lst.size())]

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def totals(self) -> dict:
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        for s in self._stages():
            if s.stageId() <= self.start_id:
                continue
            for key, (getter, scale) in STAGE_METRICS.items():
                out[key] += getattr(s, getter)() * scale
        return out


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks run) of one job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), len(stages), tasks


class Spans:
    """Timed spans (name, start, end, parent), kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = {"name": name, "start": time.perf_counter(), "end": None,
             "parent": self._open[-1]["name"] if self._open else None}
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            self._open.pop()
            s["end"] = time.perf_counter()
