"""Counters read from Spark's own status.

Job latencies come from the app status store, which Spark keeps whether
or not anything reads it; untraced runs read it once, after the lap. The
per-layer counters of traced runs come from three in-process sources (the
engine's sessions run with the UI off; both status stores still answer):

- the app status store (`SparkContext.statusStore`): per-stage executor
  run/CPU/GC time, input, shuffle and spill bytes, for the jobs of one job
  group;
- the SQL status store (`SharedState.statusStore`): the final adaptive
  plan graph of each SQL execution, with its operator metrics (scan time,
  bytes to and from Python workers, exchange and broadcast nodes);
- a `StreamingQueryListener`: the progress event of every micro-batch.
"""

from __future__ import annotations

import re
import threading
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(kind: str, text: str) -> float:
    """Total of one formatted SQL metric value. Size and timing metrics
    print "total (min, med, max ...)" and the figures on the next line;
    the first figure is the total. Returns bytes, seconds or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if kind == "size":
        return value * _UNITS.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return value * _TIME.get(unit, 1e-3)
    return value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _jobs(spark) -> list:
    return _seq(spark.sparkContext._jsc.sc().statusStore().jobsList(None))


def last_job_id(spark) -> int:
    return max((j.jobId() for j in _jobs(spark)), default=-1)


def job_latencies_ms(spark, after: int) -> list[float]:
    """Submission-to-completion time of every Spark job with an id above
    `after`, once the listener bus has delivered every job's end."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for j in _jobs(spark):
        start, end = j.submissionTime(), j.completionTime()
        if j.jobId() > after and start.isDefined() and end.isDefined():
            out.append(float(end.get().getTime() - start.get().getTime()))
    return out


def storage_bytes(spark) -> int:
    """Bytes held by cached / checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class BatchProbe:
    """Counters of one query's Spark work: its job group's stages, and the
    SQL executions started since the previous `sql_totals()`."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seen_exec = self._max_execution_id()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        execs = _seq(self._sql_store().executionsList())
        return max((e.executionId() for e in execs), default=-1)

    def group(self, query: str) -> str:
        """Job group under which `query`'s jobs run."""
        return f"perfbench-{query}"

    def wait_idle(self) -> None:
        """Let the listener bus deliver every event of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, group: str) -> Counter:
        """Summed stage metrics of every job in `group` (skipped stages
        carry zeros)."""
        store = self._jsc.statusStore()
        out: Counter = Counter()
        seen = set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            for sid in _seq(store.job(job_id).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                s = store.lastStageAttempt(sid)
                if str(s.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["input_bytes"] += s.inputBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def sql_totals(self) -> Counter:
        """Operator metrics and exchange counts of every SQL execution
        that started since the last call."""
        store = self._sql_store()
        out: Counter = Counter()
        for e in _seq(store.executionsList()):
            eid = e.executionId()
            if eid <= self._seen_exec:
                continue
            self._seen_exec = max(self._seen_exec, eid)
            values = store.executionMetrics(eid)
            for node in _seq(store.planGraph(eid).allNodes()):
                name = node.name()
                if name == "Exchange":
                    out["exchanges"] += 1
                elif name == "BroadcastExchange":
                    out["broadcasts"] += 1
                for metric in _seq(node.metrics()):
                    mname = metric.name()
                    key = None
                    if mname == "scan time":
                        key = "scan_s"
                    elif mname in ("data sent to Python workers", "data returned from Python workers"):
                        key = "python_bytes"
                    if key is None:
                        continue
                    opt = values.get(metric.accumulatorId())
                    if opt.isDefined():
                        out[key] += parse_metric(metric.metricType(), opt.get())
        return out


class ProgressLog(StreamingQueryListener):
    """Keeps the progress event of every micro-batch of every query."""

    def __init__(self):
        self.progress: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id) -> list:
        """Progress of the batches that read input, for one query."""
        with self._lock:
            return [
                p for p in self.progress
                if str(p.id) == str(query_id) and p.numInputRows > 0
            ]
