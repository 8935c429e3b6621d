"""Cost ledger read from outside the library.

Spark's status store (the data behind the web UI, kept even with the UI
off) gives per-job intervals and per-stage task metrics; the SQL status
store gives the Python-boundary SQL metrics; a ``StreamingQueryListener``
gives per-micro-batch durations and state-operator metrics. Nothing here
calls into ``eventkit_spark``.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass, field
from datetime import datetime

STAGE_FIELDS = {
    # ledger key: (StageData getter, scale to the ledger unit)
    "executor.run_s": ("executorRunTime", 1e-3),
    "executor.cpu_s": ("executorCpuTime", 1e-9),
    "executor.gc_s": ("jvmGcTime", 1e-3),
    "executor.tasks": ("numCompleteTasks", 1),
    "sources.input_bytes": ("inputBytes", 1),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "shuffle.spill_bytes": ("diskBytesSpilled", 1),
    "collect.result_bytes": ("resultSize", 1),
}
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to run Python workers": "python.run_s",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted size or timing SQL metric: the total, which
    Spark prints first (after a header line when several tasks ran)."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def empty_costs() -> dict[str, float]:
    costs = {k: 0.0 for k in STAGE_FIELDS}
    costs.update({v: 0.0 for v in PYTHON_METRICS.values()})
    costs["executor.task_max_s"] = 0.0
    costs["executor.task_mean_s"] = 0.0
    return costs


class StatusLedger:
    """Job-group bookkeeping and status-store reads for one session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label, False)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_between(self, lo: float, hi: float) -> list[int]:
        """Ids of jobs submitted in ``[lo, hi]`` (epoch seconds)."""
        store = self._jsc.statusStore()
        out = []
        for jd in _iter(store.jobsList(None)):
            sub = jd.submissionTime()
            if sub.isDefined() and lo <= sub.get().getTime() / 1e3 <= hi:
                out.append(jd.jobId())
        return out

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        store = self._jsc.statusStore()
        out = []
        for j in job_ids:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        return out

    def stage_costs(self, job_ids, costs: dict[str, float] | None = None) -> dict[str, float]:
        """Add the task metrics of every stage the jobs ran (skipped
        stages carry zeros) into ``costs``; task max/mean durations
        accumulate per stage for the straggler ratio."""
        costs = costs if costs is not None else empty_costs()
        store = self._jsc.statusStore()
        seen = set()
        for j in job_ids:
            for sid in _iter(store.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                for key, (getter, scale) in STAGE_FIELDS.items():
                    costs[key] += getattr(st, getter)() * scale
                durs = []
                for t in _iter(store.taskList(sid, st.attemptId(), 100000)):
                    d = t.duration()
                    if d.isDefined():
                        durs.append(d.get() / 1e3)
                if durs:
                    costs["executor.task_max_s"] += max(durs)
                    costs["executor.task_mean_s"] += sum(durs) / len(durs)
        return costs

    def python_costs(self, lo: float, hi: float, costs: dict[str, float]) -> dict[str, float]:
        """Add the Python-boundary SQL metrics of the SQL executions
        submitted in ``[lo, hi]`` (epoch seconds). Selected by time, not
        job id: a ``foreachBatch`` write runs as a nested execution whose
        jobs Spark files under the micro-batch's root execution."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _iter(store.executionsList()):
            if not lo <= ex.submissionTime() / 1e3 <= hi:
                continue
            names = {
                m.accumulatorId(): PYTHON_METRICS[m.name()]
                for m in _iter(ex.metrics())
                if m.name() in PYTHON_METRICS
            }
            if not names:
                continue
            for kv in _iter(store.executionMetrics(ex.executionId())):
                key = names.get(kv._1())
                if key:
                    costs[key] += parse_sql_metric(kv._2())
        return costs

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set size of the JVM (VmHWM), in MiB."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


@dataclass
class BatchProgress:
    start: float  # trigger start, epoch s
    end: float  # start + triggerExecution
    batch_id: int
    rows: int
    durations_ms: dict
    state_rows: int
    state_bytes: int
    state_commit_ms: int


@dataclass
class ProgressLog:
    batches: list[BatchProgress] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def rows_committed(self) -> int:
        with self.lock:
            return sum(b.rows for b in self.batches)


def progress_listener(log: ProgressLog):
    """A ``StreamingQueryListener`` that appends every progress event's
    durations and state-operator metrics to ``log``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = list(p.stateOperators or [])
            durations = dict(p.durationMs or {})
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            rec = BatchProgress(
                start=start,
                end=start + durations.get("triggerExecution", 0) / 1e3,
                batch_id=p.batchId,
                rows=p.numInputRows,
                durations_ms=durations,
                state_rows=sum(o.numRowsTotal for o in ops),
                state_bytes=sum(o.memoryUsedBytes for o in ops),
                state_commit_ms=sum(o.commitTimeMs for o in ops),
            )
            with log.lock:
                log.batches.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
