"""Per-operation Spark metrics, read through a job group.

The benchmark sets a job group (``sc.setJobGroup``) on the thread
that runs an operation, and after the operation reads every job of the
group from Spark's status store:

    statusTracker().getJobInfo(j)         -> stage ids
    statusStore().lastStageAttempt(sid)   -> task count, executor run
                                             and CPU time, JVM GC,
                                             shuffle bytes, spill
    statusStore().job(j)                  -> submission/completion time

All of these work with ``spark.ui.enabled=false``. The split of the
operation's wall time into ``job_s`` (some job of the group running)
and ``driver_s`` (none running) uses the jobs' submission and
completion times.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from py4j.protocol import Py4JJavaError

MB = 1024 * 1024


@dataclass
class SparkOpMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_s: float = 0.0
    driver_s: float = 0.0

    def add(self, other: "SparkOpMetrics") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


class SparkCollector:
    """Reads the metrics of one job group. One collector per
    SparkContext; group ids must be unique within a run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        """Tag the Spark jobs of the calling thread with ``group``."""
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, group: str, t0: float, t1: float) -> SparkOpMetrics:
        """Metrics of ``group``'s jobs; ``t0``/``t1`` are the operation's
        wall-clock bounds in ``time.time()`` seconds."""
        # status events are delivered asynchronously; drain them first
        self._jsc.listenerBus().waitUntilEmpty()
        m = SparkOpMetrics()
        store = self._jsc.statusStore()
        tracker = self._jsc.statusTracker()
        spans = []
        for j in self.sc.statusTracker().getJobIdsForGroup(group):
            m.jobs += 1
            info = tracker.getJobInfo(j)
            if info.isDefined():
                for sid in info.get().stageIds():
                    self._add_stage(m, store, sid)
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                end = done.get().getTime() / 1000.0 if done.isDefined() else t1
                spans.append((max(start, t0), min(end, t1)))
        m.job_s = _union_length([s for s in spans if s[1] > s[0]])
        m.driver_s = max(0.0, (t1 - t0) - m.job_s)
        return m

    @staticmethod
    def _add_stage(m: SparkOpMetrics, store, sid: int) -> None:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # the stage never ran
            return
        if st.status().toString() == "SKIPPED":
            return
        m.stages += 1
        m.tasks += st.numTasks()
        m.executor_run_s += st.executorRunTime() / 1e3
        m.executor_cpu_s += st.executorCpuTime() / 1e9
        m.jvm_gc_s += st.jvmGcTime() / 1e3
        m.shuffle_read_mb += st.shuffleReadBytes() / MB
        m.shuffle_write_mb += st.shuffleWriteBytes() / MB
        m.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
