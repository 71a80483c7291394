"""Per-layer evidence for one timed call, read from outside the program.

Nothing here changes how the program runs a query. A traced call runs
under the job group ``q:<name>``; afterwards the jobs of that group are
read from Spark's status store (``SparkContext.statusStore``, which is
populated with ``spark.ui.enabled=false`` too), and the Hadoop
file-system counters give the bytes the call read and wrote.

Wall time is split on the call's own timeline, in epoch seconds
(``time.time()``), the clock the status store stamps stages with:

- ``build_s``: the Python query function, minus the stage time of any
  job it fired itself (its self time);
- ``physical_plan_s``: forcing ``queryExecution().executedPlan()``;
- ``exec_s``: the union of the call's stage intervals;
- ``transfer_s``: the collect's wall after the last stage completed.

Whatever is left (job submission and adaptive re-planning between
stages; for a refresh, also file commits after each write's last
stage) is ``unattributed_s``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

MB = 1024 * 1024


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class CallTrace:
    """One traced call's layer split and Spark counters."""

    name: str
    wall_s: float
    build_s: float = 0.0
    physical_plan_s: float = 0.0
    exec_s: float = 0.0
    transfer_s: float = 0.0
    unattributed_s: float = 0.0
    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    fs_read_bytes: int = 0
    fs_written_bytes: int = 0
    slot_util: float = 0.0
    retained_mb: float = 0.0
    writes: dict[str, float] = field(default_factory=dict)


class StatusReader:
    """Reads a session's status store and Hadoop file-system counters."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._fs = spark._jvm.org.apache.hadoop.fs.FileSystem
        self._seen_jobs: set[int] = set()
        self._fs_at_begin = (0, 0)

    def fs_bytes(self) -> tuple[int, int]:
        """(bytes read, bytes written) through Hadoop file systems so far."""
        read = written = 0
        for s in self._fs.getAllStatistics():
            read += s.getBytesRead()
            written += s.getBytesWritten()
        return read, written

    def begin(self, name: str) -> None:
        self._fs_at_begin = self.fs_bytes()
        self._sc.setJobGroup(f"q:{name}", name)

    def end(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def retained_mb(self) -> float:
        """Storage memory still held by cached blocks."""
        return sum(i.memSize() for i in self._jsc.getRDDStorageInfo()) / MB

    def collect(self, trace: CallTrace, name: str, t0: float, t_build: float,
                t_plan: float, t_end: float, collects: bool) -> None:
        """Fill ``trace`` from the jobs group ``q:<name>`` ran since the
        last collect, and the file-system bytes since ``begin``. Times
        are epoch seconds, the status store's clock; ``collects`` says
        whether the call ends by collecting a result to the driver (else
        it has no transfer phase)."""
        read, written = self.fs_bytes()
        trace.fs_read_bytes = read - self._fs_at_begin[0]
        trace.fs_written_bytes = written - self._fs_at_begin[1]
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        ids = [
            j for j in self._sc.statusTracker().getJobIdsForGroup(f"q:{name}")
            if j not in self._seen_jobs
        ]
        self._seen_jobs.update(ids)
        intervals: list[tuple[float, float]] = []
        for jid in ids:
            job = store.job(jid)
            trace.jobs += 1
            if job.submissionTime().isDefined() and (
                job.submissionTime().get().getTime() / 1000 < t_build
            ):
                trace.build_jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(k))
                if str(st.status()) == "SKIPPED" or not st.completionTime().isDefined():
                    continue
                trace.stages += 1
                trace.tasks += st.numCompleteTasks()
                trace.task_s += st.executorRunTime() / 1e3
                trace.cpu_s += st.executorCpuTime() / 1e9
                trace.gc_s += st.jvmGcTime() / 1e3
                trace.shuffle_read_mb += st.shuffleReadBytes() / MB
                trace.shuffle_write_mb += st.shuffleWriteBytes() / MB
                trace.spill_mb += st.memoryBytesSpilled() / MB
                start = (
                    st.submissionTime().get().getTime() / 1000
                    if st.submissionTime().isDefined() else t0
                )
                intervals.append((start, st.completionTime().get().getTime() / 1000))
        last_stage = max((b for _, b in intervals), default=t_plan)
        trace.exec_s = union_s(intervals, t0, t_end)
        trace.build_s = (t_build - t0) - union_s(intervals, t0, t_build)
        trace.physical_plan_s = (t_plan - t_build) - union_s(intervals, t_build, t_plan)
        if collects:
            trace.transfer_s = max(0.0, t_end - max(last_stage, t_plan))
        trace.unattributed_s = trace.wall_s - (
            trace.build_s + trace.physical_plan_s + trace.exec_s + trace.transfer_s
        )
        if trace.exec_s > 0:
            trace.slot_util = trace.task_s / (trace.exec_s * self.cores)
