"""Per-op Spark execution statistics, read from the driver's status store.

Each op runs under its own job group. After the op, the reader waits for
the listener bus to drain and collects every job submitted since the last
mark: the op's own group, plus jobs that Spark runs under a group of its
own (a streaming query tags its micro-batch jobs with the query's run
id). Jobs tagged with a set-up or check group are never counted; callers
``mark()`` after such work so it is skipped.

The stage list is read with the five-argument ``stageList`` form, the one
that resolves under py4j with the UI disabled.
"""

from __future__ import annotations

from .stats import union_length

#: job-group prefix of everything the benchmark itself runs
GROUP_PREFIX = "perfbench-"

EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.failed_tasks",
    "exec.job_s",
    "exec.executor_run_s",
    "exec.executor_cpu_s",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.input_bytes",
    "exec.output_bytes",
)


class StageMetrics:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jsc = sc._jsc.sc()  # noqa: SLF001 - the status store has no Python API
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._empty = sc._jvm.java.util.ArrayList()  # noqa: SLF001
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)  # noqa: SLF001
        self._last_job = -1
        self._last_stage = -1
        self.mark()

    def mark(self) -> None:
        """Skip every job and stage submitted so far."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(self._empty)
        if jobs.size():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())
        stages = self._stages()
        if stages.size():
            self._last_stage = max(self._last_stage, stages.apply(0).stageId())

    def begin(self, group: str) -> None:
        self.mark()
        self._sc.setJobGroup(group, group)

    def end(self, group: str) -> dict[str, float]:
        """Statistics of the jobs run since ``begin(group)``."""
        self._bus.waitUntilEmpty()
        self._sc.setJobGroup(GROUP_PREFIX + "idle", "between ops")
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        jobs = self._store.jobsList(self._empty)
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            tag = job.jobGroup()
            name = tag.get() if tag.isDefined() else ""
            if name.startswith(GROUP_PREFIX) and name != group:
                continue
            n_jobs += 1
            start = job.submissionTime()
            stop = job.completionTime()
            if start.isDefined() and stop.isDefined():
                intervals.append((start.get().getTime() / 1e3, stop.get().getTime() / 1e3))
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = dict.fromkeys(EXEC_KEYS, 0.0)
        out["exec.jobs"] = float(n_jobs)
        out["exec.job_s"] = union_length(intervals)
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self._last_stage:
                break
            if st.stageId() not in stage_ids or st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numTasks()
            out["exec.failed_tasks"] += st.numFailedTasks()
            out["exec.executor_run_s"] += st.executorRunTime() / 1e3
            out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["exec.input_bytes"] += st.inputBytes()
            out["exec.output_bytes"] += st.outputBytes()
        self.mark()
        return out

    def _stages(self):
        return self._store.stageList(
            self._empty, False, False, self._no_quantiles, self._empty
        )
