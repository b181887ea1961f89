"""Read Spark's status store for job groups the benchmark sets itself.

Every timed call in a traced run runs under its own job group.  After
the call, :meth:`StatusReader.read` waits for the listener bus to drain
and sums, over the group's jobs and their non-skipped stages: jobs,
stages, tasks, executor run and CPU time, shuffle bytes, spill and input
rows, plus the union of the jobs' wall intervals and the worst
task-duration skew of any stage.  It also lists each stage's wall, run
and CPU time, tasks and shuffle bytes, which go into the call's span.  Nothing here touches ``geotile``; it
reads the same store the Spark UI would, with the UI itself disabled.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = self.sc.defaultParallelism
        self._n = 0
        gw = self.sc._gateway
        self._median_max = gw.new_array(gw.jvm.double, 2)   # task-duration quantiles
        self._median_max[0], self._median_max[1] = 0.5, 1.0

    def begin(self, name: str) -> str:
        """Set a fresh job group for the calls that follow; returns its id."""
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        return group

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str, wall_s: float) -> dict:
        """Totals for one job group; ``wall_s`` is the caller-measured wall
        of the timed call, used for the job tax."""
        self._jsc.listenerBus().waitUntilEmpty(10000)
        store = self._jsc.statusStore()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        intervals = []
        for j in job_ids:
            jd = store.job(j)
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "exec_run_s": 0.0,
               "exec_cpu_s": 0.0, "shuffle_read_b": 0, "shuffle_write_b": 0,
               "spill_b": 0, "input_rows": 0, "shuffle_s": 0.0,
               "max_task_over_median": 0.0}
        stages = []
        for s in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # a stage the job skipped was never attempted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_b"] += sd.shuffleReadBytes()
            out["shuffle_write_b"] += sd.shuffleWriteBytes()
            out["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_rows"] += sd.inputRecords()
            out["shuffle_s"] += sd.shuffleWriteTime() / 1e9 + sd.shuffleFetchWaitTime() / 1e3
            sub, done = sd.submissionTime(), sd.completionTime()
            stages.append({
                "stage": s, "tasks": sd.numCompleteTasks(),
                "wall_s": (done.get().getTime() - sub.get().getTime()) / 1e3
                if sub.isDefined() and done.isDefined() else None,
                "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write_b": sd.shuffleWriteBytes(), "input_rows": sd.inputRecords()})
            if sd.numCompleteTasks() >= 2:
                summary = store.taskSummary(s, sd.attemptId(), self._median_max)
                if summary.isDefined():
                    d = summary.get().duration()
                    if d.apply(0) > 0:
                        out["max_task_over_median"] = max(
                            out["max_task_over_median"], d.apply(1) / d.apply(0))
        out["jobs_s"] = _union_ms(intervals) / 1e3
        out["job_tax_s"] = wall_s - out["exec_run_s"] / self.cores
        out["stage_list"] = stages
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
