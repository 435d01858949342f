"""Spans and Spark job accounting for the traced run.

Each phase of an operation runs under a job group of its own. After the
operation, outside its timed window, the jobs of each group are read from
``sc.statusTracker()`` and their stages from the application status store
(both readable with ``spark.ui.enabled=false``)."""

from __future__ import annotations

import itertools
import re

#: Physical nodes that cross the Python/Arrow UDF boundary.
PYTHON_NODES = re.compile(r"\b\w*(EvalPython|InPandas|InArrow|PythonUDTF|WindowPython)\w*\b")

#: Per-stage fields summed over a phase: name -> (StageData getter, scale).
STAGE_FIELDS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
}


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Job-group naming plus the post-operation read of job and stage data."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.ids = itertools.count()

    def begin(self, phase: str) -> str:
        group = f"perfbench-{next(self.ids)}-{phase}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self) -> None:
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")

    def jobs(self, group: str, lo: float, hi: float) -> dict:
        """Totals for the jobs of ``group``; ``lo``/``hi`` bound the phase
        (epoch seconds) so ``job_s`` is the wall the jobs covered in it."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in STAGE_FIELDS}}
        spans = []
        for job_id in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                spans.append(
                    (
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    )
                )
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage = self.store.lastStageAttempt(stage_ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                for key, (getter, scale) in STAGE_FIELDS.items():
                    out[key] += getattr(stage, getter)() * scale
                out["spill_bytes"] += stage.diskBytesSpilled()
        out["job_s"] = covered(spans, lo, hi)
        return out


def uses_python(df) -> bool:
    """Whether the planned query crosses the Python/Arrow UDF boundary."""
    return bool(PYTHON_NODES.search(df._jdf.queryExecution().executedPlan().toString()))
