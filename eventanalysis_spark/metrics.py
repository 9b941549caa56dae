"""Per-batch throughput and job metrics (north-rule requirement;
reference tag-file analog, EventJob.cs:125-159 T3).

Two layers:
  - StageTimer: driver-side wall-clock per pipeline stage → docs/sec;
  - JobGroup: the Spark job ids each pipeline stage ran, from the job
    group the stage's jobs are tagged with.

The per-partition lineage is rolled up by the pipeline from its stats
grain and appended to the `lineage` warehouse table (pipeline.py).
Metrics are committed as snapshot metadata on the destination table plus
a JSON sidecar under <warehouse>/<table>/_metrics/ so they survive and
are greppable (the reference's tag files next to the DB)."""

from __future__ import annotations

import json
import os
import time


class StageTimer:
    def __init__(self):
        self.stages: dict[str, float] = {}
        self._t0 = time.perf_counter()
        self._last = self._t0

    def lap(self, name: str) -> float:
        now = time.perf_counter()
        dt = now - self._last
        self.stages[name] = self.stages.get(name, 0.0) + dt
        self._last = now
        return dt

    def total(self) -> float:
        return time.perf_counter() - self._t0


class JobGroup:
    """Tags every Spark job the calling thread starts with one job group
    (`setJobGroup`) and the current stage as its description, and records
    the job ids of each stage from `statusTracker().getJobIdsForGroup`.
    Job group and description are thread-local properties; the caller's
    values are restored on exit."""

    _PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

    def __init__(self, sc, group_id: str, first_stage: str):
        self.sc = sc
        self.group_id = group_id
        self.stage = first_stage
        self.stage_jobs: dict[str, list[int]] = {}

    def _job_ids(self) -> set[int]:
        # The id array comes back as ONE string: iterating the Java array
        # from Python costs a driver round trip per element, and a group
        # id that recurs (see __enter__) keeps every earlier job, so that
        # cost would grow with each use of the id.
        ids = self._tracker.getJobIdsForGroup(self.group_id)
        return {int(x) for x in self._arrays.toString(ids).strip("[]").split(",") if x}

    def __enter__(self) -> "JobGroup":
        self._saved = {k: self.sc.getLocalProperty(k) for k in self._PROPS}
        self._tracker = self.sc._jsc.statusTracker()
        self._arrays = self.sc._jvm.java.util.Arrays
        # a group id can recur (a poll of an exhausted source retries its
        # batch id): jobs an earlier use ran are not this call's
        self._seen = self._job_ids()
        self._n0 = len(self._seen)
        self.sc.setJobGroup(self.group_id, self.stage)
        return self

    def next_stage(self, stage: str | None) -> None:
        """Close the current stage (record the jobs it ran) and label the
        jobs that follow with `stage`."""
        ids = self._job_ids()
        self.stage_jobs[self.stage] = sorted(ids - self._seen)
        self._seen |= ids
        if stage is not None:
            self.stage = stage
            self.sc.setJobDescription(stage)

    def n_jobs(self) -> int:
        return len(self._seen) - self._n0

    def __exit__(self, *exc) -> None:
        for k, v in self._saved.items():
            self.sc.setLocalProperty(k, v)


def write_metrics_sidecar(table_path: str, batch_id: str, payload: dict) -> str:
    d = os.path.join(table_path, "_metrics")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, f"batch-{batch_id}.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    os.replace(tmp, p)
    return p
