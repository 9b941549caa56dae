"""Reader for an uncompressed Spark event log.

Spark writes one JSON object per line. The reader keeps what the per-layer
table needs:

  - jobs: submission/completion time, SQL execution id, call site
    (`callSite.short`, e.g. "collect at .../sources/incremental.py:76"),
    and their stages;
  - SQL executions: every plan node's metrics, keyed by accumulator id,
    from the initial plan and each adaptive re-plan, plus the summed
    accumulator updates from tasks and driver-side updates;
  - tasks: run time, CPU, GC, shuffle, spill and input bytes.

Both the single-file and the rolling (`eventlog_v2_<app>/events_N_<app>`)
layouts are accepted.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    exec_id: int | None = None
    call_site: str | None = None
    stage_ids: list[int] = field(default_factory=list)

    @property
    def duration_s(self) -> float:
        return max(0, self.end_ms - self.submit_ms) / 1000.0


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_bytes: int


@dataclass
class Metric:
    node: str       # plan node name, e.g. "MapInPandas", "Scan parquet "
    name: str       # metric name, e.g. "time to run Python workers"
    location: str   # scan location, "" for other nodes


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    metrics: dict[int, Metric] = field(default_factory=dict)
    metric_exec: dict[int, int] = field(default_factory=dict)
    acc: dict[int, float] = field(default_factory=lambda: defaultdict(float))

    # ---- queries -------------------------------------------------------
    def jobs_between(self, start_s: float, end_s: float) -> list[Job]:
        return [j for j in self.jobs.values()
                if start_s * 1000 <= j.submit_ms <= end_s * 1000]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        ids = {j.job_id for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t.stage_id) in ids]

    def metric_sum(self, exec_ids: set[int], node: str, name: str,
                   location: str | None = None) -> float:
        """Sum of one plan-node metric over the given SQL executions, in
        the metric's own unit (ms for timings, bytes for sizes)."""
        total = 0.0
        for acc_id, m in self.metrics.items():
            if (m.node.startswith(node) and m.name == name
                    and self.metric_exec.get(acc_id) in exec_ids
                    and (location is None or location in m.location)):
                total += self.acc.get(acc_id, 0.0)
        return total


def _plan_metrics(log: EventLog, exec_id: int, plan: dict) -> None:
    stack = [plan]
    while stack:
        node = stack.pop()
        loc = str((node.get("metadata") or {}).get("Location", ""))
        for m in node.get("metrics", []):
            log.metrics[m["accumulatorId"]] = Metric(node["nodeName"], m["name"], loc)
            log.metric_exec[m["accumulatorId"]] = exec_id
        stack.extend(node.get("children", []))


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _task(ev: dict) -> Task | None:
    info, tm = ev.get("Task Info") or {}, ev.get("Task Metrics")
    if not tm:
        return None
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    return Task(
        stage_id=ev["Stage ID"],
        launch_ms=info.get("Launch Time", 0),
        finish_ms=info.get("Finish Time", 0),
        run_ms=tm.get("Executor Run Time", 0),
        cpu_ns=tm.get("Executor CPU Time", 0),
        gc_ms=tm.get("JVM GC Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill_bytes=tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        input_bytes=inp.get("Bytes Read", 0),
    )


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        eid = props.get("spark.sql.execution.id")
        job = Job(ev["Job ID"], ev.get("Submission Time", 0),
                  exec_id=int(eid) if eid not in (None, "") else None,
                  call_site=props.get("callSite.short"),
                  stage_ids=list(ev.get("Stage IDs", [])))
        log.jobs[job.job_id] = job
        for sid in job.stage_ids:
            log.stage_job[sid] = job.job_id
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev.get("Completion Time", 0)
    elif kind == "SparkListenerTaskEnd":
        t = _task(ev)
        if t is not None:
            log.tasks.append(t)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            if a.get("Metadata") == "sql":
                log.acc[a["ID"]] += _num(a.get("Update"))
    elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                  _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
        _plan_metrics(log, ev["executionId"], ev["sparkPlanInfo"])
    elif kind == _SQL + "SparkListenerDriverAccumUpdates":
        for acc_id, value in ev.get("accumUpdates", []):
            log.acc[acc_id] += _num(value)


def event_files(path: str) -> list[str]:
    """Event files under a log dir, a rolling-log dir or a single file."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("events_", "app-", "local-")) and not f.endswith(".crc"):
                out.append(os.path.join(root, f))

    def order(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        seq = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(p), seq, base)

    return sorted(out, key=order)


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    for fn in event_files(path):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    _apply(log, json.loads(line))
    return log
