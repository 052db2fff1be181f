"""Roll Spark's own event log up to the benchmark's spans.

The traced run writes an uncompressed event log (``spark.eventLog.enabled``)
into its work directory. Each job is attributed to the innermost span open
when the job was submitted; each stage to the job that first lists it. A
stage's sums come from the accumulables of its ``SparkListenerStageCompleted``
event; its task-time skew comes from the ``SparkListenerTaskEnd`` events.
"""

from __future__ import annotations

import bisect
import json
import os
import statistics
from dataclasses import dataclass, field

# accumulable name -> Stage field
_ACCUMULABLES = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    done_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_run_ms: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.done_ms - self.submit_ms, 0) / 1000

    @property
    def is_reduce(self) -> bool:
        """Reads shuffle output and writes none: sort / encode side."""
        return self.shuffle_read_bytes > 0 and self.shuffle_write_bytes == 0

    @property
    def skew(self) -> float:
        """Max ÷ median task run time (1.0 for a single task)."""
        if not self.task_run_ms:
            return 1.0
        med = statistics.median(self.task_run_ms)
        return max(self.task_run_ms) / med if med > 0 else 1.0


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    end_ms: int = 0


def read_events(log_dir: str) -> list[dict]:
    """Every JSON event under ``log_dir`` (rolled ``events_*`` files, in order)."""
    events: list[dict] = []
    for dirpath, _dirs, names in sorted(os.walk(log_dir)):
        for name in sorted(names, key=_roll_index):
            if name.startswith(".") or "appstatus" in name:
                continue
            with open(os.path.join(dirpath, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if line:
                        try:
                            events.append(json.loads(line))
                        except json.JSONDecodeError:
                            pass  # the last line of a log still being written
    return events


def _roll_index(name: str) -> tuple[int, str]:
    parts = name.split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0, name)


def parse(events: list[dict]) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"], list(e.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.submit_ms = info.get("Submission Time", 0)
            st.done_ms = info.get("Completion Time", 0)
            st.tasks += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                attr = _ACCUMULABLES.get(acc.get("Name"))
                if attr is not None:
                    setattr(st, attr, getattr(st, attr) + int(acc.get("Value", 0)))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            metrics = e.get("Task Metrics") or {}
            st.task_run_ms.append(int(metrics.get("Executor Run Time", 0)))
    return jobs, stages


def attribute(jobs: dict[int, Job], spans: list) -> dict[int, object]:
    """job id -> innermost span open at the job's submission (or absent).

    ``spans`` carry ``start``/``end`` in epoch seconds; the innermost open
    span is the one that started last among those still open.
    """
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    out: dict[int, object] = {}
    for job in jobs.values():
        t = job.submit_ms / 1000
        i = bisect.bisect_right(starts, t)
        for sp in reversed(ordered[:i]):
            if sp.end >= t:
                out[job.job_id] = sp
                break
    return out


def stages_by_job(jobs: dict[int, Job], stages: dict[int, Stage]) -> dict[int, list[Stage]]:
    """Each run stage under the first job that lists it (skipped stages never run)."""
    seen: set[int] = set()
    out: dict[int, list[Stage]] = {}
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        mine = []
        for sid in job.stage_ids:
            if sid in stages and sid not in seen:
                seen.add(sid)
                mine.append(stages[sid])
        out[job.job_id] = mine
    return out


@dataclass
class Rollup:
    """Spark work under a set of spans."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    map_s: float = 0.0
    reduce_s: float = 0.0
    job_wall_s: float = 0.0
    task_skew: float = 1.0
    _heaviest_run_ms: int = -1

    def add_job(self, job: Job, stages: list[Stage]) -> None:
        self.jobs += 1
        for st in stages:
            self.stages += 1
            self.tasks += st.tasks
            self.executor_run_s += st.run_ms / 1000
            self.executor_cpu_s += st.cpu_ns / 1e9
            self.gc_s += st.gc_ms / 1000
            self.shuffle_write_bytes += st.shuffle_write_bytes
            self.spill_bytes += st.spill_bytes
            if st.is_reduce:
                self.reduce_s += st.wall_s
            else:
                self.map_s += st.wall_s
            if st.run_ms > self._heaviest_run_ms:
                self._heaviest_run_ms = st.run_ms
                self.task_skew = st.skew


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def rollup(jobs: dict[int, Job], stages: dict[int, Stage], owner: dict[int, object],
           keep) -> Rollup:
    """Sum the jobs whose owning span satisfies ``keep(span)``."""
    per_job = stages_by_job(jobs, stages)
    out = Rollup()
    walls = []
    for job_id, sp in owner.items():
        if keep(sp):
            job = jobs[job_id]
            out.add_job(job, per_job.get(job_id, []))
            walls.append((job.submit_ms / 1000, max(job.end_ms, job.submit_ms) / 1000))
    out.job_wall_s = union_seconds(walls)
    return out
