"""Measurement from outside the program.

* ``Span``: one timed call the benchmark makes into the program, with
  the window of Spark job ids launched while it ran.
* ``StatusStore``: reads Spark's live status store (jobs and stages)
  for a job-id window right after the span that launched them.  The
  store retains only the last ``spark.ui.retainedJobs`` jobs, so a
  window whose jobs were already evicted raises ``TraceGap`` instead of
  reading as zero.
* host counters: steal ticks from ``/proc/stat``, CPU seconds of a
  process tree from ``/proc/<pid>/stat`` and peak resident memory from
  ``/proc/<pid>/status``.
"""

from __future__ import annotations

import json
import os
import re
import resource
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
MB = 1e6


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def interval_union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals, counting
    overlapping stretches once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def read_steal_ticks(path: str = "/proc/stat") -> int:
    """Host-wide steal ticks: field 8 of the aggregate ``cpu`` line."""
    with open(path) as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    raise ValueError(f"no aggregate cpu line in {path}")


def steal_frac(ticks_before: int, ticks_after: int, wall_s: float,
               cores: int, hz: int | None = None) -> float:
    """Share of the cores' time the hypervisor gave to other guests."""
    hz = hz or os.sysconf("SC_CLK_TCK")
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return (ticks_after - ticks_before) / hz / (wall_s * cores)


def tree_cpu_s(root_pid: int, proc: str = "/proc") -> float:
    """CPU seconds (user + system, with reaped children) of ``root_pid``
    and every live process below it, as the kernel charged them; on a
    guest that includes time the hypervisor stole from a running
    thread."""
    stats = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        # after the command: state ppid ... utime(12) stime cutime cstime
        stats[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += stats[pid][1]
            todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) * 1024 / MB


class TraceGap(RuntimeError):
    """Jobs of a span were evicted from the status store before they
    were read."""


@dataclass
class Job:
    job_id: int
    name: str
    group: str | None
    start: float
    end: float
    stages: list[dict] = field(default_factory=list)


@dataclass
class Span:
    """One call into the program.  ``first_job``/``end_job`` bound the
    ids of the Spark jobs submitted while it ran (end exclusive)."""

    name: str
    layer: str
    parent: str | None
    start: float
    end: float
    first_job: int
    end_job: int
    jobs: list[Job] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "name": self.name, "layer": self.layer, "parent": self.parent,
            "seconds": round(self.seconds, 6),
            "jobs": [j.job_id for j in self.jobs],
            **span_counts(self),
        }


_STAGE_KEYS = (
    "numTasks", "executorRunTime", "jvmGcTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


def span_counts(span: Span) -> dict:
    """Job, stage and byte counts of one span's jobs."""
    stages = [s for j in span.jobs for s in j.stages]
    out = {
        "n_jobs": len(span.jobs),
        "job_s": interval_union((j.start, j.end) for j in span.jobs),
        "unattributed_jobs": sum(1 for j in span.jobs if not j.group),
        "checkpoint_jobs": sum(
            1 for j in span.jobs if j.name.startswith("localCheckpoint")
        ),
        "n_stages": len(stages),
    }
    for k in _STAGE_KEYS:
        out[k] = sum(s.get(k) or 0 for s in stages)
    return out


class StatusStore:
    """Job and stage records from the driver's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper.registerModule(scala_module)
        self._counted_stages: set[int] = set()

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self, span: Span) -> None:
        """Attach the span's jobs and their executed stages.  Each stage
        is counted once, in the first span whose job ran it."""
        if span.end_job <= span.first_job:
            return
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        wanted = range(span.first_job, span.end_job)
        by_id = {
            j["jobId"]: j for j in self._json(self._store.jobsList(None))
            if j["jobId"] in wanted
        }
        missing = [i for i in wanted if i not in by_id]
        if missing:
            raise TraceGap(
                f"{span.name}: {len(missing)} of {len(wanted)} jobs no longer "
                f"in the status store (first missing id {missing[0]})"
            )
        for jid in wanted:
            j = by_id[jid]
            job = Job(
                job_id=jid,
                name=j.get("name") or "",
                group=j.get("jobGroup"),
                start=(j.get("submissionTime") or 0) / 1000.0,
                end=(j.get("completionTime") or j.get("submissionTime") or 0) / 1000.0,
            )
            for sid in j.get("stageIds") or ():
                if sid in self._counted_stages:
                    continue
                stage = self._json(self._store.lastStageAttempt(sid))
                if stage.get("status") == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                job.stages.append({k: stage.get(k) for k in _STAGE_KEYS})
            span.jobs.append(job)
