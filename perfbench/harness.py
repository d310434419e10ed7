"""Measurement core shared by the perfbench workloads.

Every layer is measured from outside: the workloads wrap their calls
into the engine's public functions in ``Tracer.span`` and the numbers
below are derived from those spans after the run.

- Spans (name, start, end, parent, run id) are kept in memory and
  written to the run's log directory when the run ends.
- With tracing on, the py4j gateway's ``send_command`` is counted (GC
  ``m`` commands excluded, so the count repeats run to run) and Spark
  writes an uncompressed event log. Jobs, stages and tasks are
  attributed to a span by time window: a job belongs to the span its
  submission time falls in. Job groups and ``statusTracker`` are not
  used: job groups do not reach the curation loop's thread-pool legs,
  and the status tracker's own py4j traffic grows with the app.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import MEMORY_COMMAND_NAME


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, same clock as Spark's event timestamps
    end: float
    parent: int | None
    run_id: str
    py4j_calls: int = 0
    ok: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts gateway commands by wrapping the client's ``send_command``.

    Every JavaObject/JavaMember calls ``<client>.send_command``, so an
    instance attribute on the one client object sees every call,
    including those from the curation loop's worker threads."""

    def __init__(self, client):
        self.calls = 0
        self._client = client
        self._orig = client.send_command

        def send_command(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        client.send_command = send_command

    def close(self) -> None:
        try:
            del self._client.send_command
        except AttributeError:
            pass


class Tracer:
    """Span recorder. ``counter`` is attached once the session exists."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counter: Py4jCounter | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        calls0 = self.counter.calls if self.counter else 0
        sp = Span(name, time.time(), 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        except BaseException:
            sp.ok = False
            raise
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.counter:
                sp.py4j_calls = self.counter.calls - calls0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


# --- Spark event log ---------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class StageStats:
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageStats]  # completed stages only

    @classmethod
    def parse(cls, log_dir: str) -> "EventLog":
        """Reads every application log in ``log_dir`` (one per session
        start). Stage ids restart per application, so each file's ids
        are offset to stay distinct."""
        jobs: list[Job] = []
        stages: dict[int, StageStats] = {}
        base = 0
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            open_jobs: dict[int, Job] = {}
            completed: set[int] = set()
            file_stages: dict[int, StageStats] = {}
            top = 0
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        ids = [base + s for s in ev.get("Stage IDs", [])]
                        top = max([top, *ids])
                        open_jobs[ev["Job ID"]] = Job(
                            ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0, ids
                        )
                    elif kind == "SparkListenerJobEnd":
                        job = open_jobs.pop(ev["Job ID"], None)
                        if job is not None:
                            job.end = ev["Completion Time"] / 1000.0
                            jobs.append(job)
                    elif kind == "SparkListenerTaskEnd":
                        sid = base + ev["Stage ID"]
                        top = max(top, sid)
                        st = file_stages.setdefault(sid, StageStats())
                        m = ev.get("Task Metrics") or {}
                        st.tasks += 1
                        st.executor_run_ms += m.get("Executor Run Time", 0)
                        st.shuffle_write_bytes += (
                            m.get("Shuffle Write Metrics") or {}
                        ).get("Shuffle Bytes Written", 0)
                        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                    elif kind == "SparkListenerStageCompleted":
                        sid = base + ev["Stage Info"]["Stage ID"]
                        top = max(top, sid)
                        completed.add(sid)
            stages.update(
                {sid: st for sid, st in file_stages.items() if sid in completed}
            )
            base = top + 1
        jobs.sort(key=lambda j: j.submit)
        # a job also lists the stages it skipped because an earlier job
        # already ran them; each stage belongs to the first job listing it
        claimed: set[int] = set()
        for j in jobs:
            j.stage_ids = [s for s in j.stage_ids if s not in claimed]
            claimed.update(j.stage_ids)
        return cls(jobs, stages)

    def window(self, start: float, end: float) -> dict:
        """Jobs submitted inside [start, end] and what they ran."""
        jobs = [j for j in self.jobs if start <= j.submit <= end]
        stage_ids = {s for j in jobs for s in j.stage_ids if s in self.stages}
        sts = [self.stages[s] for s in stage_ids]
        return {
            "jobs": len(jobs),
            "stages": len(sts),
            "tasks": sum(s.tasks for s in sts),
            "exec_s": _union_seconds([(j.submit, j.end) for j in jobs], start, end),
            "executor_run_s": sum(s.executor_run_ms for s in sts) / 1000.0,
            "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in sts),
            "spill_bytes": sum(s.spill_bytes for s in sts),
        }


def _union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_layers(log: EventLog, span: Span, cores: int) -> dict:
    """Per-layer split of one span: exec (inside Spark jobs) against
    time outside any job (plan construction, analysis, py4j and Python
    glue), plus the span's job/stage/task counts."""
    w = log.window(span.start, span.end)
    w["build_s"] = max(0.0, span.seconds - w["exec_s"])
    w["py4j_calls"] = span.py4j_calls
    w["slot_util"] = w["executor_run_s"] / (span.seconds * cores)
    return w


# --- process facts ---------------------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024.0 / 1024.0, 1)
    raise ValueError("no MemTotal in /proc/meminfo")


def tree_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under a directory; Hadoop side files
    (``.crc``, ``_SUCCESS``, hidden) are not data and are skipped."""
    files = size = 0
    for dirpath, dirnames, names in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for n in names:
            if n.startswith((".", "_")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


@dataclass
class WorkloadResult:
    """What a workload hands back besides its spans."""

    attempted: int
    failed: int
    # workload-specific figures for the detail line: name -> (value, unit)
    details: dict = field(default_factory=dict)
    # traced runs: detail name -> (span name, span_layers key or "seconds", unit)
    layer_spans: dict = field(default_factory=dict)
    files: int = 0  # data files the run left in its lake/stores
    bytes_per_row: float = 0.0
