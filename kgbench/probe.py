"""Outside-in measurement: /proc readers, Spark job-group counters,
event-log shuffle bytes and an in-memory span list.

Nothing here reaches into ``rdfa_spark``: every number is read from
the operating system, from ``SparkContext.statusTracker()`` or from
the event log Spark writes, around calls the benchmark makes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    # fields 4, 14-17 of proc(5): ppid, utime, stime, cutime, cstime
    ticks = sum(int(x) for x in rest[11:15])
    return int(rest[1]), ticks / CLK_TCK


def descendants(root: int) -> dict[int, float]:
    """pid -> cpu seconds for every process below ``root`` (the JVM,
    the PySpark daemon and its Python workers)."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                procs[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid][1]
        todo.extend(kids.get(pid, ()))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def python_cpu(root: int) -> float:
    """CPU seconds of the Python processes below ``root``."""
    return sum(c for pid, c in descendants(root).items()
               if _is_python(pid))


def worker_peak_rss_mb(root: int) -> float:
    """Largest VmHWM of any Python process below ``root``."""
    peak = 0
    for pid in descendants(root):
        if not _is_python(pid):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak / 1024.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    # guest time is already counted in user; steal is field 8
    total = sum(d[:8])
    return d[7] / total if total else 0.0


# ---------------------------------------------------------------------------
# Spans and job-group counters
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str = ""
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) around
    each layer call; each span runs under its own Spark job group so
    its job, stage and task counts can be read back afterwards."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    def start(self, name: str) -> Span:
        self._n += 1
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1].name if self._stack else None,
                  group=f"{self.run_id}:{self._n}:{name}")
        self.sc.setJobGroup(sp.group, name, False)
        self._stack.append(sp)
        self.spans.append(sp)
        return sp

    def stop(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self.sc.setJobGroup(parent.group, parent.name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        sp.counts.update(job_counts(self.sc, [sp.group]))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "name": sp.name,
                    "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "group": sp.group,
                    "counts": sp.counts}) + "\n")


def job_counts(sc, groups: list[str]) -> dict:
    """Jobs, stages run, tasks run and failed tasks of job groups."""
    st = sc.statusTracker()
    jobs, stages = 0, set()
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            stages.update(info.stageIds)
    n_stages = tasks = failed = 0
    for sid in stages:
        si = st.getStageInfo(sid)
        if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
            continue          # skipped: its output was reused
        n_stages += 1
        tasks += si.numCompletedTasks + si.numFailedTasks
        failed += si.numFailedTasks
    return {"jobs": jobs, "stages": n_stages, "tasks": tasks,
            "failed_tasks": failed}


def shuffle_write_by_group(event_dir: str) -> dict[str, int]:
    """group -> shuffle bytes written, from a Spark event log,
    attributing each stage to the job group that submitted it."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, int] = {}
    # rolling logs (the default) are one directory per application
    for path in glob.glob(os.path.join(event_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    props = ev.get("Properties") or {}
                    stage_group[sid] = props.get("spark.jobGroup.id", "")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    w = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    sid = ev["Stage ID"]
                    per_stage[sid] = per_stage.get(sid, 0) + w
    out: dict[str, int] = {}
    for sid, w in per_stage.items():
        g = stage_group.get(sid, "")
        out[g] = out.get(g, 0) + w
    return out
