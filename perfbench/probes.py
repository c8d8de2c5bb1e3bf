"""Read-only probes: host context and process figures from ``/proc``, Spark
job/stage/task counts from ``SparkContext.statusTracker()``, Catalyst phase
times from a DataFrame's ``QueryPlanningTracker``, and file sizes."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- host
def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_snapshot() -> dict:
    """nproc, 1-min loadavg and the aggregate cpu counters of /proc/stat."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "cpu": _cpu_times(),
    }


def steal_share(a: dict, b: dict) -> float:
    """Share of all cpu time stolen by the hypervisor between two
    snapshots (/proc/stat field 8, ``steal``)."""
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


# ----------------------------------------------------------- processes
def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (the JVM that pyspark launched)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's own peak resident set (VmHWM), in MiB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User + system cpu seconds consumed so far by ``pids``."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / CLK_TCK


# --------------------------------------------------------------- spark
def group_counters(sc, group: str, timeout_s: float = 30.0) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group.  Waits for
    the status tracker to see every job of the group finish (it is fed
    asynchronously by the listener bus)."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"jobs of {group} still running after {timeout_s}s")
        time.sleep(0.002)
    stages = tasks = failed = 0
    for j in jobs:
        for sid in j.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:  # skipped: its shuffle output was reused
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


PHASES = ("analysis", "optimization", "planning")


def planning_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by the DataFrame's
    ``QueryPlanningTracker``; phases not run yet are absent."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            out[p] = float(opt.get().durationMs())
    return out


# --------------------------------------------------------------- files
def file_sizes(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def bytes_new(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that appeared (or were rewritten to another size)
    between two :func:`file_sizes` listings."""
    return sum(s for p, s in after.items() if before.get(p) != s)
