"""Tracing helpers: in-memory spans, Spark event-log accounting, process
CPU time and memory, and host steal time.

The event-log accounting (jobs, stages and the driver gaps between jobs
inside a wall-clock window) follows ``tools/profile_query.py``; here it is
applied per timed op and extended with task metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Spans:
    """Spans kept in memory: ``(name, op, start, end)`` in wall seconds."""

    def __init__(self):
        self.spans: list[tuple[str, int, float, float]] = []
        self.op = -1

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, self.op, t0, time.time()))

    def total(self, name: str, op: int) -> float:
        return sum(t1 - t0 for n, o, t0, t1 in self.spans if n == name and o == op)

    def window(self, name: str, op: int) -> tuple[float, float]:
        """Start of the first and end of the last span ``name`` of ``op``."""
        mine = [(t0, t1) for n, o, t0, t1 in self.spans if n == name and o == op]
        return min(t0 for t0, _ in mine), max(t1 for _, t1 in mine)


# -- event log ------------------------------------------------------------


def read_event_log(evdir: str) -> list[dict]:
    """Every event of every application log under ``evdir``."""
    events = []
    for p in sorted(Path(evdir).rglob("*")):
        if not p.is_file() or p.name.startswith("."):
            continue
        with open(p) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue  # a torn last line of an in-progress log
    return events


class EventLog:
    """Jobs, stages and tasks of one application, indexed for windows."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {
                    "t0": e["Submission Time"],
                    "t1": e["Submission Time"],
                }
            elif ev == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job["t1"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                t0 = si.get("Submission Time")
                if t0 is None:
                    continue  # skipped stage
                self.stages[si["Stage ID"]] = {
                    "t0": t0,
                    "t1": si.get("Completion Time", t0),
                }
            elif ev == "SparkListenerTaskEnd":
                info = e.get("Task Info", {})
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                self.tasks.append({
                    "stage": e["Stage ID"],
                    "t0": info.get("Launch Time", 0),
                    "t1": info.get("Finish Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sr": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })

    def window(self, t0: float, t1: float) -> dict:
        """Accounting for the wall-clock window [t0, t1] (seconds)."""
        m0, m1 = t0 * 1000, t1 * 1000
        jobs = sorted(
            (j for j in self.jobs.values() if m0 <= j["t0"] <= m1),
            key=lambda j: j["t0"],
        )
        stage_ids = {s for s, st in self.stages.items() if m0 <= st["t0"] <= m1}
        tasks = [t for t in self.tasks if m0 <= t["t0"] <= m1]
        # driver gaps: window time not covered by any job interval
        covered = 0.0
        cur0 = cur1 = None
        for j in jobs:
            a, b = j["t0"], min(max(j["t1"], j["t0"]), m1)
            if cur1 is None or a > cur1:
                if cur1 is not None:
                    covered += cur1 - cur0
                cur0, cur1 = a, b
            else:
                cur1 = max(cur1, b)
        if cur1 is not None:
            covered += cur1 - cur0
        # skew of the longest stage
        skew = 0.0
        if stage_ids:
            longest = max(
                stage_ids, key=lambda s: self.stages[s]["t1"] - self.stages[s]["t0"]
            )
            durs = [t["t1"] - t["t0"] for t in tasks if t["stage"] == longest]
            if durs:
                # a median under the log's 1 ms resolution counts as 1 ms
                skew = max(durs) / max(statistics.median(durs), 1)
        return {
            "jobs": len(jobs),
            "stages": len(stage_ids),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1000,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
            "driver_gap_s": max(0.0, (m1 - m0 - covered) / 1000),
            "shuffle_write_bytes": sum(t["sw"] for t in tasks),
            "shuffle_read_bytes": sum(t["sr"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "task_skew": skew,
        }


# -- processes ------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """``pid -> (ppid, own ticks, reaped-children ticks)`` of every
    process, CPU time being user + system."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended while listing
        # fields after the parenthesised command name, from field 3 (state)
        rest = stat[stat.rindex(")") + 2:].split()
        table[int(d)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]),
        )
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """Live processes under ``root``, root excluded."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_cpu) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(jvm: int | None = None) -> tuple[float, float]:
    """CPU seconds used so far by this process and every process under it
    (the driver Python, the JVM, the Python workers, and those of them
    already reaped), and the part of it the JVM used itself.

    Time the hypervisor steals from the machine is not charged to any
    process, so on a loaded host these read what they read on an idle
    one, where wall time does not."""
    table = _proc_table()
    root = os.getpid()
    tree = sum(
        table[p][1] + table[p][2]
        for p in (root, *descendants(root, table)) if p in table
    )
    own = table[jvm][1] if jvm in table else 0
    tick = os.sysconf("SC_CLK_TCK")
    return tree / tick, own / tick


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def pss_mb(pid: int) -> float:
    """Proportional set size of a process, in MB: its private pages plus
    its share of those it shares (a forked Python worker's), so that the
    PSS of several processes adds up."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no Pss for pid {pid}")


def retained_mb(spark, jvm: int) -> dict[str, float]:
    """Memory the run holds now, in MB: the JVM's live heap after a full
    collection plus its non-heap use (class metadata, compiled code), and
    the PSS of every Python process of the run (driver and workers).

    Unlike resident-set peaks, which follow when the collector chose to
    grow the heap, this follows what the program keeps."""
    jl = spark._jvm.java.lang
    jl.System.gc()
    bean = jl.management.ManagementFactory.getMemoryMXBean()
    heap = bean.getHeapMemoryUsage().getUsed() / 2**20
    nonheap = bean.getNonHeapMemoryUsage().getUsed() / 2**20
    python = 0.0
    for pid in (os.getpid(), *descendants(os.getpid())):
        if pid == jvm:
            continue
        try:
            python += pss_mb(pid)
        except (OSError, ValueError):
            continue  # ended meanwhile
    return {"jvm_heap": heap, "jvm_nonheap": nonheap, "python": python}


def host_steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs since
    boot (the ``steal`` column of /proc/stat), in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
