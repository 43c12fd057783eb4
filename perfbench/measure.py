"""Measurement plumbing: spans, hypervisor steal, process-tree RSS and
Spark event-log stage metrics grouped by job group."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


def cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def steal_pct(before, after) -> float | None:
    if before is None or after is None or after[1] <= before[1]:
        return None
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


class Sample:
    """Wall time and steal of one timed block: ``with Sample() as s:``."""

    def __enter__(self) -> "Sample":
        self.ticks = cpu_ticks()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.steal = steal_pct(self.ticks, cpu_ticks())


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out
    once by :meth:`dump`.  Each span also tags the Spark jobs it submits
    from the calling thread with a job group named after the span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent, parent)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants.  A java child
    of the JVM is a fork that has not exec'd its helper command yet and
    still maps all of the JVM's pages, so it is not counted.  The
    executable is read before the status, so a fork that execs in
    between is seen with its small post-exec RSS."""
    children = defaultdict(list)
    rss, exe = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            exe[pid] = os.readlink(f"/proc/{d}/exe")
        except OSError:
            exe[pid] = ""
        try:
            with open(f"/proc/{d}/status") as f:
                ppid = kb = 0
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(pid)
        rss[pid] = kb
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(c for c in children.get(pid, ())
                    if not (exe[pid].endswith("/java") and exe[c] == exe[pid]))
    return total


class PeakRss:
    """Background sampler of the peak summed RSS of this process tree:
    this Python process, the JVM it launched and the Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stage_metrics(event_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, stages run, executor CPU seconds, shuffle
    bytes written and bytes spilled, from the Spark event log.  Jobs
    submitted without a group (from the program's own worker threads)
    go to the innermost span whose interval holds their submit time."""
    job_group: dict[int, str] = {}
    stage_jobs: dict[int, int] = {}
    per_stage = defaultdict(lambda: [0, 0, 0])  # cpu ns, shuffle B, disk spill B
    ran_stages: set[int] = set()
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        group = _span_at(spans, ev["Submission Time"] / 1000.0)
                    job_group[ev["Job ID"]] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_jobs.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = per_stage[ev["Stage ID"]]
                    acc[0] += m.get("Executor CPU Time", 0)
                    acc[1] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc[2] += m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    ran_stages.add(ev["Stage Info"]["Stage ID"])
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "executor_cpu_s": 0.0,
                 "shuffle_write_mb": 0.0, "spill_mb": 0.0})
    for group in job_group.values():
        out[group]["jobs"] += 1
    for sid in ran_stages:
        group = job_group.get(stage_jobs.get(sid))
        cpu, shuffle, spill = per_stage[sid]
        g = out[group]
        g["stages"] += 1
        g["executor_cpu_s"] += cpu / 1e9
        g["shuffle_write_mb"] += shuffle / 2**20
        g["spill_mb"] += spill / 2**20
    return dict(out)


def _span_at(spans: list[dict], t: float) -> str | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best["name"] if best else None
