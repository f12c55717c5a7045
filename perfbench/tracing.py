"""Layer attribution for the traced run.

Two sources, both measured from outside the package:

- ``Tracer`` keeps spans (name, start, end, parent, op id) in memory around
  the benchmark's calls into each layer and writes them out once, at the
  end. Disabled, every span is a no-op, so the untraced run pays nothing.
- ``EventLog`` parses the Spark event log (plain JSON lines, one file, no
  rolling, no compression) with the stdlib and sums executor counters per
  job group. A span that ``tags`` its calls sets the job group to
  ``<span name>#<op id>`` before the call, so every job, stage and task the
  call starts is attributed to it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | str | None = None, tag: bool = False):
        """Record ``name`` around the block. With ``tag``, jobs started in
        the block carry the job group ``name#op``."""
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "op": op,
                               "parent": stack[-1] if stack else None})
        sc = self.spark.sparkContext if tag else None
        if sc is not None:
            # the job group property alone (what setJobGroup sets), restored
            # afterwards: a sink callback runs on the stream's own thread,
            # whose group is the query's run id
            prev = sc.getLocalProperty(GROUP_KEY)
            sc.setLocalProperty(GROUP_KEY, f"{name}#{op}")
        stack.append(sid)
        start = time.time()
        cost = time.perf_counter() - t_in
        try:
            yield
        finally:
            end = time.time()
            t_out = time.perf_counter()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev)
            cost += time.perf_counter() - t_out
            self.spans[sid].update(start=start, end=end, cost=cost)

    def closed(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]

    def cost_s(self) -> float:
        """Seconds the tracer itself spent opening and closing the measured
        spans (integer op ids), job-group round trips to the JVM included:
        the part of the tracing overhead paid on the timed path in Python.
        The event log's cost is paid in the JVM; ``perfbench/overhead.py``
        measures the whole overhead, traced against untraced."""
        return sum(s["cost"] for s in self.closed() if isinstance(s["op"], int))

    def self_times(self) -> dict[str, dict]:
        """Per span name, over the measured spans (integer op ids; set-up
        and warm-up spans use string ids): count, total seconds, and self
        seconds (duration minus the part of it that child spans cover)."""
        children = defaultdict(list)
        for s in self.closed():
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.closed():
            if not isinstance(s["op"], int):
                continue
            total = s["end"] - s["start"]
            covered = union_length(children.get(s["id"], []), s["start"], s["end"])
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += total
            agg["self_s"] += total - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.closed(), f)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


class GroupStats:
    """Executor counters summed over every job of one job group."""

    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ns = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.shuffle_read = 0
        self.spill = 0
        self.sched_delay_ms = 0
        self.job_intervals: list[tuple[float, float]] = []  # epoch seconds

    def add(self, other: "GroupStats") -> "GroupStats":
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)
        return self


class EventLog:
    def __init__(self, path: str):
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        stage_submit: dict[int, int] = {}
        stage_first_launch: dict[int, int] = {}
        tasks: list[tuple[int, dict]] = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = {"group": group, "start": e["Submission Time"]}
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    if info.get("Submission Time") is not None:
                        stage_submit[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    launch = e["Task Info"]["Launch Time"]
                    stage_first_launch[sid] = min(launch, stage_first_launch.get(sid, launch))
                    tasks.append((sid, e.get("Task Metrics") or {}))
        self.groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
        for job in jobs.values():
            g = self.groups[job["group"]]
            g.jobs += 1
            if "end" in job:
                g.job_intervals.append((job["start"] / 1000.0, job["end"] / 1000.0))
        for sid, submitted in stage_submit.items():
            if sid in stage_job and sid in stage_first_launch:
                group = jobs[stage_job[sid]]["group"]
                self.groups[group].sched_delay_ms += max(0, stage_first_launch[sid] - submitted)
        for sid, m in tasks:
            if sid not in stage_job:
                continue
            g = self.groups[jobs[stage_job[sid]]["group"]]
            g.tasks += 1
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def group(self, name: str) -> GroupStats:
        return self.groups.get(name) or GroupStats()


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def layer_counters(prefix: str, stats: GroupStats, wall_s: float, cores: int) -> dict[str, float]:
    """The executor-side per-layer metrics shared by every layer.
    ``driver_s`` is wall time not covered by any of the layer's jobs."""
    return {
        f"{prefix}.tasks": stats.tasks,
        f"{prefix}.jobs": stats.jobs,
        f"{prefix}.executor_run_s": stats.run_ms / 1000.0,
        f"{prefix}.executor_cpu_s": stats.cpu_ns / 1e9,
        f"{prefix}.gc_s": stats.gc_ms / 1000.0,
        f"{prefix}.shuffle_bytes": stats.shuffle_write + stats.shuffle_read,
        f"{prefix}.shuffle_write_bytes": stats.shuffle_write,
        f"{prefix}.spill_bytes": stats.spill,
        f"{prefix}.sched_delay_s": stats.sched_delay_ms / 1000.0,
        f"{prefix}.executor_busy": (stats.run_ms / 1000.0) / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def span_split(tracer: Tracer, log: EventLog, name: str) -> list[tuple[float, float, GroupStats]]:
    """For every closed span called ``name`` with an integer op id (set-up
    and warm-up spans use string ids) that tagged its jobs: (wall seconds,
    seconds covered by its jobs, its group's counters)."""
    out = []
    for s in tracer.closed():
        if s["name"] != name or not isinstance(s["op"], int):
            continue
        stats = log.group(f"{name}#{s['op']}")
        covered = union_length(stats.job_intervals, s["start"], s["end"])
        out.append((s["end"] - s["start"], covered, stats))
    return out


def summed(split) -> GroupStats:
    out = GroupStats()
    for _, _, g in split:
        out.add(g)
    return out


def metadata_bytes(table_path: str) -> int:
    """Bytes of every manifest file (``_snapshots/*.json``) of a snapshot table."""
    meta = os.path.join(table_path, "_snapshots")
    return sum(os.path.getsize(os.path.join(meta, f)) for f in os.listdir(meta) if f.endswith(".json"))
