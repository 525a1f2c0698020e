"""Per-span layer counters from a Spark event log.

The benchmark tags every call it makes with ``sc.setJobGroup(<span>)``
and records the call's wall-clock window. After ``spark.stop()`` the
uncompressed JSON-lines event log is parsed here: each job is
attributed to a span by its ``spark.jobGroup.id`` (falling back to a
span-tagged job of the same SQL execution, then to the window that
contains its submission), and each task to the job that first listed
its stage.

Per span: ``driver_s`` is the span's wall minus the union of its job
intervals inside its windows; ``residual`` is the share of job time
that fell outside the span's windows, so ``wall_s`` reconciles with
``driver_s`` + in-job time to within ``residual``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = float(1 << 20)
COUNTERS = [
    "wall_s", "driver_s", "jobs", "tasks", "task_run_s", "task_cpu_s",
    "gc_s", "shuffle_write_mb", "spill_mb", "input_mb", "output_mb",
    "failed_tasks",
]


@dataclass
class Job:
    group: str | None
    execution: str | None
    start: float  # epoch seconds
    end: float | None = None
    tasks: dict = field(default_factory=lambda: defaultdict(float))


def read_jobs(path: str) -> dict[int, Job]:
    """Jobs of one event log, each with its summed task counters."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = Job(
                    props.get("spark.jobGroup.id"),
                    props.get("spark.sql.execution.id"),
                    e["Submission Time"] / 1000.0,
                )
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is not None:
                    _add_task(jobs[jid].tasks, e)
    return jobs


def _add_task(acc: dict, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["failed_tasks"] += e["Task End Reason"]["Reason"] != "Success"
    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    acc["shuffle_write_mb"] += (
        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
    )
    acc["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    acc["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB


def union(intervals) -> list[tuple[float, float]]:
    """Merged, sorted, non-overlapping intervals."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def intersect_length(xs, ys) -> float:
    """Total length of union(xs) ∩ union(ys)."""
    xs, ys = union(xs), union(ys)
    total, i, j = 0.0, 0, 0
    while i < len(xs) and j < len(ys):
        lo, hi = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        total += max(0.0, hi - lo)
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def attribute(jobs: dict[int, Job], windows) -> dict[int, str | None]:
    """Job id → span name (None when no span claims it)."""
    spans = {w[0] for w in windows}
    by_exec = {
        j.execution: j.group for j in jobs.values()
        if j.group in spans and j.execution is not None
    }
    out = {}
    for jid, j in jobs.items():
        if j.group in spans:
            out[jid] = j.group
        elif j.execution in by_exec:
            out[jid] = by_exec[j.execution]
        else:
            out[jid] = next(
                (s for s, a, b in windows if a <= j.start <= b), None
            )
    return out


def span_profile(path: str, windows, n_ops: int) -> tuple[dict, dict]:
    """Per-span counters, each averaged per op, plus the per-span
    reconciliation residual. ``windows`` is a list of
    ``(span, start, end)`` in epoch seconds; jobs submitted before the
    first window (set-up, warm-up) are left out."""
    first = min(a for _, a, _ in windows)
    jobs = {jid: j for jid, j in read_jobs(path).items() if j.start >= first}
    owner = attribute(jobs, windows)
    profile, residual = {}, {}
    for span in sorted({w[0] for w in windows}):
        wins = [(a, b) for s, a, b in windows if s == span]
        mine = [j for jid, j in jobs.items() if owner[jid] == span]
        intervals = [(j.start, j.end if j.end else j.start) for j in mine]
        wall = sum(b - a for a, b in wins)
        in_job = intersect_length(intervals, wins)
        outside = length(intervals) - in_job
        c = {k: 0.0 for k in COUNTERS}
        c["wall_s"] = wall
        c["driver_s"] = wall - in_job
        c["jobs"] = float(len(mine))
        for j in mine:
            for k, v in j.tasks.items():
                c[k] += v
        profile[span] = {k: v / n_ops for k, v in c.items()}
        residual[span] = outside / wall if wall > 0 else 0.0
    unattributed = sum(1 for s in owner.values() if s is None)
    return profile, {"residual": residual, "unattributed_jobs": unattributed}
