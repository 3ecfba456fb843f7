"""Per-phase executor metrics from Spark's plain-JSON event log.

Every op tags its jobs with the job group ``<op>/build`` or
``<op>/run``. This module sums the task metrics of the timed ops' jobs
by phase and measures the driver gap: the part of each phase's wall
time that no Spark job covers (Python, planning, py4j round trips,
scheduling waits).
"""

from __future__ import annotations

import json

PHASES = ("build", "run")


def _read(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def _inside(t: float, intervals: list[tuple[float, float, float]]) -> bool:
    """Whether epoch second ``t`` falls in a timed op; a job's submission
    time is in whole milliseconds, hence the 1 ms slack."""
    return any(b0 - 0.001 <= t <= r1 for b0, _r0, r1 in intervals)


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``spans``."""
    total, cur = 0.0, lo
    for a, b in spans:
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def phase_metrics(
    log_path: str, intervals: list[tuple[float, float, float]], passes: int
) -> dict[str, float]:
    """Metrics per pass, keyed ``exec.<phase>.<name>``.

    ``log_path`` is the finished log of a stopped context. ``intervals`` holds one (build start, run start, run end) epoch-second
    triple per timed op; ``passes`` is the number of passes they span.
    """
    stage_phase: dict[int, str] = {}
    job_start: dict[int, float] = {}
    spans: list[tuple[float, float]] = []
    sums = {p: dict.fromkeys(
        ("cpu_s", "task_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"),
        0.0) for p in PHASES}
    for ev in _read(log_path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            phase = group.rsplit("/", 1)[-1]
            t = ev["Submission Time"] / 1000.0
            if phase in PHASES and _inside(t, intervals):
                job_start[ev["Job ID"]] = t
                for s in ev.get("Stage IDs", ()):
                    stage_phase.setdefault(s, phase)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            spans.append((job_start[ev["Job ID"]], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if phase is None or not tm:
                continue
            acc = sums[phase]
            acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            rd = tm.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            acc["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    spans.sort()
    gap = dict.fromkeys(PHASES, 0.0)
    for b0, r0, r1 in intervals:
        gap["build"] += (r0 - b0) - _covered(spans, b0, r0)
        gap["run"] += (r1 - r0) - _covered(spans, r0, r1)
    out = {}
    for p in PHASES:
        for k, v in sums[p].items():
            out[f"exec.{p}.{k}"] = v / passes
        out[f"exec.{p}.driver_gap_s"] = gap[p] / passes
    return out
