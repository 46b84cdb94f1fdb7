"""Spark event-log attribution of the measured crawl passes.

Same definitions as ``BENCH/decompose_floor.py``, applied to a list of
timed windows instead of one:

    job_busy_s   = union of [job submit, job end] inside the windows
    driver_gap_s = sum of window lengths - job_busy_s  (plan build, Python
                   orchestration, job submission: no core count shrinks it)
    task_s       = sum over tasks of (finish - launch)
    gc_s         = sum of task JVM GC time

Every figure is per pass (totals divided by the number of windows), so
runs that fit a different number of passes in their time stay comparable.
"""

from __future__ import annotations

import json
import os


def attribute(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """``windows``: (start, end) wall-clock epoch seconds of each pass."""
    wins = [(s * 1000.0, e * 1000.0) for s, e in windows]

    def inside(t0: float, t1: float) -> bool:
        return any(s <= t0 and t1 <= e for s, e in wins)

    jobs: dict[int, float] = {}
    busy: list[tuple[float, float]] = []
    n_stages = n_tasks = 0
    task_s = gc_s = shuffle_b = 0.0
    # one uncompressed, non-rolling log file per application (run.py's conf)
    names = sorted(os.listdir(log_dir))
    if not names:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for name in names:
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    start = jobs.get(ev["Job ID"])
                    end = ev["Completion Time"]
                    if start is not None and inside(start, end):
                        busy.append((start, end))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    t0 = info.get("Submission Time")
                    t1 = info.get("Completion Time")
                    if t0 is not None and t1 is not None and inside(t0, t1):
                        n_stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    t0, t1 = info.get("Launch Time", 0), info.get("Finish Time", 0)
                    if not inside(t0, t1):
                        continue
                    n_tasks += 1
                    task_s += (t1 - t0) / 1000.0
                    m = ev.get("Task Metrics") or {}
                    gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    shuffle_b += sw.get("Shuffle Bytes Written", 0)
    busy_s = 0.0
    cur_s = cur_e = None
    for s, e in sorted(busy):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy_s += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy_s += cur_e - cur_s
    busy_s /= 1000.0
    wall_s = sum(e - s for s, e in windows)
    n = max(1, len(windows))
    return {
        "spark.jobs": len(busy) / n,
        "spark.stages": n_stages / n,
        "spark.tasks": n_tasks / n,
        "spark.task_s": task_s / n,
        "spark.job_busy_s": busy_s / n,
        "spark.driver_gap_s": (wall_s - busy_s) / n,
        "spark.shuffle_write_mb": shuffle_b / 1e6 / n,
        "spark.gc_s": gc_s / n,
    }
