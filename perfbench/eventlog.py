"""Spark event-log reader for the runtime figures of the traced run.

Reads one uncompressed, non-rolling log (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``). Jobs are attributed by their
``spark.job.description``, which the traced run sets around each span.
"""

from __future__ import annotations

import json
from collections import defaultdict


def read_jobs(path: str):
    """(jobs, tasks): jobs as {id: (description, submit_ms, end_ms)},
    tasks as {description: summed task metrics}. A stage belongs to the
    first job that lists it: later jobs list it again only as skipped."""
    starts, ends, stage_job = {}, {}, {}
    tasks: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                starts[jid] = (desc, ev["Submission Time"])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                ends[ev["Job ID"]] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics") or {}
                if jid is None or not tm:
                    continue
                agg = tasks[starts[jid][0]]
                agg["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                agg["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                agg["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    jobs = {j: (d, t0, ends[j]) for j, (d, t0) in starts.items() if j in ends}
    return jobs, tasks


def busy_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= cur_end:
            continue
        total += t1 - max(t0, cur_end)
        cur_end = t1
    return total


def runtime_figures(jobs, tasks, desc: str, t0: float, t1: float) -> dict[str, float]:
    """Figures for the jobs labelled ``desc``, whose span ran from t0 to
    t1 (epoch seconds): ``driver_gap_s`` is the part of the span in
    which none of them was running."""
    lo, hi = t0 * 1e3, t1 * 1e3
    mine = [(max(s, lo), min(e, hi)) for d, s, e in jobs.values() if d == desc]
    agg = tasks.get(desc, {})
    return {
        "jobs": len(mine),
        "driver_gap_s": (hi - lo - busy_ms([iv for iv in mine if iv[1] > iv[0]])) / 1e3,
        **{k: agg.get(k, 0.0) for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")},
    }
