"""Event-log attribution for entry queries (guide §1/§7): runs named
queries with a noop sink under spark.eventLog, then prints per-job
wall-clock (submission→completion), stage counts and task totals so
small-data queries' fixed costs (job round-trips, stage scheduling,
plan compilation gaps) become visible. Diagnostic only.

Usage: python scripts/profile_query_events.py <query> [<query>...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
LOG_DIR = "/tmp/sparklogs"


def main() -> None:
    names = sys.argv[1:]
    import shutil

    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from deduplidog_spark.session import get_spark

    spark = get_spark(
        f"evprof-{CPUS}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOG_DIR,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10000).select(F.sha2(F.col("id").cast("string"), 256)).count()
    qs = E.queries()
    walls = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"q:{name}")
        t0 = time.time()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        walls[name] = time.time() - t0
    spark.stop()

    # parse the event log (single file, or a rolling eventlog_v2 dir)
    paths = []
    for root, _dirs, fs in os.walk(LOG_DIR):
        for f in fs:
            if f.startswith("events") or f.startswith("local-"):
                paths.append(os.path.join(root, f))
    jobs = {}  # id -> dict
    stages = {}  # id -> dict
    lines = []
    for path in sorted(paths):
        with open(path) as fh:
            lines.extend(fh.readlines())
    if True:
        for line in lines:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"],
                    "stages": ev.get("Stage IDs", []),
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                agg = stages.setdefault(sid, {}).setdefault(
                    "m", {"gc": 0, "run": 0, "cpu": 0, "deser": 0,
                          "fetch": 0, "swrite": 0}
                )
                agg["gc"] += tm.get("JVM GC Time", 0)
                agg["run"] += tm.get("Executor Run Time", 0)
                agg["cpu"] += tm.get("Executor CPU Time", 0) // 1_000_000
                agg["deser"] += tm.get("Executor Deserialize Time", 0)
                agg["fetch"] += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0
                )
                agg["swrite"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Write Time", 0
                ) // 1_000_000
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages.setdefault(si["Stage ID"], {}).update({
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "tasks": si["Number of Tasks"],
                    "ms": si.get("Completion Time", 0)
                    - si.get("Submission Time", si.get("Completion Time", 0)),
                })

    per_desc: dict[str, float] = {}
    last_end: dict[str, float] = {}
    gap: dict[str, float] = {}
    for jid in sorted(jobs):
        j = jobs[jid]
        if "t1" not in j:
            continue
        d = j["desc"]
        per_desc[d] = per_desc.get(d, 0.0) + (j["t1"] - j["t0"]) / 1000.0
        if d in last_end:
            gap[d] = gap.get(d, 0.0) + max(0, j["t0"] - last_end[d]) / 1000.0
        last_end[d] = j["t1"]
        sts = []
        for sid in j["stages"]:
            if sid not in stages or "tasks" not in stages[sid]:
                continue
            s = stages[sid]
            m = s.get("m", {})
            sts.append(
                f"s{sid}:{s['tasks']}t/{s['ms']}ms"
                f"(run={m.get('run', 0)} cpu={m.get('cpu', 0)} gc={m.get('gc', 0)}"
                f" fetch={m.get('fetch', 0)} deser={m.get('deser', 0)})"
            )
        skipped = len([s for s in j["stages"] if s not in stages])
        print(
            f"job {jid:3d} [{d[:40]:40s}] {(j['t1']-j['t0'])/1000.0:7.2f}s "
            f"stages={len(j['stages'])}({skipped} skipped) {' '.join(sts)}"
        )
    print()
    for d, tot in per_desc.items():
        w = walls.get(d[2:], 0.0)
        print(
            f"[{d[:46]:46s}] jobs_wall={tot:7.2f}s between_jobs={gap.get(d, 0.0):6.2f}s "
            f"query_wall={w:7.2f}s"
        )


if __name__ == "__main__":
    main()
