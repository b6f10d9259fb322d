"""Summarize a Spark event log: per-stage wall + executor time.

Attribution tool for the two-parallelism scaling evidence: the gap
between job wall-clock and the sum of stage walls is driver-side time
(planning, commit protocol, py4j round-trips) — the Amdahl serial
section that local[N] cannot parallelize but a real cluster's driver
pays identically at every executor count.

    WSS_EVENTLOG_DIR=/tmp/wss_ev python benchkit/one_round.py --cpus 8 ...
    python benchkit/parse_eventlog.py /tmp/wss_ev/<app-id>

The path may be a single log file (plain or zstd) or a rolling
``eventlog_v2_<app-id>/`` directory of ``events_<n>_*`` parts, Spark 4's
format with rolling on. Exits 1 when the log holds no completed stage.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlbench.eventlog import iter_events  # noqa: E402


def summarize(path: str, top: int = 15) -> dict:
    stages = []
    app_start = app_end = None
    jobs = []
    for ev in iter_events(path):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app_start = ev["Timestamp"]
        elif e == "SparkListenerApplicationEnd":
            app_end = ev["Timestamp"]
        elif e == "SparkListenerJobStart":
            jobs.append(
                {"id": ev["Job ID"], "t0": ev["Submission Time"], "t1": None}
            )
        elif e == "SparkListenerJobEnd":
            for j in jobs:
                if j["id"] == ev["Job ID"]:
                    j["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            com = si.get("Completion Time")
            if sub and com:
                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"].split("\n")[0][:80],
                        "wall_s": (com - sub) / 1000.0,
                        "tasks": si["Number of Tasks"],
                    }
                )
    stages.sort(key=lambda s: -s["wall_s"])
    job_wall = sum((j["t1"] - j["t0"]) / 1000.0 for j in jobs if j["t1"])
    stage_wall = sum(s["wall_s"] for s in stages)
    # stages overlap within a job only when jobs run concurrently —
    # the round driver is sequential, so sums are comparable
    by_name = defaultdict(float)
    for s in stages:
        by_name[s["name"]] += s["wall_s"]
    out = {
        "app_wall_s": round((app_end - app_start) / 1000.0, 1)
        if app_start is not None and app_end is not None
        else None,
        "n_jobs": len(jobs),
        "n_stages": len(stages),
        "job_wall_sum_s": round(job_wall, 1),
        "stage_wall_sum_s": round(stage_wall, 1),
        "driver_gap_s": round(job_wall - stage_wall, 1),
        "top_stages": stages[:top],
        "by_name": dict(
            sorted(by_name.items(), key=lambda kv: -kv[1])[:top]
        ),
    }
    return out


def main(argv: list[str]) -> int:
    out = summarize(argv[0])
    if not out["n_stages"]:
        print(f"no completed stage events in {argv[0]}", file=sys.stderr)
        return 1
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
