"""Fold a Spark event log into per-job-group layer metrics.

The benchmark sets one job group around each workload call; every job,
stage and task that call starts carries the group in its properties. This
module reads the uncompressed, non-rolling JSON-lines log and sums, per
group:

* counts: jobs, tasks, input/output/shuffle/spill bytes and the bytes sent
  to and returned from Python workers;
* task time: executor run and CPU time, and the named task-time layers
  (scan, Python, shuffle fetch wait, shuffle write, GC) with ``other_s``
  the part of executor run time no named layer covers, so the layers add
  up to ``executor_run_s`` exactly;
* wall time: ``job_s``, the union of the group's job intervals, and
  ``task_skew``, max ÷ median task run time in the group's longest stage.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# SQL metric accumulators (names as Spark 4.1 logs them) -> (metric, scale
# to seconds or bytes). Timing metrics are logged in ms or ns.
_SQL_METRICS = {
    "scan time": ("scan_s", 1e-3),
    "time to start Python workers": ("python_s", 1e-3),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_returned", 1),
}
NAMED_TASK_LAYERS = ("scan_s", "python_s", "shuffle_fetch_wait_s",
                     "shuffle_write_s", "gc_s")
METRICS = ("jobs", "tasks", "input_bytes", "output_bytes", "executor_run_s",
           "executor_cpu_s", "gc_s", "scan_s", "python_s",
           "python_bytes_sent", "python_bytes_returned",
           "shuffle_write_bytes", "shuffle_read_bytes",
           "shuffle_fetch_wait_s", "shuffle_write_s", "spill_bytes",
           "other_s", "job_s", "task_skew")


def read_events(log: Path):
    """Yield the events of one application log file, in order."""
    with open(log) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def fold(events) -> dict[str, dict[str, float]]:
    """{job group: {metric: value}} for every group that ran a job."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list] = defaultdict(list)
    stage_span: dict[int, tuple[int, int]] = {}
    task_times: dict[int, list[int]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS, 0.0))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_start[jid] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            out[group]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                intervals[job_group[jid]].append(
                    (job_start[jid], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_span[info["Stage ID"]] = (info["Submission Time"],
                                                info["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if group is None or not tm:
                continue
            m = out[group]
            m["tasks"] += 1
            run_ms = tm["Executor Run Time"]
            task_times[e["Stage ID"]].append(run_ms)
            m["executor_run_s"] += run_ms / 1e3
            m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["gc_s"] += tm["JVM GC Time"] / 1e3
            m["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
            m["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            m["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                        + sr["Local Bytes Read"])
            m["shuffle_fetch_wait_s"] += sr["Fetch Wait Time"] / 1e3
            m["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            m["shuffle_write_s"] += sw["Shuffle Write Time"] / 1e9
            m["spill_bytes"] += (tm["Memory Bytes Spilled"]
                                 + tm["Disk Bytes Spilled"])
            for acc in e["Task Info"].get("Accumulables", []):
                hit = _SQL_METRICS.get(acc.get("Name"))
                if hit is not None and acc.get("Update") is not None:
                    m[hit[0]] += float(acc["Update"]) * hit[1]

    for group, m in out.items():
        m["job_s"] = _union_seconds(intervals[group])
        m["other_s"] = m["executor_run_s"] - sum(
            m[k] for k in NAMED_TASK_LAYERS)
        stages = [s for s, g in stage_group.items()
                  if g == group and s in stage_span and task_times.get(s)]
        if stages:
            longest = max(stages, key=lambda s: stage_span[s][1]
                          - stage_span[s][0])
            times = task_times[longest]
            m["task_skew"] = max(times) / max(statistics.median(times), 1)
    return dict(out)
