"""The event-log folder on a tiny recorded log and on hand-made events."""

from pathlib import Path

import pytest

from perfbench.eventlog import NAMED_TASK_LAYERS, fold, read_events

DATA = Path(__file__).parent / "data"


def _task(stage, run_ms, **extra):
    tm = {
        "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
        "JVM GC Time": extra.get("gc", 0),
        "Input Metrics": {"Bytes Read": extra.get("inb", 0)},
        "Output Metrics": {"Bytes Written": extra.get("outb", 0)},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                 "Local Bytes Read": extra.get("srb", 0),
                                 "Fetch Wait Time": extra.get("fw", 0)},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("swb", 0),
                                  "Shuffle Write Time": extra.get("swt", 0)},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": extra.get("spill", 0),
    }
    acc = [{"Name": n, "Update": str(v)} for n, v in extra.get("acc", [])]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc}, "Task Metrics": tm}


def _job(jid, group, stages, start, end):
    props = {"spark.jobGroup.id": group} if group else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid,
             "Submission Time": start, "Stage IDs": stages,
             "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid,
             "Completion Time": end}]


def _stage(sid, start, end):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Submission Time": start,
                           "Completion Time": end}}


def test_fold_hand_made_events():
    events = [
        *_job(0, "g", [0], 1000, 3000),
        *_job(1, "g", [1], 2000, 4000),   # overlaps job 0: union is 3 s
        *_job(2, "g", [2], 6000, 6500),
        *_job(3, None, [3], 0, 9000),     # no group: not counted
        _stage(0, 1000, 3000), _stage(1, 2000, 4000), _stage(2, 6000, 6500),
        _task(0, 100, inb=10, gc=5, acc=[("scan time", 40)]),
        _task(0, 300, inb=20, acc=[("time to run Python workers", 200),
                                   ("time to start Python workers", 10),
                                   ("data sent to Python workers", 7),
                                   ("data returned from Python workers", 3)]),
        _task(1, 200, swb=50, swt=20_000_000, fw=30, srb=40),
        _task(1, 600, outb=99, spill=8),
        _task(2, 50),
        _task(3, 1000, inb=1_000_000),
    ]
    m = fold(events)["g"]
    assert m["jobs"] == 3 and m["tasks"] == 5
    assert m["job_s"] == pytest.approx(3.5)
    assert m["executor_run_s"] == pytest.approx(1.25)
    assert m["input_bytes"] == 30 and m["output_bytes"] == 99
    assert m["scan_s"] == pytest.approx(0.04)
    assert m["python_s"] == pytest.approx(0.21)
    assert (m["python_bytes_sent"], m["python_bytes_returned"]) == (7, 3)
    assert m["shuffle_write_bytes"] == 50 and m["shuffle_read_bytes"] == 40
    assert m["shuffle_write_s"] == pytest.approx(0.02)
    assert m["shuffle_fetch_wait_s"] == pytest.approx(0.03)
    assert m["gc_s"] == pytest.approx(0.005)
    assert m["spill_bytes"] == 8
    # longest stage is stage 0 or 1 (2 s each; max picks the first): skew
    # is max / median task time there
    assert m["task_skew"] == pytest.approx(300 / 200)
    assert m["other_s"] == pytest.approx(
        m["executor_run_s"] - sum(m[k] for k in NAMED_TASK_LAYERS))


def test_fold_recorded_log():
    """A log Spark 4.1 wrote for two job groups (a pandas UDF, a shuffle
    and a parquet write in one, a read-back count in the other), trimmed
    to the events and properties the folder reads."""
    groups = fold(read_events(DATA / "tiny_eventlog.jsonl"))
    assert set(groups) == {"write", "read"}
    w, r = groups["write"], groups["read"]
    assert w["python_s"] > 0 and w["python_bytes_sent"] > 0
    assert w["shuffle_write_bytes"] > 0 and w["output_bytes"] > 0
    assert r["input_bytes"] > 0 and r["python_s"] == 0
    for m in (w, r):
        assert m["jobs"] >= 1 and m["tasks"] >= m["jobs"]
        assert 0 < m["job_s"]
        assert m["other_s"] == pytest.approx(
            m["executor_run_s"] - sum(m[k] for k in NAMED_TASK_LAYERS))
