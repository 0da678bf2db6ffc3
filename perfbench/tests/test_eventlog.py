"""The event-log parser on a 3-event fixture in Spark's rolling layout."""

import json

import pytest

from eventlog import read_events, totals_by_group


def task_end(stage, cpu_ns, gc_ms, shuffle, mem_spill, disk_spill):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": mem_spill, "Disk Bytes Spilled": disk_spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


@pytest.fixture
def log_dir(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    job = {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
           "Properties": {"spark.jobGroup.id": "s2_edges"}}
    # the job start sits in the first rolled file, its tasks in the second
    (app / "events_1_local-1").write_text(json.dumps(job) + "\n")
    (app / "events_2_local-1").write_text(
        json.dumps(task_end(3, 2_000_000_000, 150, 4096, 10, 20)) + "\n"
        + json.dumps(task_end(9, 5_000_000_000, 1, 1, 1, 1)) + "\n"
    )
    (app / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_totals_by_group(log_dir):
    totals = totals_by_group(read_events(log_dir))
    # the stage-9 task belongs to no job in the log, so no group gets it
    assert list(totals) == ["s2_edges"]
    t = totals["s2_edges"]
    assert t["jobs"] == 1 and t["tasks"] == 1
    assert t["jvm_cpu_s"] == pytest.approx(2.0)
    assert t["gc_s"] == pytest.approx(0.15)
    assert t["shuffle_write_bytes"] == 4096
    assert t["spill_bytes"] == 30
