"""tools/analyze_eventlog.py reads the event-log layouts Spark writes."""

from __future__ import annotations

import json

import pytest

from tools.analyze_eventlog import event_files, load


def _events(job_id, stage_id, desc):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Properties": {"spark.job.description": desc},
         "Stage Infos": [{"Stage ID": stage_id}]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
         "Task Metrics": {"Executor Run Time": 40,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Submission Time": 1000,
                        "Completion Time": 1250, "Stage Name": f"s{stage_id}",
                        "Number of Tasks": 1}},
    ]


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def test_rolling_directory_parts_read_in_index_order(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    # index 10 sorts before 2 as text; events must come in index order
    _write(roll / "events_2_local-1", _events(1, 1, "bench:b:rep0"))
    _write(roll / "events_10_local-1", _events(2, 2, "bench:c:rep0"))
    _write(roll / "events_1_local-1", _events(0, 0, "bench:a:rep0"))
    (roll / "appstatus_local-1").write_text("")
    want = ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert [p.rsplit("/", 1)[1] for p in event_files(str(roll))] == want
    # the event-log dir holding the rolling dir works too
    assert event_files(str(tmp_path)) == event_files(str(roll))

    job_desc, stage_job, stages = load(str(roll))
    assert job_desc == {0: "bench:a:rep0", 1: "bench:b:rep0", 2: "bench:c:rep0"}
    assert stage_job == {0: 0, 1: 1, 2: 2}
    assert stages[1]["ms"] == 250
    assert stages[1]["exec_ms"] == 40
    assert stages[1]["sh_write"] == 7


def test_compressed_log_names_the_plain_format_setting(tmp_path):
    roll = tmp_path / "eventlog_v2_local-2"
    roll.mkdir()
    (roll / "events_1_local-2.zstd").write_bytes(b"\x28\xb5\x2f\xfd\x00\xff")
    with pytest.raises(ValueError, match="spark.eventLog.compress=false"):
        load(str(roll))
    # an unmarked binary file fails the same way, not with UnicodeDecodeError
    blob = tmp_path / "app-3"
    blob.write_bytes(b"\x28\xb5\x2f\xfd\x00\xff\xfe")
    with pytest.raises(ValueError, match="spark.eventLog.compress=false"):
        load(str(blob))
