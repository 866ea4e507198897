"""The event-log reader on a tiny recorded log.

``data/tiny_eventlog.jsonl`` was recorded from a local[2] session with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=
false`` that ran three jobs: an aggregate in job group ``pb1``, a parquet
write in group ``pb2`` and a count with no group. It keeps the job,
stage and task events, trimmed to the fields the reader uses.
"""

import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.read_log(LOG)


def test_jobs_carry_their_group(log):
    groups = sorted((j.group or "") for j in log.jobs.values())
    assert "pb1" in groups and "pb2" in groups and "" in groups
    for j in log.jobs.values():
        assert j.succeeded
        assert j.end_s >= j.start_s
        assert j.stage_ids


def test_stages_and_tasks(log):
    assert log.stages
    for st in log.stages.values():
        assert len(st.tasks) == st.n_tasks
        for t in st.tasks:
            assert t.duration_s >= 0 and t.run_s >= 0 and t.cpu_s >= 0
            assert t.scheduler_delay_s >= 0
    # the aggregate shuffles; the write writes
    by_group = {}
    for j in log.jobs.values():
        tasks = [t for sid in j.stage_ids if sid in log.stages
                 for t in log.stages[sid].tasks]
        by_group.setdefault(j.group, []).extend(tasks)
    assert sum(t.shuffle_write_bytes for t in by_group["pb1"]) > 0
    assert sum(t.output_bytes for t in by_group["pb2"]) > 0


def test_find_log_refuses_other_formats(tmp_path):
    (tmp_path / "local-1.zstd").write_text("")
    with pytest.raises(ValueError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "local-1.zstd").unlink()
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(ValueError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "local-1.inprogress").unlink()
    (tmp_path / "eventlog_v2_local-1").mkdir()
    with pytest.raises(ValueError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "eventlog_v2_local-1").rmdir()
    (tmp_path / "local-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("local-1")
