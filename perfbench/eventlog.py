"""Reader for a plain Spark event log (one JSON event per line).

The benchmark's traced run writes the log uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``), so one file holds the whole application. This reader keeps
only what the per-layer metrics need: each job with its group, wall
interval and stages, and per-task metrics keyed by stage.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Task:
    stage_id: int
    duration_s: float
    run_s: float
    cpu_s: float
    gc_s: float
    scheduler_delay_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    input_bytes: int
    output_bytes: int


@dataclass
class Stage:
    stage_id: int
    n_tasks: int
    wall_s: float
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    group: str | None
    start_s: float
    end_s: float
    stage_ids: list[int]
    succeeded: bool = True


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # completed stages only (skipped never run)


def _task(ev: dict) -> Task | None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics")
    if not m:
        return None
    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage_id=ev["Stage ID"],
        duration_s=dur_ms / 1e3,
        run_s=run_ms / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        # the Spark UI's definition: task time not spent running,
        # deserializing or shipping the result
        scheduler_delay_s=max(0, dur_ms - run_ms - overhead_ms) / 1e3,
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def parse_lines(lines) -> EventLog:
    """Parse event-log lines (an iterable of str)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: dict[int, list[Task]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                start_s=ev["Submission Time"] / 1e3,
                end_s=ev["Submission Time"] / 1e3,
                stage_ids=list(ev.get("Stage IDs") or []),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1e3
                result = (ev.get("Job Result") or {}).get("Result")
                job.succeeded = result == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            sub = info.get("Submission Time")
            done = info.get("Completion Time")
            wall = (done - sub) / 1e3 if sub is not None and done else 0.0
            stages[sid] = Stage(
                stage_id=sid,
                n_tasks=info.get("Number of Tasks", 0),
                wall_s=wall,
            )
        elif kind == "SparkListenerTaskEnd":
            t = _task(ev)
            if t is not None:
                tasks.setdefault(t.stage_id, []).append(t)
    for sid, st in stages.items():
        st.tasks = tasks.get(sid, [])
    return EventLog(jobs, stages)


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``.

    Refuses compressed or rolling logs: the traced run pins the plain
    format, so finding another one means the pin did not take."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, got {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path) or names[0].endswith(
        (".inprogress", ".lz4", ".lzf", ".snappy", ".zstd")
    ):
        raise ValueError(f"not a finished plain event log: {path}")
    return path


def read_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return parse_lines(fh)
