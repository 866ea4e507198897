"""Attribute per-stage time to bench sections from a Spark event log.

Usage:
  python tools/analyze_eventlog.py <eventlog> [section]

``<eventlog>`` is a plain single-file log, a rolling
``eventlog_v2_<app>/`` directory (its ``events_<n>_<app>`` parts are
read in index order), or an event-log directory holding exactly one
of either. Compressed logs are refused: record them with
``spark.eventLog.compress=false`` (``bench.py`` pins that, and rolling
off, when ``SPARK_GRAFT_EVENTLOG`` is set).

Without a section: per-section wall-clock summed over stage runtimes
(rep0 only, matching the bench's first sample) ranked descending.
With a section: that section's stages ranked by duration with their
callsites, task counts, and shuffle bytes — the "which operator inside
the section is hot" view (guide §1.1/§7.1 without a live UI).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

_COMPRESSED = (".lz4", ".lzf", ".snappy", ".zstd")
_PART = re.compile(r"events_(\d+)_")


def event_files(path: str) -> list[str]:
    """The plain event-log files behind ``path``, in event order."""
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith("."))
        parts = [n for n in names if _PART.match(n)]
        if parts:
            parts.sort(key=lambda n: int(_PART.match(n).group(1)))
            files = [os.path.join(path, n) for n in parts]
        elif len(names) == 1:
            return event_files(os.path.join(path, names[0]))
        else:
            raise ValueError(
                f"{path}: expected one event log or a rolling "
                f"eventlog_v2_* directory, found {names}"
            )
    else:
        files = [path]
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(
                f"{f} is a compressed event log; record a plain one with "
                "spark.eventLog.compress=false"
            )
    return files


def load(path: str):
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in _lines(event_files(path)):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_desc[jid] = props.get("spark.job.description", "")
            for sinfo in ev.get("Stage Infos", []):
                stage_job.setdefault(sinfo["Stage ID"], jid)
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            if sub is None or comp is None:
                continue
            # MERGE into any dict the TaskEnd branch already
            # accumulated (task-end events precede stage-completion
            # in the log; replacing the dict zeroed exec/fetch/shW
            # in the focus view — ADVICE r11 item 1)
            st = stages.setdefault(sid, {})
            st.update({
                "ms": comp - sub,
                "name": si.get("Stage Name", ""),
                "tasks": si.get("Number of Tasks", 0),
                "details": (si.get("Details") or "").splitlines()[:6],
            })
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            st = stages.setdefault(sid, {})
            st["sh_read"] = st.get("sh_read", 0) + srm.get(
                "Remote Bytes Read", 0
            ) + srm.get("Local Bytes Read", 0)
            st["sh_write"] = st.get("sh_write", 0) + swm.get(
                "Shuffle Bytes Written", 0
            )
            st["fetch_ms"] = st.get("fetch_ms", 0) + srm.get(
                "Fetch Wait Time", 0
            )
            st["exec_ms"] = st.get("exec_ms", 0) + tm.get(
                "Executor Run Time", 0
            )
    return job_desc, stage_job, stages


def _lines(files: list[str]):
    for f in files:
        with open(f, encoding="utf-8") as fh:
            try:
                yield from fh
            except UnicodeDecodeError:
                raise ValueError(
                    f"{f} is not a plain-text event log (compressed?); "
                    "record it with spark.eventLog.compress=false"
                ) from None


def main():
    path = sys.argv[1]
    focus = sys.argv[2] if len(sys.argv) > 2 else None
    try:
        job_desc, stage_job, stages = load(path)
    except ValueError as e:
        sys.exit(f"analyze_eventlog: {e}")

    def section_of(sid: int) -> str:
        d = job_desc.get(stage_job.get(sid, -1), "")
        if d.startswith("bench:"):
            return d  # bench:<name>:rep<i>
        return d or "(unlabeled)"

    if focus is None:
        per = defaultdict(float)
        for sid, st in stages.items():
            if "ms" not in st:
                continue
            desc = section_of(sid)
            if desc.startswith("bench:"):
                _, name, rep = desc.split(":", 2)
                key = f"{name}" if rep == "rep0" else None
            else:
                key = desc
            if key:
                per[key] += st["ms"] / 1000.0
        for name, sec in sorted(per.items(), key=lambda kv: -kv[1]):
            print(f"{sec:9.2f}s  {name}")
    else:
        rows = []
        for sid, st in stages.items():
            if "ms" not in st:
                continue
            desc = section_of(sid)
            if desc.startswith(f"bench:{focus}:"):
                rows.append((st["ms"], sid, desc, st))
        rows.sort(reverse=True)
        for ms, sid, desc, st in rows:
            print(
                f"{ms / 1000:8.2f}s stage={sid} tasks={st.get('tasks')} "
                f"exec={st.get('exec_ms', 0) / 1000:.1f}s "
                f"fetch={st.get('fetch_ms', 0) / 1000:.1f}s "
                f"shR={st.get('sh_read', 0) >> 20}MB "
                f"shW={st.get('sh_write', 0) >> 20}MB  {desc}"
            )
            print(f"          {st.get('name', '')}")
            for ln in st.get("details", [])[:3]:
                print(f"          | {ln.strip()}")


if __name__ == "__main__":
    main()
