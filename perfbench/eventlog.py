"""Read an uncompressed Spark event log into one record per job group.

Spark writes one JSON object per line. Three event kinds matter here:

- ``SparkListenerJobStart`` carries the job's local properties, among
  them ``spark.jobGroup.id``, and the ids of the stages it may run;
- ``SparkListenerStageSubmitted`` carries the properties of the job
  that actually submitted the stage (a stage shared by two jobs runs
  once, under the first);
- ``SparkListenerTaskEnd`` carries the task's metrics and its
  accumulator updates. The Python-boundary numbers are SQL-metric
  accumulators of the Arrow/pandas exec nodes ("data sent to Python
  workers", ...), not task metrics.

Every task is charged to the job group of its stage. Jobs submitted
outside any group are charged to ``UNGROUPED``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import asdict, dataclass
from pathlib import Path

UNGROUPED = "<none>"

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # milliseconds


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0  # summed executor run time of the tasks
    cpu_s: float = 0.0  # summed executor CPU time of the tasks
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    spill_bytes: int = 0  # bytes spilled to disk
    bytes_written: int = 0  # output (sink) bytes
    records_written: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_run_s: float = 0.0

    def as_dict(self) -> dict:
        return asdict(self)


def event_files(log_dir: str | Path) -> list[Path]:
    """The event files of every application logged under ``log_dir``.

    Spark 4 writes rolling logs by default: one ``eventlog_v2_<app>``
    directory holding ``events_<n>_<app>`` parts. A plain (non-rolling)
    log is a single file per application."""
    out: list[Path] = []
    for p in sorted(Path(log_dir).iterdir()):
        if p.is_dir():
            parts = [q for q in p.iterdir() if q.name.startswith("events_")]
            out.extend(sorted(parts, key=lambda q: int(q.name.split("_")[1])))
        elif not p.name.startswith("."):
            out.append(p)
    return out


def read_events(paths: Iterable[str | Path]) -> Iterator[dict]:
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or UNGROUPED


def fold_by_group(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Fold job, stage and task events into per-job-group totals."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(e.get("Properties"))
            stats[group].jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = _group(e.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            _add_task(stats[stage_group.get(e["Stage ID"], UNGROUPED)], e)
    return dict(stats)


def _add_task(s: GroupStats, e: dict) -> None:
    s.tasks += 1
    m = e.get("Task Metrics") or {}
    s.run_s += m.get("Executor Run Time", 0) / 1e3
    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    s.gc_s += m.get("JVM GC Time", 0) / 1e3
    s.spill_bytes += m.get("Disk Bytes Spilled", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    s.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    s.shuffle_read_records += rd.get("Total Records Read", 0)
    wr = m.get("Shuffle Write Metrics") or {}
    s.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    s.shuffle_write_records += wr.get("Shuffle Records Written", 0)
    out = m.get("Output Metrics") or {}
    s.bytes_written += out.get("Bytes Written", 0)
    s.records_written += out.get("Records Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name == PY_SENT:
            s.py_sent_bytes += int(acc.get("Update", 0))
        elif name == PY_RETURNED:
            s.py_returned_bytes += int(acc.get("Update", 0))
        elif name == PY_RUN:
            s.py_run_s += int(acc.get("Update", 0)) / 1e3


def read_groups(log_dir: str | Path) -> dict[str, GroupStats]:
    """Per-job-group totals of every application logged under ``log_dir``."""
    return fold_by_group(read_events(event_files(log_dir)))
