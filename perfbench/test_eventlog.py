"""Tests of the event-log reader and of the metric list.

    python -m pytest perfbench/ -q

The live test starts a small local Spark session (two task slots,
512 MB heap) and logs a shuffle job and a pandas job under their own
job groups.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench.eventlog import PY_RETURNED, PY_RUN, PY_SENT, UNGROUPED, fold_by_group, read_groups

ROOT = Path(__file__).resolve().parent.parent


def _task_end(stage, cpu_ns=0, shuffle_w=(0, 0), shuffle_r=(0, 0, 0), out=(0, 0), spill=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in accs]},
        "Task Metrics": {
            "Executor Run Time": 20, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 10 * spill,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": shuffle_r[0], "Local Bytes Read": shuffle_r[1],
                "Total Records Read": shuffle_r[2],
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w[0], "Shuffle Records Written": shuffle_w[1]},
            "Output Metrics": {"Bytes Written": out[0], "Records Written": out[1]},
        },
    }


def test_fold_charges_tasks_to_the_submitting_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "a"}},
        _task_end(0, cpu_ns=2_000_000_000, shuffle_w=(100, 7), spill=3),
        _task_end(0, cpu_ns=1_000_000_000, shuffle_w=(50, 3)),
        # stage 1 is listed by job 0 but submitted by job 1 (group b)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "b"}},
        _task_end(1, shuffle_r=(4, 6, 10), out=(1000, 10),
                  accs=[(PY_SENT, 800), (PY_RETURNED, 1600), (PY_RUN, 250), ("other", 9)]),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
        _task_end(3),
    ]
    g = fold_by_group(events)
    assert set(g) == {"a", "b", UNGROUPED}
    a, b = g["a"], g["b"]
    assert (a.jobs, a.tasks) == (1, 2)
    assert a.cpu_s == pytest.approx(3.0)
    assert a.gc_s == pytest.approx(0.01)
    assert (a.shuffle_write_bytes, a.shuffle_write_records, a.spill_bytes) == (150, 10, 3)
    assert (b.jobs, b.tasks) == (1, 1)
    assert (b.shuffle_read_bytes, b.shuffle_read_records) == (10, 10)
    assert (b.bytes_written, b.records_written) == (1000, 10)
    assert (b.py_sent_bytes, b.py_returned_bytes) == (800, 1600)
    assert b.py_run_s == pytest.approx(0.25)
    assert a.py_sent_bytes == 0
    assert (g[UNGROUPED].jobs, g[UNGROUPED].tasks) == (1, 1)


@pytest.fixture(scope="module")
def logged_jobs(tmp_path_factory):
    """A two-slot session logging two known jobs, one group each."""
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
        .config("spark.driver.memory", "512m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir.as_uri())
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        # 4 map partitions x 10 keys -> 40 partial-aggregate rows shuffled
        sc.setJobGroup("t.shuffle", "shuffle")
        spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count().collect()

        def double(batches):
            for pdf in batches:
                yield pdf.assign(y=pdf["id"] * 2)

        # 1000 int64 rows out to Python, 1000 (int64, int64) rows back
        sc.setJobGroup("t.python", "python")
        spark.range(0, 1000, 1, 2).mapInPandas(double, "id long, y long").collect()
    finally:
        spark.stop()
    return read_groups(log_dir)


def test_live_shuffle_records(logged_jobs):
    g = logged_jobs["t.shuffle"]
    assert g.shuffle_write_records == 40
    assert g.shuffle_read_records == 40
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.py_sent_bytes == 0 and g.py_returned_bytes == 0


def test_live_python_bytes(logged_jobs):
    g = logged_jobs["t.python"]
    assert g.shuffle_write_records == 0
    # Arrow batches carry at least the raw column bytes each way
    assert g.py_sent_bytes >= 1000 * 8
    assert g.py_returned_bytes >= 1000 * 16
    assert g.py_returned_bytes > g.py_sent_bytes
    assert g.py_run_s > 0


def test_benchmark_json_lists_the_printed_metrics():
    from perfbench.metrics import END_TO_END, PER_LAYER

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
