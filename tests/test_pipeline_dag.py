"""The checkpointed runner's DAG scheduling and its job-free commits,
on tiny stub stages: none of these tests builds a KG."""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
import pytest

from graphrag_spark import materialize, pipeline
from graphrag_spark.pipeline import KGPipeline, Stage
from graphrag_spark.session import literal_frame

DOCS = [(f"doc{i:03d}", i) for i in range(50)]


def _jobs_in(spark, group: str, fn):
    """``fn()`` and the ids of the Spark jobs it ran, counted in its own
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _lineage(spark, wd):
    return spark.read.schema(pipeline.LINEAGE_SCHEMA).parquet(os.path.join(wd, "_lineage"))


@pytest.mark.parametrize("catalog", [False, True], ids=["parquet", "catalog"])
def test_commit_runs_no_job(spark, tmp_path, catalog):
    """``_commit`` and the stage read-back run no Spark job, on a
    bucketed Parquet dir and on a catalog table. The lineage rows hold
    the same row count and doc range as the old per-partition
    ``groupBy`` over the read-back, and the read-back has the rows and
    schema a plain read gives."""
    wd = str(tmp_path)
    db = f"kgcommit{os.getpid()}"
    if catalog:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        p = KGPipeline(spark, "unused", wd, iceberg_prefix=db if catalog else None)
        stage = Stage("tiny", (), None, bucket_col="doc_id", doc_col="doc_id")
        df = spark.createDataFrame(DOCS, "doc_id string, n int").repartition(3)
        materialize.write_table(
            df, p._path("tiny"), buckets=4, bucket_col="doc_id", iceberg_table=p._table("tiny"),
        )
        (out, n), jobs = _jobs_in(spark, "commit-probe", lambda: p._commit(stage, "h0"))
        _, jobs_schema = _jobs_in(spark, "commit-schema", lambda: out.schema)
        assert jobs == [] and jobs_schema == []
        assert n == len(DOCS)
        plain = spark.read.table(p._table("tiny")) if catalog else spark.read.parquet(p._path("tiny"))
        assert out.schema == plain.schema
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))

        old = out.groupBy(F.spark_partition_id()).agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"), F.count("*").alias("n"),
        ).collect()
        rows = _lineage(spark, wd).collect()
        assert {r["stage"] for r in rows} == {"tiny"} and {r["stage_hash"] for r in rows} == {"h0"}
        assert all(r["row_count"] > 0 for r in rows)
        assert sum(r["row_count"] for r in rows) == sum(r["n"] for r in old) == len(DOCS)
        assert min(r["doc_id_min"] for r in rows) == min(r["lo"] for r in old) == "doc000"
        assert max(r["doc_id_max"] for r in rows) == max(r["hi"] for r in old) == "doc049"
        assert len({r["partition_id"] for r in rows}) == len(rows)
        assert p._committed() == {"tiny": "h0"}
    finally:
        if catalog:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_committed_reads_absent_lineage_as_empty(spark, tmp_path):
    """No ``_lineage`` yet: nothing is committed. A lineage dir that
    cannot be read is an error, not a silent full recompute. A hidden
    half-written file in it is ignored."""
    p = KGPipeline(spark, "unused", str(tmp_path))
    assert p._committed() == {}
    lineage = tmp_path / "_lineage"
    lineage.mkdir()
    (lineage / ".part-x.parquet.tmp").write_bytes(b"PAR1 half written")
    assert p._committed() == {}
    (lineage / "part-y.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        p._committed()


def _frame(run, *doc_ids):
    return literal_frame(run.spark, [(d,) for d in doc_ids], "doc_id string")


def test_independent_stages_overlap(spark, corpus_path, tmp_path, monkeypatch):
    """Two stages that read nothing run at the same time: each waits at
    a two-party barrier, which would time out if they ran one after
    the other. The stage reading both starts after them, and every
    stage thread sees the caller's local properties."""
    barrier = threading.Barrier(2, timeout=60)
    seen = []

    def meet(doc_id):
        def build(run):
            seen.append(run.spark.sparkContext.getLocalProperty("kg.probe"))
            barrier.wait()
            return _frame(run, doc_id)

        return build

    stages = (
        Stage("a", (), meet("d1"), doc_col="doc_id"),
        Stage("b", (), meet("d2"), doc_col="doc_id"),
        Stage("c", ("a", "b"), lambda run: run.out["a"].union(run.out["b"]), doc_col="doc_id"),
    )
    monkeypatch.setattr(pipeline, "STAGES", stages)
    sc = spark.sparkContext
    sc.setLocalProperty("kg.probe", "caller")
    try:
        p = KGPipeline(spark, corpus_path, str(tmp_path))
        out = p.run()
    finally:
        sc.setLocalProperty("kg.probe", None)
    assert seen == ["caller", "caller"]
    assert set(p.stage_times) == {"a", "b", "c"}
    assert sorted(r["doc_id"] for r in out["c"].collect()) == ["d1", "d2"]
    assert {r["stage"] for r in _lineage(spark, str(tmp_path)).collect()} == {"a", "b", "c"}


def test_failed_stage_starts_no_dependent(spark, corpus_path, tmp_path, monkeypatch):
    """A failing stage's error is raised from ``run()``; the stage that
    reads it never starts and neither commits lineage. The sibling
    running beside it is joined first, so its commit is complete."""
    started = []

    def boom(run):
        started.append("a")
        raise RuntimeError("stage a failed")

    def sibling(run):
        started.append("b")
        return _frame(run, "d1")

    def dependent(run):
        started.append("c")
        return run.out["a"]

    monkeypatch.setattr(pipeline, "STAGES", (
        Stage("a", (), boom), Stage("b", (), sibling, doc_col="doc_id"),
        Stage("c", ("a",), dependent),
    ))
    p = KGPipeline(spark, corpus_path, str(tmp_path))
    with pytest.raises(RuntimeError, match="stage a failed"):
        p.run()
    assert sorted(started) == ["a", "b"]
    assert set(p.stage_times) == {"b"}
    assert {r["stage"] for r in _lineage(spark, str(tmp_path)).collect()} == {"b"}


def test_catalog_table_without_files(spark, tmp_path, monkeypatch):
    """A catalog table whose scan lists no files (an Iceberg table is
    not a file relation to Spark) is committed from a Spark count per
    partition: the lineage rows and the row count the broadcast guard
    reads are still the stage's."""
    db = f"kgnofiles{os.getpid()}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    try:
        p = KGPipeline(spark, "unused", str(tmp_path), iceberg_prefix=db)
        stage = Stage("tiny", (), None, doc_col="doc_id")
        df = spark.createDataFrame(DOCS, "doc_id string, n int").repartition(3)
        materialize.write_table(df, p._path("tiny"), iceberg_table=p._table("tiny"))
        monkeypatch.setattr(type(spark.read.table(p._table("tiny"))), "inputFiles", lambda self: [])
        out, n = p._commit(stage, "h0")
        assert n == len(DOCS)
        rows = _lineage(spark, str(tmp_path)).collect()
        assert all(r["row_count"] > 0 for r in rows) and len(rows) > 1
        assert sum(r["row_count"] for r in rows) == len(DOCS)
        assert min(r["doc_id_min"] for r in rows) == "doc000"
        assert max(r["doc_id_max"] for r in rows) == "doc049"
        assert sorted(map(tuple, out.collect())) == sorted(DOCS)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_read_stage_schema(spark, tmp_path):
    """A Spark-written Parquet dir is read back with the schema Spark
    recorded in its footers, no job; a dir another writer made has no
    such schema and Spark infers it. Either way the frame equals a
    plain read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark_path = str(tmp_path / "spark")
    spark.createDataFrame(DOCS, "doc_id string, n int").write.parquet(spark_path)
    arrow_path = tmp_path / "arrow"
    arrow_path.mkdir()
    pq.write_table(pa.table({"doc_id": ["d1", "d2"], "n": [1, 2]}), arrow_path / "part-0.parquet")

    p = KGPipeline(spark, "unused", str(tmp_path))
    for i, (path, inferred) in enumerate(((spark_path, False), (str(arrow_path), True))):
        df, jobs = _jobs_in(spark, f"stage-read-{i}", lambda: p._read_stage(path, None))
        assert (jobs != []) == inferred, path
        plain = spark.read.parquet(path)
        assert df.schema == plain.schema, path
        assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect())), path


def test_footer_longer_than_tail(spark, tmp_path, monkeypatch):
    """A footer longer than the first tail read is read whole by a
    second read; either way it says what pyarrow reads off the file."""
    import pyarrow.parquet as pq

    p = KGPipeline(spark, "unused", str(tmp_path))
    spark.createDataFrame(DOCS, "doc_id string, n int").repartition(3).write.parquet(p._path("t"))
    files = p._part_files(p._path("t"), None)
    want = [pipeline._read_footer(f, "doc_id") for f in files]
    monkeypatch.setattr(pipeline, "_FOOTER_TAIL", 16)
    assert [pipeline._read_footer(f, "doc_id") for f in files] == want
    assert [f.rows for f in want] == [pq.read_metadata(f.name[len("file:"):]).num_rows for f in files]
    assert sum(f.rows for f in want) == len(DOCS) and len(files) == 3


def test_shared_intermediate_derived_once(spark):
    """A ``KGRun`` intermediate asked for by more threads than cores at
    once is derived once, and every thread gets that one value."""
    import sys
    import time

    calls = []

    class Run(pipeline.KGRun):
        @pipeline._shared
        def smap(self):
            calls.append(1)
            time.sleep(0.05)
            return object()

    run = Run(spark, None)
    got = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: got.append(run.smap)) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1 and len(got) == 16 and len({id(v) for v in got}) == 1
