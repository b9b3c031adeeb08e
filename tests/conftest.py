from __future__ import annotations

import os

import pytest

from graphrag_spark.corpus import SPANS_SCHEMA, generate_doc_spans
from graphrag_spark.session import get_spark

N_TEST_DOCS = 80


@pytest.fixture(scope="session")
def spark():
    # get_spark's default master: local[SPARK_GRAFT_CPUS], falling back
    # to the host's CPU count
    s = get_spark(app_name="graphrag-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def doc_rows():
    """Deterministic spans docs (python-side) for oracle comparison."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 30
    return [
        (f"doc{i:06d}", generate_doc_spans(i, base))
        for i in range(N_TEST_DOCS)
    ]


@pytest.fixture(scope="session")
def corpus_path(spark, doc_rows, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "documents")
    spark.createDataFrame(doc_rows, SPANS_SCHEMA).repartition(8).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def kg_out(spark, corpus_path):
    """ONE KG build shared by every query-side test module
    (test_graph_rag + test_graph_ops previously each built their own —
    the single biggest block of redundant suite wall). The serving
    tables are persisted and forced here so the first consumer test
    doesn't pay a serialized materialization."""
    import pyspark.sql.functions as F

    from graphrag_spark.pipeline import run_in_memory

    out = run_in_memory(spark, spark.read.parquet(corpus_path))
    serving = ("chunks", "nodes", "mentions", "triples")
    for k in serving:
        out[k] = out[k].persist()
    # force all four caches in one union job
    frames = [out[k].select(F.lit(k).alias("t")) for k in serving]
    u = frames[0]
    for f in frames[1:]:
        u = u.unionAll(f)
    u.groupBy("t").count().collect()
    return out
