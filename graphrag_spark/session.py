"""SparkSession factory tuned for the KG-construction workload.

Design intent (100 TB posture): AQE on (runtime coalesce + skew-join
splits), Arrow-vectorized Python UDFs, shuffle partitions sized by env,
broadcast threshold high enough that the alias dictionary (~10^4 rows)
always broadcasts. On a real cluster the same builder is used by
``run_pipeline.py`` via spark-submit --py-files.
"""

from __future__ import annotations

import os

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def _host_heap() -> str:
    """Default driver heap: half the host's physical memory (MemTotal),
    capped at 48g. A heap allowed to grow past physical memory gets the
    JVM OOM-killed instead of spilling; the other half is left for the
    Python workers, off-heap buffers and the OS."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(total_mb // 2, 48 * 1024)}m"


def get_spark(
    app_name: str = "graphrag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # one BLAS thread per Python worker (guide §4): task parallelism
    # already fills every core; threaded OpenBLAS inside N concurrent
    # workers oversubscribes ~N-fold on the block-matmul operators. Set
    # before the JVM starts so forked pyspark workers inherit it.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8192 (r6, guide §4.2): the hot Arrow passes move narrow rows
        # (id pairs, occurrence tuples, ~1-2 KB chunk text) where
        # per-batch overhead dominated at 2048; 8192 keeps batches
        # under ~16 MB for the widest (chunk-text) stage
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # local mode: the driver JVM is the executor — size its heap
        # for every concurrent task's shuffle/cache memory, or GC
        # thrash destroys scaling
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _host_heap()))
        .config("spark.sql.session.timeZone", "UTC")
        # session-catalog tables (the tested non-Iceberg catalog backend,
        # materialize.write_table) live under a scratch warehouse, not
        # the repo checkout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/graphrag_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        # cap plan STRINGS (UI/event-log rendering only, never the plan
        # itself): a deep composed plan (e.g. the batch graph-RAG chain
        # before its lineage checkpoints) can OOM the driver purely in
        # QueryExecution.explainString — 1M chars is far above any real
        # plan dump while bounding the allocation
        .config("spark.sql.maxPlanStringLength", "1000000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition iff the plan has too few partitions for the cluster.

    Small parquet inputs (one file, tens of MB) scan as 1-2 partitions,
    which would serialize every downstream Arrow UDF stage. At real
    scale the scan already yields thousands of partitions and this is a
    no-op — the guard keeps the extra shuffle out of the big-data path.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    the size it ships to every executor; -1 when broadcasts are off."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def literal_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side rows (``schema``: a StructType or DDL
    string), built from an Arrow table. ``createDataFrame`` of a Python
    list parallelizes pickled rows, so every action over such a frame
    starts Python workers to unpickle them (1-3 s per action, measured
    on a 4-core host); an Arrow table becomes a JVM-side LocalRelation.
    NaN and null stay distinct."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


# Driver-side serving state built once from input tables (the graph
# adjacency and importance maps, the embedding matrix, the hybrid
# retrieval index, the J1 chunk-similarity edges) and reused while the
# tables stay the same. The key is each frame's semantic plan hash plus
# the files its plan reads: a filtered view of the same files has
# another plan, and a rewritten table other part-file names, so neither
# can hit the other's entry. The files come from the ANALYZED plan's
# file-relation leaves; ``df.inputFiles()`` reads the optimized plan,
# which for a persisted frame is an InMemoryRelation with no files.
# One entry per tag; the value it replaces is released (``_release``).
# Frames whose plan reads no files (in-memory frames) rebuild per call.
DRIVER_CACHE: dict[object, tuple] = {}


def source_files(df) -> tuple[str, ...]:
    """Sorted files of the file-relation leaves of ``df``'s analyzed
    plan; () when it reads none (or the plan cannot be inspected)."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        files: set[str] = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRelation":
                rel = leaf.relation()
                if rel.getClass().getSimpleName() == "HadoopFsRelation":
                    files.update(rel.inputFiles())
        return tuple(sorted(files))
    except Py4JError:
        return ()


def _release(value) -> None:
    """Free what a replaced cache value holds on the cluster. A
    broadcast is unpersisted, never destroyed: lazy frames built on it
    may still run and re-fetch it. A DataFrame is unpersisted, and when
    it is a local checkpoint its checkpoint blocks are dropped too —
    frames built on a replaced checkpoint can no longer run."""
    if isinstance(value, Broadcast):
        value.unpersist()
    elif isinstance(value, DataFrame):
        value.unpersist()
        plan = value._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def driver_cached(frames, tag, build):
    """``build()``, cached under ``tag`` for the plans and files of
    ``frames`` (one DataFrame or a tuple of them)."""
    frames = frames if isinstance(frames, tuple) else (frames,)
    key = []
    for df in frames:
        files = source_files(df)
        if not files:
            return build()
        key.append((df.semanticHash(), files))
    key = tuple(key)
    old = DRIVER_CACHE.get(tag)
    if old is not None and old[0] == key:
        return old[1]
    value = build()
    if old is not None:
        _release(old[1])
    DRIVER_CACHE[tag] = (key, value)
    return value
