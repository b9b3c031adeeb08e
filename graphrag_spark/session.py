"""SparkSession factory tuned for the KG-construction workload.

Design intent (100 TB posture): AQE on (runtime coalesce + skew-join
splits), Arrow-vectorized Python UDFs, shuffle partitions sized by env,
broadcast threshold high enough that the alias dictionary (~10^4 rows)
always broadcasts. On a real cluster the same builder is used by
``run_pipeline.py`` via spark-submit --py-files.
"""

from __future__ import annotations

import os

from pyspark import Broadcast
from pyspark.sql import SparkSession


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


# Driver-side serving state built once from an input table (the graph
# adjacency and importance maps, the broadcast embedding matrix) and
# reused while the table stays the same. The key is the frame's semantic
# plan hash plus its input files: a filtered view of the same files has
# another plan, and a rewritten table other part-file names, so neither
# can hit the other's entry. One entry per tag; a broadcast it replaces
# is unpersisted, not destroyed, because lazy frames built on it may
# still run. Frames without a stable file listing (in-memory frames)
# rebuild per call.
DRIVER_CACHE: dict[object, tuple] = {}


def driver_cached(df, tag, build):
    """``build()``, cached under ``tag`` for this frame's plan and files."""
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:
        files = ()
    if not files:
        return build()
    key = (df.semanticHash(), files)
    old = DRIVER_CACHE.get(tag)
    if old is not None and old[0] == key:
        return old[1]
    value = build()
    if old is not None and isinstance(old[1], Broadcast):
        old[1].unpersist()
    DRIVER_CACHE[tag] = (key, value)
    return value
