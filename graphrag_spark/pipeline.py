"""End-to-end KG-construction pipeline, declared once as a stage list.

``STAGES`` is the whole DAG. Each ``Stage`` names the upstream stages
its build reads, its build function and its committed layout:

  chunks     <- documents          chunk rows + embedding
  extracted  <- documents          mention occurrences (fused chunk+scan)
                (<- chunks with a custom extractor: long or wide rows)
  entities   <- extracted          dedup + alias-dictionary link
  cmap       <- entities           connected-components canonical map
  nodes      <- cmap               partitioned by entity_type
  mentions   <- extracted, cmap    bucketed by entity_id
  triples    <- extracted, cmap    bucketed by subj

Two runners execute that list:

- ``run_in_memory`` builds every stage into one lazy DataFrame graph and
  persists the ``cached`` stages (tests, bench.py, the flagship query).
- ``KGPipeline.run`` schedules the list as a DAG: each stage runs on
  its own thread as soon as the stages its build reads are committed,
  so with the default extractor the whole entity chain runs beside the
  chunk+embed pass, and nodes, mentions and triples run together. A
  stage writes its table, appends one row per written part file to a
  ``_lineage`` table (stage, stage_hash, partition_id, doc_id_min,
  doc_id_max, row_count, committed_at) and is read back. Lineage rows
  come from the part files' Parquet footers and the read-back takes
  its schema from them, so the write is the stage's only Spark job (a
  catalog table Spark does not scan as files, such as Iceberg's, is
  counted by Spark instead). A rerun reads a stage back instead of
  building it when its stage hash (params + the hashes of the stages
  its build reads) is the latest one committed — the kill/resume contract (BASELINE.json north_star;
  SURVEY.md §4 item 4).

With the default extractor the runners build the same frames: the
extraction input is the fused chunk+scan pass over the documents in
both. Only a custom extractor reads chunks, the lazy ones in memory
and the committed table checkpointed. Intermediates several stages
share (the surface map, the normalized mentions, the canonical-map
broadcast guard) are derived once, on first use inside a build and
under the run's lock, so a stage that is read back never pays for
them.

The reference overlaps its per-document work with asyncio/threads
(ingestion/document_processor.py:394-750); here document parallelism
is Spark task parallelism, and the checkpointed runner overlaps whole
stages the same way.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import queue
import struct
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark import InheritableThread, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

from . import chunking, extraction, linking, materialize, normalize
from .corpus import document_text

LINEAGE_SCHEMA = (
    "stage string, stage_hash string, partition_id int, doc_id_min string, "
    "doc_id_max string, row_count long, committed_at double"
)


class _PartFile(NamedTuple):
    """One data file of a committed stage: its path as a string (the
    sort key), as a Hadoop Path, its length and its FileSystem."""

    name: str
    path: object
    length: int
    fs: object


class _Footer(NamedTuple):
    """What a part file's Parquet footer says: its row count, the
    ``doc_col`` range from the column statistics and the schema Spark
    recorded in it, the one Spark's schema inference reads too (None
    for a file another writer wrote)."""

    rows: int
    doc_min: str | None
    doc_max: str | None
    schema: StructType | None


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# one read of a file's last bytes takes its whole footer (under 2 KB
# for every stage here); bytes cross py4j slowly, so read no more
_FOOTER_TAIL = 4096


def _read_footer(f: _PartFile, doc_col: str | None = None) -> _Footer:
    """Read ``f``'s footer on the driver, no Spark job, through its
    Hadoop FileSystem so any scheme works: the file's tail holds the
    metadata block, its length and the magic; pyarrow parses the block
    behind a stand-in header magic."""
    read = SparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray
    stream = f.fs.open(f.path)
    try:
        k = min(f.length, _FOOTER_TAIL)
        stream.seek(f.length - k)
        tail = bytes(read(stream, k))
        (n,) = struct.unpack("<I", tail[-8:-4])
        if n + 8 > k:
            stream.seek(f.length - 8 - n)
            tail = bytes(read(stream, n + 8))
    finally:
        stream.close()
    meta = pq.read_metadata(pa.BufferReader(b"PAR1" + tail[-8 - n:]))
    lo = hi = None
    cols = [meta.schema.column(j).path for j in range(meta.num_columns)]
    if doc_col in cols:
        j = cols.index(doc_col)
        for g in range(meta.num_row_groups):
            if meta.row_group(g).num_rows == 0:
                continue
            stats = meta.row_group(g).column(j).statistics
            if stats is None or not stats.has_min_max:
                lo = hi = None
                break
            lo = stats.min if lo is None else min(lo, stats.min)
            hi = stats.max if hi is None else max(hi, stats.max)
    spark_schema = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    schema = StructType.fromJson(json.loads(spark_schema)) if spark_schema else None
    return _Footer(meta.num_rows, lo, hi, schema)


def _walk(fs, root) -> list[_PartFile]:
    """Every file under the Hadoop Path ``root`` outside hidden
    (``_``/``.``) entries: the ones a Parquet scan of ``root`` reads.
    ``listStatus``, not ``listFiles``, whose ``LocatedFileStatus``
    loads each local file's permissions: about 10 ms a file against
    1 ms on a 4-core host."""
    files = []
    for status in fs.listStatus(root):
        hpath = status.getPath()
        name = hpath.toString()
        if name.rsplit("/", 1)[-1].startswith(("_", ".")):
            continue
        if status.isDirectory():
            files += _walk(fs, hpath)
        else:
            files.append(_PartFile(name, hpath, status.getLen(), fs))
    return files


def _scan_lineage(out: DataFrame, doc_col: str | None) -> list[tuple[int, str | None, str | None]]:
    """(rows, doc_min, doc_max) per non-empty partition of the
    read-back ``out``, counted by Spark: the lineage of a stage whose
    files cannot be listed."""
    doc = F.col(doc_col) if doc_col in out.columns else F.lit(None).cast("string")
    rows = (
        out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"), F.min(doc).alias("lo"), F.max(doc).alias("hi"))
        .orderBy("p")
        .collect()
    )
    return [(r["n"], r["lo"], r["hi"]) for r in rows]


@dataclass(frozen=True)
class Stage:
    """One node of the KG DAG. ``inputs`` are the upstream stages its
    build reads, ``extractor_inputs`` what it reads instead when a
    custom extractor is plugged (``reads``). The stages it reads key
    its hash and, in ``KGPipeline.run``, are committed before it
    starts. ``partition_by`` and ``bucket_col`` are the committed
    layout; ``doc_col`` is the column whose per-file range the lineage
    rows record; ``run_in_memory`` persists the ``cached`` stages."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[KGRun], DataFrame]
    partition_by: tuple[str, ...] = ()
    bucket_col: str | None = None
    doc_col: str | None = None
    cached: bool = False
    extractor_inputs: tuple[str, ...] | None = None

    def reads(self, run: KGRun) -> tuple[str, ...]:
        if run.extractor is not None and self.extractor_inputs is not None:
            return self.extractor_inputs
        return self.inputs


class _Views(NamedTuple):
    """What the downstream stages read off the extracted rows."""

    mentions_raw: DataFrame
    surfaces: DataFrame  # the surface map's input
    rels_norm: Callable[[], DataFrame]
    triples: Callable[[DataFrame], DataFrame]  # cmap -> triples


def _shared(fn):
    """A property derived once per run, under the run's lock: stages on
    concurrent threads may ask for it together, and
    ``functools.cached_property`` has no lock from Python 3.12 on. The
    lock is reentrant because one intermediate derives another."""
    name = fn.__name__

    @functools.wraps(fn)
    def get(self):
        if name not in self.__dict__:
            with self._lock:
                if name not in self.__dict__:
                    self.__dict__[name] = fn(self)
        return self.__dict__[name]

    return property(get)


class KGRun:
    """One run of ``STAGES``: its parameters, the stage outputs so far
    (``out``), the row counts of the stages committed in this run
    (``rows``) and the intermediates several stages share, each
    derived on first use."""

    def __init__(
        self,
        spark: SparkSession,
        docs: DataFrame,
        chunk_size: int = chunking.CHUNK_SIZE,
        overlap: int = chunking.CHUNK_OVERLAP,
        salt_buckets: int = linking.SALT_BUCKETS,
        extractor=None,
        in_memory: bool = True,
    ):
        self.spark = spark
        self.docs = docs
        self.chunk_size = chunk_size
        self.overlap = overlap
        self.salt_buckets = salt_buckets
        self.extractor = extractor
        self.in_memory = in_memory
        self.out: dict[str, DataFrame] = {}
        self.rows: dict[str, int] = {}
        self._lock = threading.RLock()

    def build(self, stage: Stage) -> DataFrame:
        """The in-memory step: build ``stage``, persisting it if cached."""
        df = stage.build(self)
        self.out[stage.name] = df.persist() if stage.cached else df
        return self.out[stage.name]

    @_shared
    def chunks_base(self) -> DataFrame:
        return chunking.with_quality(
            chunking.chunk_documents(document_text(self.docs), self.chunk_size, self.overlap)
        )

    @_shared
    def views(self) -> _Views:
        """The extraction-format branch. Occurrence rows (the default
        scanner's narrow shape) read their surface map off the alias
        vocabulary, and their triples resolve below the pair expansion.
        Long-format rows (``output_format = 'long'``, an LLM extractor)
        take the self-discovering normalize_rels + build_triples path:
        an open-vocabulary LLM may emit relationship targets that never
        appear as entities, so the rel surface set cannot be assumed a
        subset of the mention surface map (the occurrence contract
        guarantees that; an LLM does not)."""
        ex = self.out["extracted"]
        if getattr(self.extractor, "output_format", "occurrences") == "occurrences":
            return _Views(
                extraction.entities_from_occurrences(ex),
                ex,
                lambda: normalize.normalize_rels(extraction.rels_from_occurrences(ex), self.smap),
                lambda cmap: materialize.build_triples_from_occurrences(ex, self.smap, cmap),
            )
        mentions_raw = ex.filter(F.col("kind") == "entity")
        return _Views(
            mentions_raw,
            mentions_raw,
            lambda: normalize.normalize_rels(ex.filter(F.col("kind") == "rel")),
            lambda cmap: materialize.build_triples(
                self.rels_norm, cmap, broadcast_map=self.broadcast_cmap
            ),
        )

    @_shared
    def smap(self) -> DataFrame:
        return normalize.materialize_surface_map(self.views.surfaces)

    @_shared
    def mentions_norm(self) -> DataFrame:
        df = normalize.normalize_mentions(self.views.mentions_raw, self.smap)
        return df.persist() if self.in_memory else df

    @_shared
    def rels_norm(self) -> DataFrame:
        return self.views.rels_norm()

    @_shared
    def broadcast_cmap(self) -> bool:
        # broadcast the canonical map only while it provably fits —
        # with an open-vocabulary extractor the map grows with distinct
        # entities and a forced broadcast would OOM at corpus scale. A
        # map committed in this run was counted by its commit
        n = self.rows.get("cmap")
        if n is None:
            n = self.out["cmap"].count()
        return n <= materialize.BROADCAST_MAP_MAX_ROWS


def _chunks(run: KGRun) -> DataFrame:
    # chunk rows carry their embedding like the reference's chunk nodes
    # (core/graph_db.py:174-203). Split and embed share one Python pass
    # and the quality columns are native, so the stage is one
    # MapInPandas with no exchange: no content dedup before the
    # embedder, whose vectors do not depend on the batch. The in-memory
    # custom extractor reads the narrow ``chunks_base`` instead, and the
    # checkpointed one is protected by parquet column pruning, so the
    # vector never rides through its shuffle.
    return chunking.embedded_chunks(document_text(run.docs), run.chunk_size, run.overlap)


def _extracted(run: KGRun) -> DataFrame:
    """The default extractor is the fused chunk+scan pass over the
    documents in both runners (r6, guide §4.1: chunk text never
    round-trips through the JVM between two MapInPandas stages), so
    the stage reads no other stage and, checkpointed, runs beside the
    chunks stage. Its rows equal ``extract_occurrences`` over the
    chunks (pytest-asserted).

    A custom extractor (r3 VERDICT item 3) — typically
    ``extraction.llm_extractor(respond_fn)``, the reference's batched
    LLM call (core/entity_extraction.py:448-472) — is a callable
    ``chunks_df -> DataFrame`` emitting OCCURRENCE_SCHEMA rows or
    long-format EXTRACT_SCHEMA rows (``output_format = 'long'``). It
    reads the lazy chunk rows without embeddings in memory and the
    committed chunks checkpointed."""
    if run.extractor is None:
        occ = extraction.extract_occurrences_from_docs(
            document_text(run.docs), run.chunk_size, run.overlap
        )
    else:
        occ = run.extractor(run.chunks_base if run.in_memory else run.out["chunks"])
    if not run.in_memory:
        return occ
    # The extraction cache is persisted ALREADY HASH-PARTITIONED BY
    # chunk_id (r6, guide §2.4 "remove shuffles outright"): every hot
    # consumer clusters on a chunk_id-prefixed key — the per-chunk
    # entity dedup groupBys, the quadratic rels self-join (equi-join on
    # chunk_id: co-partitioned cache sides merge with NO exchange), the
    # per-chunk pair-count aggregation that feeds triples, and the
    # mentions-sink distinct. One up-front exchange of the occurrence
    # rows at cache time replaces one exchange per consumer over the
    # 4x-larger expanded frames (InMemoryRelation preserves the cached
    # plan's output partitioning, verified in plans/r06).
    return occ.repartition("chunk_id")


def _entities(run: KGRun) -> DataFrame:
    return linking.link_entities(
        linking.dedup_entities(run.mentions_norm, run.salt_buckets),
        linking.alias_dictionary(run.spark),
    )


STAGES: tuple[Stage, ...] = (
    Stage("chunks", (), _chunks, doc_col="doc_id"),
    Stage(
        "extracted", (), _extracted, doc_col="doc_id", cached=True,
        extractor_inputs=("chunks",),
    ),
    # cached: canonical_map reads entities THREE times (CC edges,
    # members, reps) across two actions — the union-find edge collect
    # materializes the cache once and the cmap materialization reads it
    # instead of re-running the salted dedup + link chain
    Stage("entities", ("extracted",), _entities, cached=True),
    Stage("cmap", ("entities",), lambda run: materialize.canonical_map(run.out["entities"]), cached=True),
    Stage(
        "nodes", ("cmap",), lambda run: materialize.build_nodes(run.out["cmap"]),
        partition_by=("entity_type",),
    ),
    Stage(
        "mentions", ("extracted", "cmap"),
        lambda run: materialize.build_mentions(
            run.mentions_norm, run.out["cmap"], broadcast_map=run.broadcast_cmap
        ),
        doc_col="doc_id", bucket_col="entity_id",
    ),
    Stage(
        "triples", ("extracted", "cmap"), lambda run: run.views.triples(run.out["cmap"]),
        bucket_col="subj",
    ),
)


def _run_dag(
    stages: tuple[Stage, ...], reads: dict[str, tuple[str, ...]], step: Callable[[Stage], None]
) -> None:
    """Run ``step(stage)`` for every stage, each on its own
    ``InheritableThread`` (the caller's job group and local properties
    carry over) started by this thread as soon as every stage in
    ``reads[stage.name]`` has finished. Once a stage fails no further
    stage starts: the running ones are joined and the first error is
    raised."""
    done: queue.SimpleQueue = queue.SimpleQueue()
    waiting = list(stages)
    running: dict[str, InheritableThread] = {}
    finished: set[str] = set()
    error: BaseException | None = None

    def work(stage: Stage) -> None:
        try:
            step(stage)
        except BaseException as e:  # handed to the scheduling thread
            done.put((stage.name, e))
        else:
            done.put((stage.name, None))

    while True:
        if error is None:
            for stage in [s for s in waiting if finished.issuperset(reads[s.name])]:
                waiting.remove(stage)
                running[stage.name] = InheritableThread(work, args=(stage,), name=f"kg-{stage.name}")
                running[stage.name].start()
        if not running:
            break
        name, err = done.get()
        running.pop(name).join()
        if err is None:
            finished.add(name)
        elif error is None:
            error = err
    if error is not None:
        raise error


def run_in_memory(
    spark: SparkSession,
    docs: DataFrame,
    chunk_size: int = chunking.CHUNK_SIZE,
    overlap: int = chunking.CHUNK_OVERLAP,
    extractor=None,
) -> dict[str, DataFrame]:
    """Checkpoint-free runner: every stage of ``STAGES`` as one lazy
    DataFrame graph, plus the normalized ``mentions_norm`` and
    ``rels_norm`` views. ``extractor`` plugs a custom extraction stage
    (see ``_extracted``); None is the deterministic occurrence scanner."""
    run = KGRun(spark, docs, chunk_size, overlap, extractor=extractor)
    for stage in STAGES:
        run.build(stage)
    return {**run.out, "mentions_norm": run.mentions_norm, "rels_norm": run.rels_norm}


@dataclass
class KGPipeline:
    spark: SparkSession
    corpus_path: str
    work_dir: str
    chunk_size: int = chunking.CHUNK_SIZE
    chunk_overlap: int = chunking.CHUNK_OVERLAP
    salt_buckets: int = linking.SALT_BUCKETS
    buckets: int = 32
    # Catalog seam: set to e.g. "local.kg" (Iceberg catalog on a real
    # cluster — snapshot-committing V2 writes) or "<db>" on the built-in
    # session catalog (saveAsTable fallback, tested by
    # tests/test_pipeline_pr.py) to write stage tables
    # ("<prefix>.<stage>") instead of raw parquet dirs; see
    # materialize.write_table.
    iceberg_prefix: str | None = None
    # Extractor seam (r3 VERDICT item 3): a callable chunks_df -> rows
    # in EXTRACT_SCHEMA (output_format='long', e.g.
    # extraction.llm_extractor(...)) or OCCURRENCE_SCHEMA
    # (output_format='occurrences'). None = the deterministic matcher.
    # ``extractor_tag`` names the extractor in the stage-hash
    # fingerprint so resume never reuses stages extracted by a
    # different extractor — REQUIRED to change when swapping extractors
    # between runs against the same work_dir.
    extractor: object = None
    extractor_tag: str | None = None
    stage_times: dict[str, float] = field(default_factory=dict)

    # ------------------------------------------------------------------ util

    def _path(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _table(self, stage: str) -> str | None:
        return f"{self.iceberg_prefix}.{stage}" if self.iceberg_prefix else None

    def _lineage_path(self) -> str:
        return os.path.join(self.work_dir, "_lineage")

    def _params_fingerprint(self) -> str:
        return json.dumps(
            {
                "chunk_size": self.chunk_size,
                "chunk_overlap": self.chunk_overlap,
                "salt_buckets": self.salt_buckets,
                "corpus": self.corpus_path,
                "extractor": self.extractor_tag
                or ("det" if self.extractor is None else "custom"),
                "v": 3,  # v3: extracted stage commits narrow occurrence rows
            },
            sort_keys=True,
        )

    def stage_hash(self, stage: str, upstream: str) -> str:
        return hashlib.md5(f"{stage}|{upstream}|{self._params_fingerprint()}".encode()).hexdigest()

    def _fs(self, path: str):
        """``path`` as a Hadoop Path and its FileSystem — honors the
        path's scheme (file://, s3a://, hdfs://), unlike os.path, which
        silently misses object stores and would degrade resume to full
        recompute on a cluster."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        return hpath, hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())

    def _fs_exists(self, path: str) -> bool:
        hpath, fs = self._fs(path)
        return bool(fs.exists(hpath))

    def _committed(self) -> dict[str, str]:
        """stage -> most recently committed stage_hash; {} before the
        first commit. Any other read error is raised: silently
        recomputing every stage would hide a broken lineage table.

        Lineage is append-only: a stage recomputed under different
        params leaves both hashes in the table. Resolving by latest
        committed_at pins resume to the hash that matches the data
        actually sitting in the stage dir (the newest write), so
        reverting params can never silently reuse stale output."""
        if not self._fs_exists(self._lineage_path()):
            return {}
        rows = (
            self.spark.read.schema(LINEAGE_SCHEMA).parquet(self._lineage_path())
            .groupBy("stage")
            .agg(F.max_by("stage_hash", "committed_at").alias("stage_hash"))
            .collect()
        )
        return {r["stage"]: r["stage_hash"] for r in rows}

    def _part_files(self, path: str, table: str | None) -> list[_PartFile]:
        """The data files of a committed stage, in path order: the files
        a catalog table's scan reads (``inputFiles``, no job; none for a
        table Spark does not scan as files, such as an Iceberg table),
        or every file of the Parquet dir ``path`` (``_walk``)."""
        if table is None:
            root, fs = self._fs(path)
            return sorted(_walk(fs, root))
        files = []
        for name in self.spark.read.table(table).inputFiles():
            hpath, fs = self._fs(name)
            files.append(_PartFile(name, hpath, fs.getFileStatus(hpath).getLen(), fs))
        return sorted(files)

    def _read_stage(self, path: str, table: str | None, footer: _Footer | None = None) -> DataFrame:
        """A committed stage's table. A Parquet dir is read with the
        schema Spark recorded in its footers (``footer``: one of them,
        else the first file's), so no schema-inference job runs;
        partition columns are discovered from the directory names as
        before. Without a recorded schema Spark infers it."""
        if table is not None:
            return self.spark.read.table(table)
        if footer is None:
            files = self._part_files(path, table)
            footer = _read_footer(files[0]) if files else None
        if footer is None or footer.schema is None:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(footer.schema).parquet(path)

    def _commit(self, stage: Stage, stage_hash: str) -> tuple[DataFrame, int]:
        """Commit a just-written stage: append its lineage rows and
        return its read-back and row count.

        One lineage row per non-empty part file (``partition_id`` its
        index in path order) holds the file's row count and
        ``doc_col`` range, read from its footer on the driver, so the
        commit runs no Spark job. A catalog table that lists no files
        (Iceberg) is counted per partition by Spark instead. A stage
        with no rows gets one row_count-0 row, so it still resumes.
        The rows go to one driver-written Parquet file, written under a
        hidden name and then renamed, so a killed driver never leaves a
        partial file the lineage read would see."""
        path, table = self._path(stage.name), self._table(stage.name)
        footers = [_read_footer(f, stage.doc_col) for f in self._part_files(path, table)]
        out = self._read_stage(path, table, footers[0] if footers else None)
        if footers:
            parts = [(f.rows, f.doc_min, f.doc_max) for f in footers if f.rows > 0]
        else:
            parts = _scan_lineage(out, stage.doc_col)
        now = float(time.time())
        rows = [
            (stage.name, stage_hash, i, lo, hi, n, now) for i, (n, lo, hi) in enumerate(parts)
        ] or [(stage.name, stage_hash, -1, None, None, 0, now)]
        schema = to_arrow_schema(_parse_datatype_string(LINEAGE_SCHEMA))
        cols = [pa.array(c, f.type) for c, f in zip(zip(*rows), schema)]
        buf = pa.BufferOutputStream()
        pq.write_table(pa.Table.from_arrays(cols, schema=schema), buf)
        name = f"part-{uuid.uuid4().hex}.parquet"
        final, fs = self._fs(os.path.join(self._lineage_path(), name))
        tmp, _ = self._fs(os.path.join(self._lineage_path(), f".{name}.tmp"))
        stream = fs.create(tmp, False)
        try:
            stream.write(buf.getvalue().to_pybytes())
        finally:
            stream.close()
        if not fs.rename(tmp, final):
            raise OSError(f"could not rename {tmp} to {final}")
        return out, sum(n for n, _, _ in parts)

    def _run_stage(self, stage: Stage, h: str, run: KGRun, committed: bool) -> DataFrame:
        path, table = self._path(stage.name), self._table(stage.name)
        if committed and self._stage_output_exists(path, table):
            return self._read_stage(path, table)
        t0 = time.time()
        # single writer seam (hash-bucket layout + optional Iceberg)
        materialize.write_table(
            stage.build(run), path, partition_by=list(stage.partition_by),
            buckets=self.buckets if stage.bucket_col else None,
            bucket_col=stage.bucket_col, iceberg_table=table,
        )
        out, run.rows[stage.name] = self._commit(stage, h)
        self.stage_times[stage.name] = time.time() - t0
        return out

    def _stage_output_exists(self, path: str, table: str | None) -> bool:
        if table is not None:
            return bool(self.spark.catalog.tableExists(table))
        return self._fs_exists(os.path.join(path, "_SUCCESS"))

    # ---------------------------------------------------------------- stages

    def run(self, resume: bool = True) -> dict[str, DataFrame]:
        """Checkpointed runner: ``STAGES`` as a DAG (``_run_dag``). Each
        stage is read back if committed under its current hash, else
        built, written, committed to lineage and read back."""
        run = KGRun(
            self.spark, self.spark.read.parquet(self.corpus_path), self.chunk_size,
            self.chunk_overlap, self.salt_buckets, self.extractor, in_memory=False,
        )
        committed = self._committed() if resume else {}
        reads = {stage.name: stage.reads(run) for stage in STAGES}
        hashes: dict[str, str] = {}
        for stage in STAGES:
            upstream = "|".join(hashes[s] for s in reads[stage.name]) or "root"
            hashes[stage.name] = self.stage_hash(stage.name, upstream)

        def step(stage: Stage) -> None:
            h = hashes[stage.name]
            run.out[stage.name] = self._run_stage(stage, h, run, committed.get(stage.name) == h)

        _run_dag(STAGES, reads, step)
        return run.out


def register_views(tables: dict[str, DataFrame], prefix: str = "kg_") -> list[str]:
    """Expose the KG tables to the Spark SQL surface as temp views
    (``kg_nodes``, ``kg_triples``, ...), so every reference query has a
    plain-SQL entry point (``spark.sql("SELECT ... FROM kg_triples")``)
    optimized by Catalyst exactly like the DataFrame API."""
    names = []
    for name, df in tables.items():
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names
