"""End-to-end KG-construction pipeline, declared once as a stage list.

``STAGES`` is the whole DAG in build order. Each ``Stage`` names the
upstream stages its build reads, its build function and its committed
layout:

  chunks     <- documents          chunk rows + embedding
  extracted  <- chunks             mention occurrences (or long rows)
  entities   <- extracted          dedup + alias-dictionary link
  cmap       <- entities           connected-components canonical map
  nodes      <- cmap               partitioned by entity_type
  mentions   <- extracted, cmap    bucketed by entity_id
  triples    <- extracted, cmap    bucketed by subj

Two runners execute that list:

- ``run_in_memory`` builds every stage into one lazy DataFrame graph and
  persists the ``cached`` stages (tests, bench.py, the flagship query).
- ``KGPipeline.run`` writes each stage to its own table, appends
  per-partition rows to a ``_lineage`` table (stage, stage_hash,
  partition_id, doc_id_min, doc_id_max, row_count, committed_at) and
  reads the stage back. A rerun reads a stage back instead of building
  it when its stage hash (params + upstream hashes) is the latest one
  committed — the kill/resume contract (BASELINE.json north_star;
  SURVEY.md §4 item 4).

The runners differ only in the extraction input: in memory, the fused
chunk+scan pass over the documents, because nothing is committed to
read from; checkpointed, the scanner over the committed chunks.
Intermediates several stages share (the surface map, the normalized
mentions, the canonical-map broadcast guard) are derived on first use
inside a build, so a stage that is read back never pays for them.

The reference runs this flow per-document with asyncio/threads
(ingestion/document_processor.py:394-750); here every stage is one
distributed job and document parallelism is Spark task parallelism.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import chunking, extraction, linking, materialize, normalize
from .corpus import document_text

LINEAGE_SCHEMA = (
    "stage string, stage_hash string, partition_id int, doc_id_min string, "
    "doc_id_max string, row_count long, committed_at double"
)


@dataclass(frozen=True)
class Stage:
    """One node of the KG DAG. ``inputs`` are the upstream stages its
    build reads (their hashes key this stage's hash); ``partition_by``
    and ``bucket_col`` are the committed layout; ``doc_col`` is the
    column whose per-partition range the lineage rows record;
    ``run_in_memory`` persists the ``cached`` stages."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[[KGRun], DataFrame]
    partition_by: tuple[str, ...] = ()
    bucket_col: str | None = None
    doc_col: str | None = None
    cached: bool = False


class _Views(NamedTuple):
    """What the downstream stages read off the extracted rows."""

    mentions_raw: DataFrame
    surfaces: DataFrame  # the surface map's input
    rels_norm: Callable[[], DataFrame]
    triples: Callable[[DataFrame], DataFrame]  # cmap -> triples


class KGRun:
    """One run of ``STAGES``: its parameters, the stage outputs so far
    (``out``) and the intermediates several stages share, each derived
    on first use."""

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

    def build(self, stage: Stage) -> DataFrame:
        """The in-memory step: build ``stage``, persisting it if cached."""
        df = stage.build(self)
        self.out[stage.name] = df.persist() if stage.cached else df
        return self.out[stage.name]

    @cached_property
    def chunks_base(self) -> DataFrame:
        return chunking.with_quality(
            chunking.chunk_documents(document_text(self.docs), self.chunk_size, self.overlap)
        )

    @cached_property
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

    @cached_property
    def smap(self) -> DataFrame:
        return normalize.materialize_surface_map(self.views.surfaces)

    @cached_property
    def mentions_norm(self) -> DataFrame:
        df = normalize.normalize_mentions(self.views.mentions_raw, self.smap)
        return df.persist() if self.in_memory else df

    @cached_property
    def rels_norm(self) -> DataFrame:
        return self.views.rels_norm()

    @cached_property
    def broadcast_cmap(self) -> bool:
        # broadcast the canonical map only while it provably fits —
        # with an open-vocabulary extractor the map grows with distinct
        # entities and a forced broadcast would OOM at corpus scale
        return self.out["cmap"].count() <= materialize.BROADCAST_MAP_MAX_ROWS


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
    """The one per-runner difference. Checkpointed, the extractor reads
    the committed chunks. In memory, the default extractor is the fused
    chunk+scan pass (r6, guide §4.1: chunk text never round-trips
    through the JVM between two MapInPandas stages), and a custom one
    reads the lazy chunk rows without embeddings.

    A custom extractor (r3 VERDICT item 3) — typically
    ``extraction.llm_extractor(respond_fn)``, the reference's batched
    LLM call (core/entity_extraction.py:448-472) — is a callable
    ``chunks_df -> DataFrame`` emitting OCCURRENCE_SCHEMA rows or
    long-format EXTRACT_SCHEMA rows (``output_format = 'long'``)."""
    if not run.in_memory:
        return (run.extractor or extraction.extract_occurrences)(run.out["chunks"])
    if run.extractor is None:
        occ = extraction.extract_occurrences_from_docs(
            document_text(run.docs), run.chunk_size, run.overlap
        )
    else:
        occ = run.extractor(run.chunks_base)
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
    Stage("extracted", ("chunks",), _extracted, doc_col="doc_id", cached=True),
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

    def _fs_exists(self, path: str) -> bool:
        """Existence check via the Hadoop FileSystem API — honors the
        path's scheme (file://, s3a://, hdfs://), unlike os.path.exists
        which silently returns False for object stores and would
        degrade resume to full recompute on a cluster."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))

    def _committed(self) -> dict[str, str]:
        """stage -> most recently committed stage_hash.

        Lineage is append-only: a stage recomputed under different
        params leaves both hashes in the table. Resolving by latest
        committed_at pins resume to the hash that matches the data
        actually sitting in the stage dir (the newest write), so
        reverting params can never silently reuse stale output."""
        try:
            rows = (
                self.spark.read.parquet(self._lineage_path())
                .groupBy("stage")
                .agg(F.max_by("stage_hash", "committed_at").alias("stage_hash"))
                .collect()
            )
        except Exception:
            return {}
        return {r["stage"]: r["stage_hash"] for r in rows}

    def _commit(self, stage: str, stage_hash: str, doc_col: str | None, out: DataFrame) -> None:
        """Append per-partition lineage rows for a just-written stage,
        ``out`` being its read-back."""
        if doc_col is not None and doc_col in out.columns:
            stats = out.groupBy(F.spark_partition_id().alias("partition_id")).agg(
                F.min(doc_col).alias("doc_id_min"),
                F.max(doc_col).alias("doc_id_max"),
                F.count("*").alias("row_count"),
            )
        else:
            stats = out.agg(F.count("*").alias("row_count")).select(
                F.lit(-1).alias("partition_id"),
                F.lit(None).cast("string").alias("doc_id_min"),
                F.lit(None).cast("string").alias("doc_id_max"),
                "row_count",
            )
        now = float(time.time())
        lineage = stats.select(
            F.lit(stage).alias("stage"),
            F.lit(stage_hash).alias("stage_hash"),
            "partition_id",
            "doc_id_min",
            "doc_id_max",
            "row_count",
            F.lit(now).alias("committed_at"),
        )
        lineage.write.mode("append").parquet(self._lineage_path())

    def _run_stage(self, stage: Stage, h: str, run: KGRun, committed: bool) -> DataFrame:
        path = self._path(stage.name)
        table = f"{self.iceberg_prefix}.{stage.name}" if self.iceberg_prefix else None
        if committed and self._stage_output_exists(path, table):
            return self._read_stage(path, table)
        t0 = time.time()
        # single writer seam (hash-bucket layout + optional Iceberg)
        materialize.write_table(
            stage.build(run), path, partition_by=list(stage.partition_by),
            buckets=self.buckets if stage.bucket_col else None,
            bucket_col=stage.bucket_col, iceberg_table=table,
        )
        out = self._read_stage(path, table)
        self._commit(stage.name, h, stage.doc_col, out)
        self.stage_times[stage.name] = time.time() - t0
        return out

    def _read_stage(self, path: str, table: str | None) -> DataFrame:
        if table is not None:
            return self.spark.read.table(table)
        return self.spark.read.parquet(path)

    def _stage_output_exists(self, path: str, table: str | None) -> bool:
        if table is not None:
            return bool(self.spark.catalog.tableExists(table))
        return self._fs_exists(os.path.join(path, "_SUCCESS"))

    # ---------------------------------------------------------------- stages

    def run(self, resume: bool = True) -> dict[str, DataFrame]:
        """Checkpointed runner: each stage of ``STAGES`` is read back if
        committed under its current hash, else built, written, committed
        to lineage and read back."""
        run = KGRun(
            self.spark, self.spark.read.parquet(self.corpus_path), self.chunk_size,
            self.chunk_overlap, self.salt_buckets, self.extractor, in_memory=False,
        )
        committed = self._committed() if resume else {}
        hashes: dict[str, str] = {}
        for stage in STAGES:
            upstream = "|".join(hashes[s] for s in stage.inputs) or "root"
            h = hashes[stage.name] = self.stage_hash(stage.name, upstream)
            run.out[stage.name] = self._run_stage(stage, h, run, committed.get(stage.name) == h)
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
