"""Answer-generation support: the deterministic half of the generation
node (rag/nodes/generation.py:13-160). The LLM call itself is an
encoder/decoder boundary (like embeddings); everything around it —
dropping zero-similarity context, assembling the per-chunk /
per-entity source records the API returns alongside the answer — is
relational and lives here.

Reference parity notes (deliberate, documented divergences):
- the reference orders a chunk's entity list however Neo4j's collect()
  returned it and caps at 3 (generation.py:93); here the cap applies
  over (importance DESC, name) — deterministic;
- the reference fabricates entity ids with Python's salted ``hash()``
  (generation.py:97), which is not even stable across its own runs;
  here the id is the entity's real id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

PREVIEW_CHARS = 200  # generation.py:102: content[:200] + "..."
MAX_SOURCE_ENTITIES = 3  # generation.py:93: entities[:3]
SOURCES_SCHEMA = (
    "kind string, chunk_id string, entity_name string, entity_id string, relevance double, "
    "content string, contained_entities string, entity_enhanced boolean"
)


def prepare_sources(
    retrieved: DataFrame,
    chunks: DataFrame,
    mentions: DataFrame,
    nodes: DataFrame,
    max_entities: int = MAX_SOURCE_ENTITIES,
    keys: list[str] | None = None,
) -> DataFrame:
    """Source records for a retrieval result set (generation.py:45-119):

    - context rows with similarity <= 0 are dropped (:46-50);
    - entity-based rows ('entity_based' source) expand into up to
      ``max_entities`` entity sources — one row per contained entity,
      relevance = the chunk's similarity, content preview truncated to
      200 chars + '...' (:89-109); a chunk with no entities falls back
      to a regular chunk source (:110-112);
    - every other row becomes a chunk source carrying its (ordered)
      contained-entity list and an entity_enhanced flag (:114-119).

    ``retrieved``: (chunk_id, source, score) — the ``retrieve`` /
    ``hybrid_retrieval`` output shape. Returns
    (kind, chunk_id, entity_name, entity_id, relevance, content,
    contained_entities, entity_enhanced); kind = 'entity' | 'chunk'.

    All joins are semijoins from a top-k-sized retrieval frame into the
    stored tables, so the work is bounded by the retrieval size, not
    the corpus.

    ``keys`` (e.g. ['query_id']) makes this the batch twin for a
    whole-query-table context frame: the per-chunk entity ranking and
    csv are computed ONCE over the union of all queries' chunks (they
    are query-independent), then joined back to the keyed rows — per
    query identical to the unkeyed call (pytest-asserted)."""
    kc = list(keys or [])
    rel = retrieved.filter(F.col("score") > 0.0).select(
        *kc, "chunk_id", "source", F.col("score").alias("relevance")
    )
    ents = (
        mentions.join(F.broadcast(rel.select("chunk_id").distinct()), "chunk_id")
        .join(nodes.select("entity_id", "name", "importance"), "entity_id")
        .select("chunk_id", "entity_id", "name", "importance")
    )
    rk = Window.partitionBy("chunk_id").orderBy(F.desc("importance"), "name")
    ents_ranked = ents.withColumn("rk", F.row_number().over(rk))
    ent_csv = ents_ranked.groupBy("chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "name"))),
                lambda s: s["name"],
            ),
            ",",
        ).alias("contained_entities")
    )
    content = chunks.select("chunk_id", "content")
    base = rel.join(content, "chunk_id").join(ent_csv, "chunk_id", "left")

    entity_rows = (
        base.filter(F.col("source") == "entity_based")
        .join(ents_ranked.filter(F.col("rk") <= max_entities), "chunk_id")
        .select(
            *kc,
            F.lit("entity").alias("kind"),
            "chunk_id",
            F.col("name").alias("entity_name"),
            "entity_id",
            "relevance",
            F.concat(F.substring("content", 1, PREVIEW_CHARS), F.lit("...")).alias(
                "content"
            ),
            "contained_entities",
            F.lit(True).alias("entity_enhanced"),
        )
    )
    # entity-based rows with no entities fall back to chunk sources;
    # all non-entity-based rows are chunk sources
    chunk_rows = (
        base.filter(
            (F.col("source") != "entity_based")
            | F.col("contained_entities").isNull()
        )
        .select(
            *kc,
            F.lit("chunk").alias("kind"),
            "chunk_id",
            F.lit(None).cast("string").alias("entity_name"),
            F.lit(None).cast("string").alias("entity_id"),
            "relevance",
            "content",
            F.coalesce("contained_entities", F.lit("")).alias("contained_entities"),
            (F.coalesce("contained_entities", F.lit("")) != "").alias(
                "entity_enhanced"
            ),
        )
    )
    return entity_rows.unionByName(chunk_rows)


def response_metadata(retrieved: DataFrame, analysis: dict) -> dict:
    """The response metadata block (generation.py:122-146): counts plus
    the analysis echo — driver-side, bounded input."""
    n = retrieved.filter(F.col("score") > 0.0).count()
    return {
        "chunks_used": n,
        "query_type": analysis.get("query_type", "factual"),
        "complexity": analysis.get("complexity", "simple"),
        "multi_hop_recommended": bool(analysis.get("multi_hop_recommended", False)),
    }


def _positive(score) -> bool:
    """Spark's ``score > 0.0``: null is false and NaN, which Spark orders
    above every number, is true."""
    return score is not None and (score != score or score > 0.0)


def driver_sources(
    context: list,
    content: dict,
    entities: dict,
    max_entities: int = MAX_SOURCE_ENTITIES,
) -> list:
    """``prepare_sources``' rows (unkeyed, same column order) from driver
    state: ``context`` holds (chunk_id, source, score) rows, ``content``
    maps chunk_id -> content (rows for other chunks are dropped, like
    the inner join) and ``entities`` maps chunk_id -> its mention rows
    (entity_id, name, importance) in rank order, duplicates kept. Same
    rows as the DataFrame body (pytest-asserted)."""
    ent_rows, chunk_rows = [], []
    for cid, source, score in context:
        if not _positive(score) or cid not in content:
            continue
        text = content[cid]
        ents = entities.get(cid)
        # array_join skips null names
        csv = ",".join(n for _e, n, _i in ents if n is not None) if ents else None
        if source == "entity_based" and csv is not None:
            preview = None if text is None else text[:PREVIEW_CHARS] + "..."
            ent_rows += [
                ("entity", cid, n, e, score, preview, csv, True)
                for e, n, _i in ents[:max_entities]
            ]
        # Spark's (source != 'entity_based') OR csv IS NULL, null source
        # included
        elif csv is None or source is not None:
            chunk_rows.append(("chunk", cid, None, None, score, text, csv or "", bool(csv)))
    return ent_rows + chunk_rows


def driver_response_metadata(context: list, analysis: dict) -> dict:
    """``response_metadata`` over (chunk_id, source, score) rows."""
    return {
        "chunks_used": sum(_positive(r[2]) for r in context),
        "query_type": analysis.get("query_type", "factual"),
        "complexity": analysis.get("complexity", "simple"),
        "multi_hop_recommended": bool(analysis.get("multi_hop_recommended", False)),
    }
