"""Entity dedup + alias-dictionary linking.

Dedup semantics mirror the reference's per-chunk and global entity merge
(core/entity_extraction.py:300-338, 552-557): key = (normalized name
lowercased, normalized type), merged source_chunks union, longest
description, mean importance. The reference's pairwise-sequential mean
is order-dependent (SURVEY.md §7.2); we use the exact mean — documented
divergence that does not affect (subj, pred, obj) P/R.

Scale design: this is the pipeline's hottest shuffle (hub entities show
up in a large fraction of all chunks — Zipfian by construction). The
aggregation is **explicitly two-phase with a salt key**: phase 1 groups
by (name_key, salt) so a hub entity's partial state is spread over
``salt_buckets`` reducers, phase 2 merges the tiny per-salt partials.
AQE skew-join splitting stays on as a backstop (session.py). The alias
dictionary join is an explicit ``F.broadcast`` — the dictionary is
O(10^4) rows and must never shuffle the mention side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .normalize import py_norm_name, py_norm_type
from .session import literal_frame
from .vocab import aliases_as_rows

SALT_BUCKETS = 16


def dedup_entities(mentions: DataFrame, salt_buckets: int = SALT_BUCKETS) -> DataFrame:
    """Normalized mentions -> one row per distinct entity surface key.

    Dedup key = (lowercased normalized name, normalized type), exactly
    the reference's ``key = (normalized_name.lower(), normalized_type)``
    (core/entity_extraction.py:306-310). Entities sharing a name across
    types stay separate here and merge only at the canonical-node level
    (the reference's graph MERGE keys nodes by md5(name.lower()),
    ingestion/document_processor.py:123-125).

    Output: name_key, display_name, entity_type, importance,
    description, source_chunks, n_mentions.
    """
    m = mentions.withColumn("name_key", F.lower(F.col("name")))

    # E9: per-chunk dedup (same key extracted twice in one chunk)
    per_chunk = m.groupBy("chunk_id", "name_key", "entity_type").agg(
        F.max_by("name", F.struct(F.col("importance"), F.col("name"))).alias("name"),
        F.avg("importance").alias("importance"),
        F.max_by("description", F.struct(F.length("description"), F.col("description"))).alias("description"),
    )

    # E10/E11: global dedup — explicit salted two-phase aggregation
    salted = per_chunk.withColumn(
        "salt", F.pmod(F.xxhash64("chunk_id"), F.lit(salt_buckets)).cast("int")
    )
    partial = salted.groupBy("name_key", "entity_type", "salt").agg(
        F.sum("importance").alias("imp_sum"),
        F.count("*").alias("cnt"),
        F.collect_set("chunk_id").alias("chunks_part"),
        F.max_by("description", F.struct(F.length("description"), F.col("description"))).alias("description"),
        F.min("name").alias("display_name"),
    )
    final = partial.groupBy("name_key", "entity_type").agg(
        (F.sum("imp_sum") / F.sum("cnt")).alias("importance"),
        F.sum("cnt").alias("n_mentions"),
        F.sort_array(F.array_distinct(F.flatten(F.collect_list("chunks_part")))).alias("source_chunks"),
        F.max_by("description", F.struct(F.length("description"), F.col("description"))).alias("description"),
        F.min("display_name").alias("display_name"),
    )
    return final.select(
        "name_key", "display_name", "entity_type",
        F.round("importance", 6).alias("importance"),
        "description", "source_chunks", "n_mentions",
    )


def alias_rows() -> list[tuple[str, str, str, float]]:
    """(alias_key, canonical_name, entity_type, prior) per vocabulary
    alias: the normalized alias surface -> canonical entity."""
    return [
        (py_norm_name(alias).lower(), canonical, py_norm_type(etype), float(prior))
        for alias, canonical, etype, prior in aliases_as_rows()
    ]


def alias_dictionary(spark: SparkSession) -> DataFrame:
    """The broadcast side of the link join (FIXTURES.md §2): one row per
    normalized alias surface -> canonical entity, with link prior.

    The reduction over aliases sharing a key runs on the driver and the
    result is a literal frame, so no Spark job builds it: per key the
    canonical name of the greatest (prior, canonical_name), the type of
    the greatest (prior, entity_type) and the greatest prior, as a
    ``groupBy`` / ``max_by`` over ``alias_rows()`` gives (tested equal)."""
    best: dict[str, tuple] = {}
    for key, canonical, etype, prior in alias_rows():
        name, typ = best.get(key, ((prior, canonical), (prior, etype)))
        best[key] = (max(name, (prior, canonical)), max(typ, (prior, etype)))
    return literal_frame(
        spark,
        [(key, name, etype, prior) for key, ((prior, name), (_, etype)) in best.items()],
        "alias_key string, canonical_name string, canonical_type string, prior double",
    )


def link_entities(entities: DataFrame, aliases: DataFrame) -> DataFrame:
    """Entity-link scoring via broadcast alias-dictionary join (J3).

    Adds: canonical_name (dictionary hit or self), link_score.
    """
    joined = entities.join(F.broadcast(aliases), entities.name_key == aliases.alias_key, "left")
    return joined.select(
        entities["*"],
        F.coalesce(F.col("canonical_name"), F.col("display_name")).alias("canonical_name"),
        F.coalesce(F.col("canonical_type"), entities["entity_type"]).alias("canonical_type"),
        F.coalesce(F.col("prior"), F.lit(0.5)).alias("link_score"),
        F.col("alias_key").isNotNull().alias("dictionary_hit"),
    )
