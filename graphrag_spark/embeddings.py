"""Deterministic embeddings for chunks and entities.

The reference embeds chunks and entities through an external embedding
API (core/embeddings.py:207-229; entity text is "name: description",
core/graph_db.py:783) with TTL caching (embeddings.py:163). Here the
embedding function is a deterministic feature-hashing encoder — an
Arrow-batched, numpy-vectorized stand-in with the exact schema,
batching, and dedup-before-compute shape a real model UDF would have
(the reference's cache is replaced by ``dropDuplicates`` on the text
before the UDF, SURVEY.md §2.9).

The content dedup applies only to ``embed_chunks`` callers
(``graph_ops``) and to ``repair_embeddings``. The pipeline's chunks
stage embeds inside the chunker's own Arrow pass
(``chunking.embedded_chunks``) with no dedup: the encoder is
deterministic and independent of the batch, so a repeated text gets
the same vector either way, and the dedup would cost two more chunker
passes, a shuffle and two joins.

Encoder: hash word 1-2-grams into ``dim`` buckets with +/- signs
(sign hash), L2-normalize. Similar texts share n-grams -> high cosine;
fully deterministic across processes (pandas keyed siphash).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

EMBED_DIM = 64


def embed_texts_np(texts: list[str], dim: int = EMBED_DIM) -> np.ndarray:
    """Vectorized deterministic embedding of a text batch.

    One ``hash_array`` call + one scatter-add over the WHOLE batch
    (per-text calls dominate at ~1M chunks). Bit-identical to the
    per-text formulation: the scattered addends are exact +/-1.0, so
    accumulation order cannot change the sums."""
    out = np.zeros((len(texts), dim), dtype=np.float64)
    all_grams: list[str] = []
    row_idx: list[int] = []
    for i, text in enumerate(texts):
        words = (text or "").lower().split()
        grams = words + [" ".join(words[j : j + 2]) for j in range(len(words) - 1)]
        if not grams:
            out[i, 0] = 1.0
            continue
        all_grams.extend(grams)
        row_idx.extend([i] * len(grams))
    if all_grams:
        h = pd.util.hash_array(np.asarray(all_grams, dtype=object), categorize=False)
        cols = (h % dim).astype(np.int64)
        signs = np.where((h >> np.uint64(32)) & np.uint64(1), 1.0, -1.0)
        np.add.at(out, (np.asarray(row_idx, dtype=np.int64), cols), signs)
        norms = np.linalg.norm(out, axis=1)
        zero = norms == 0
        out[zero, 0] = 1.0
        norms[zero] = 1.0
        out /= norms[:, None]
    return out


def _embed_df(df: DataFrame, id_col: str, text_col: str, dim: int) -> DataFrame:
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = embed_texts_np(list(pdf[text_col]), dim)
            yield pd.DataFrame({id_col: pdf[id_col], "embedding": [v.tolist() for v in vecs]})

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


def embed_chunks(chunks: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """chunks -> (chunk_id, embedding). Distinct-content dedup before
    the UDF replaces the reference's embedding cache: identical texts
    are embedded once, then joined back."""
    distinct_texts = chunks.select(F.md5("content").alias("_h"), F.col("content")).dropDuplicates(["_h"])
    embedded = _embed_df(distinct_texts, "_h", "content", dim)
    return (
        chunks.select("chunk_id", "doc_id", F.md5("content").alias("_h"))
        .join(embedded, "_h")
        .select("chunk_id", "doc_id", "embedding")
    )


def embed_entities(nodes: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """nodes -> (entity_id, embedding) over "name: description"
    (reference core/graph_db.py:783)."""
    with_text = nodes.select(
        "entity_id", F.concat_ws(": ", F.col("name"), F.col("description")).alias("_t")
    )
    return _embed_df(with_text, "entity_id", "_t", dim)


# ------------------------------------------------------------- validation

# Validation states for stored embedding columns (reference analog:
# core/graph_db.py:1193-1386 validate_embeddings — detects chunks/
# entities with missing or dimension-inconsistent vectors — and
# :1550-1626 fix_inconsistent_embeddings, which re-embeds exactly the
# flagged rows). A real backfill that dies mid-run leaves all four bad
# states behind; the repair job below recomputes ONLY those rows.
EMBEDDING_STATUSES = ("ok", "missing", "empty", "wrong_dim", "non_finite")


def embedding_status_col(vec_col: str = "embedding", dim: int = EMBED_DIM) -> F.Column:
    """Native (codegen'd) status expression for one embedding column —
    no Python in the scan: missing (NULL), empty, wrong_dim (!= dim),
    non_finite (any NaN/±Inf/NULL element), else ok."""
    v = F.col(vec_col)
    bad_elem = F.exists(
        v, lambda x: x.isNull() | F.isnan(x) | (F.abs(x) > F.lit(1.7e308))
    )
    return (
        F.when(v.isNull(), F.lit("missing"))
        .when(F.size(v) == 0, F.lit("empty"))
        .when(F.size(v) != dim, F.lit("wrong_dim"))
        .when(bad_elem, F.lit("non_finite"))
        .otherwise(F.lit("ok"))
    )


def validate_embeddings(df: DataFrame, vec_col: str = "embedding", dim: int = EMBED_DIM) -> DataFrame:
    """Append an ``embedding_status`` column (see EMBEDDING_STATUSES).
    One narrow scan; at 100 TB this is a column-pruned pass over the
    vector column only."""
    return df.withColumn("embedding_status", embedding_status_col(vec_col, dim))


def embedding_validation_summary(df: DataFrame, vec_col: str = "embedding", dim: int = EMBED_DIM) -> DataFrame:
    """(embedding_status, n_rows) rollup — the data-quality assertion a
    backfill job gates on."""
    return (
        validate_embeddings(df, vec_col, dim)
        .groupBy("embedding_status")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("embedding_status")
    )


def repair_embeddings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Recompute embeddings for EXACTLY the invalid rows; valid rows
    pass through byte-identical (reference fix_inconsistent_embeddings,
    core/graph_db.py:1550-1626). The recompute goes through the same
    dedup-before-embed path as the original computation, so repairing
    k bad rows costs O(k distinct texts), not a full re-embed — the
    posture that matters when 0.1% of a 10^12-row backfill failed."""
    st = validate_embeddings(df, vec_col, dim)
    good = st.filter(F.col("embedding_status") == "ok").drop("embedding_status")
    bad = st.filter(F.col("embedding_status") != "ok").drop("embedding_status")
    # join key coalesces NULL text to '': md5(NULL) is NULL and a NULL
    # key would silently DROP those rows from the inner join below —
    # every input row must come back repaired-or-unchanged. A NULL text
    # embeds like an empty one (the encoder's zero-gram unit vector).
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    distinct_texts = bad.select(h.alias("_h"), F.col(text_col)).dropDuplicates(["_h"])
    fixed_vecs = _embed_df(distinct_texts, "_h", text_col, dim)
    fixed = (
        bad.drop(vec_col)
        .withColumn("_h", h)
        .join(fixed_vecs.withColumnRenamed("embedding", vec_col), "_h")
        .drop("_h")
    )
    return good.unionByName(fixed.select(*good.columns))
