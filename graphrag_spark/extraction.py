"""Deterministic mention/triple extraction over chunk text.

The reference extracts entities/relationships per chunk with an LLM call
(core/entity_extraction.py:448-472) and parses a pipe-delimited format
(:389-434). We keep that exact *output contract* but replace the LLM
with a deterministic rule-based extractor (``det_extract_response``) —
an alias-dictionary matcher over the chunk text — so results are
reproducible and oracle-checkable. The same function is used by both
the Spark pipeline and the pure-Python reference-port oracle, so triple
P/R measures pipeline-plumbing agreement (parse → normalize → filter →
dedup → semijoin → pair-group), not extractor luck.

Spark-side this is one Arrow-batched ``mapInPandas`` over chunks: the
compiled alias automaton is built once per Python worker (module-level
cache), the regex engine does the matching in C, and the output is a
long-format DataFrame split downstream into mentions and raw
relationships. At 100 TB the stage is embarrassingly parallel: no
shuffle, input partitions map 1:1 to output partitions.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from functools import lru_cache

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .session import literal_frame
from .vocab import build_vocabulary

# relationship co-occurrence window in characters (two mentions within
# this distance in a chunk produce a relationship candidate)
REL_WINDOW = 300
REL_DESCRIPTION = "co-occurs with"

# parse regexes — the reference's exact field order and patterns
# (entity_extraction.py:389 and :416):
#   - Name: .. | Type: .. | Description: .. | Importance: <float>
#   - Source: .. | Target: .. | Description: .. | Strength: <float>
ENTITY_LINE_RE = re.compile(
    r"- Name: ([^|]+) \| Type: ([^|]+) \| Description: ([^|]+) \| Importance: ([\d.]+)"
)
REL_LINE_RE = re.compile(
    r"- Source: ([^|]+) \| Target: ([^|]+) \| Description: ([^|]+) \| Strength: ([\d.]+)"
)


_TOKEN_RE = re.compile(r"\S+")
_STRIP_CHARS = ".,;:!?()[]{}'\"`"


@lru_cache(maxsize=1)
def _matcher() -> tuple[dict[tuple[str, ...], tuple[str, str, float]], int]:
    """Token-tuple dictionary for linear-time longest-match scanning:
    (lowercased, punctuation-stripped token tuple) ->
    (stored surface form, messy_type, prior), plus the max key length.

    A naive regex alternation over ~5k aliases is O(alternatives) per
    position in CPython's re; the token-tuple greedy scan below is
    O(tokens * max_alias_len) — ~70x faster per chunk.
    """
    _, aliases = build_vocabulary()
    info: dict[tuple[str, ...], tuple[str, str, float]] = {}
    max_len = 1
    for a in aliases:
        s = " ".join(a.alias.split())
        if not s:
            continue
        key = tuple(t.strip(_STRIP_CHARS).lower() for t in s.split())
        key = tuple(t for t in key if t)
        if not key:
            continue
        max_len = max(max_len, len(key))
        # first writer wins — deterministic because build_vocabulary is
        info.setdefault(key, (s, a.entity_type, a.prior))
    return info, max_len


@lru_cache(maxsize=1)
def _surface_info() -> dict[str, tuple[str, float]]:
    info, _ = _matcher()
    return {s: (t, p) for (s, t, p) in info.values()}


@lru_cache(maxsize=1)
def _matcher_index() -> dict[str, list[tuple[int, tuple[str, ...], tuple[str, str, float]]]]:
    """First-normalized-token index over the matcher keys (r6, guide
    §1.2 "per-task work"): the greedy scan below consults it once per
    token position, so positions whose token starts no alias (the vast
    majority) cost ONE dict probe instead of ``max_len`` tuple builds +
    probes. Candidates are ordered longest-first, preserving the
    longest-match-wins semantics of the original window loop exactly."""
    info, _ = _matcher()
    idx: dict[str, list[tuple[int, tuple[str, ...], tuple[str, str, float]]]] = {}
    for key, rec in info.items():
        idx.setdefault(key[0], []).append((len(key), key, rec))
    for cands in idx.values():
        cands.sort(key=lambda t: -t[0])
    return idx


def _scan_mentions(chunk_text: str) -> list[tuple[int, str]]:
    """Greedy non-overlapping longest-match scan -> [(char_pos, surface)].
    Deterministic; linear in token count (first-token-indexed — output
    asserted identical to the windowed scan it replaced)."""
    idx = _matcher_index()
    toks = [(m.group(0), m.start()) for m in _TOKEN_RE.finditer(chunk_text)]
    norm = [t[0].strip(_STRIP_CHARS).lower() for t in toks]
    out: list[tuple[int, str]] = []
    i = 0
    n = len(toks)
    while i < n:
        cands = idx.get(norm[i])
        if cands is None:
            i += 1
            continue
        hit = None
        for length, key, rec in cands:
            if length > n - i:
                continue
            if length == 1:
                hit = (length, rec)
                break
            seg = norm[i : i + length]
            # the original windowed scan skipped any window containing a
            # fully-stripped ("") token; key tuples never contain ""
            if "" in seg:
                continue
            if tuple(seg) == key:
                hit = (length, rec)
                break
        if hit is not None:
            length, (surface, _t, _p) = hit
            out.append((toks[i][1], surface))
            i += length
        else:
            i += 1
    return out


def det_extract_structured(chunk_text: str) -> tuple[list[dict], list[dict]]:
    """Structured twin of ``parse_extraction_response(
    det_extract_response(text))`` — bit-identical output without the
    response-string build + regex re-parse round-trip (the hot path for
    the Spark pipeline; ~2x per chunk). Equivalence with the contract
    path is asserted by tests/test_extraction.py."""
    surface_info = _surface_info()
    matches = _scan_mentions(chunk_text)
    if not matches:
        return [], []
    entities: list[dict] = []
    seen: set[str] = set()
    for _, surface in matches:
        if surface in seen:
            continue
        seen.add(surface)
        etype, prior = surface_info[surface]
        entities.append(
            {
                "name": surface,
                "type": etype,
                "importance": float(f"{prior:.2f}"),
                "description": f"{surface} appears in context as {etype.lower()}",
            }
        )
    pair_counts: dict[tuple[str, str], int] = {}
    for i in range(len(matches)):
        for j in range(i + 1, len(matches)):
            if matches[j][0] - matches[i][0] > REL_WINDOW:
                break
            a, b = matches[i][1], matches[j][1]
            if a == b:
                continue
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + 1
    rels = [
        {
            "source": a,
            "target": b,
            "strength": float(f"{round(min(0.4 + 0.1 * min(cnt, 5), 0.9), 2):.2f}"),
            "description": REL_DESCRIPTION,
        }
        for (a, b), cnt in pair_counts.items()
    ]
    return entities, rels


def det_extract_response(chunk_text: str) -> str:
    """Deterministic stand-in for the reference's per-chunk LLM call.

    Emits the reference's pipe-delimited response format
    (entity_extraction.py:340-367): an ENTITIES section and a
    RELATIONSHIPS section. Entities = alias-dictionary matches
    (longest-match token scan); relationships = co-occurrence within
    REL_WINDOW chars, strength scaled by pair frequency in the chunk.
    """
    surface_info = _surface_info()
    matches = _scan_mentions(chunk_text)
    if not matches:
        return "ENTITIES:\nRELATIONSHIPS:\n"

    lines = ["ENTITIES:"]
    seen: set[str] = set()
    for _, surface in matches:
        if surface in seen:
            continue
        seen.add(surface)
        etype, prior = surface_info[surface]
        lines.append(
            f"- Name: {surface} | Type: {etype} "
            f"| Description: {surface} appears in context as {etype.lower()} "
            f"| Importance: {prior:.2f}"
        )

    pair_counts: dict[tuple[str, str], int] = {}
    for i in range(len(matches)):
        for j in range(i + 1, len(matches)):
            if matches[j][0] - matches[i][0] > REL_WINDOW:
                break
            a, b = matches[i][1], matches[j][1]
            if a == b:
                continue
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + 1

    lines.append("RELATIONSHIPS:")
    for (a, b), cnt in pair_counts.items():
        strength = round(min(0.4 + 0.1 * min(cnt, 5), 0.9), 2)
        lines.append(
            f"- Source: {a} | Target: {b} | Description: {REL_DESCRIPTION} "
            f"| Strength: {strength:.2f}"
        )
    return "\n".join(lines) + "\n"


def parse_extraction_response(response: str) -> tuple[list[dict], list[dict]]:
    """Parse the pipe format (reference entity_extraction.py:389-434);
    importance/strength clamped to [0,1]."""
    entities: list[dict] = []
    rels: list[dict] = []
    for line in response.splitlines():
        line = line.strip()
        m = ENTITY_LINE_RE.match(line)
        if m:
            name, etype, desc, imp = m.groups()
            entities.append(
                {
                    "name": name.strip(),
                    "type": etype.strip(),
                    "importance": max(0.0, min(1.0, float(imp))),
                    "description": desc.strip(),
                }
            )
            continue
        m = REL_LINE_RE.match(line)
        if m:
            src, dst, desc, strength = m.groups()
            rels.append(
                {
                    "source": src.strip(),
                    "target": dst.strip(),
                    "strength": max(0.0, min(1.0, float(strength))),
                    "description": desc.strip(),
                }
            )
    return entities, rels


def extraction_prompt(text: str, entity_types: tuple[str, ...] | None = None) -> str:
    """The reference's extraction prompt (core/entity_extraction.py:
    340-367 _get_extraction_prompt), verbatim contract: instructs the
    model to emit the pipe-delimited ENTITIES/RELATIONSHIPS format that
    ``parse_extraction_response`` consumes."""
    from .vocab import CANONICAL_TYPES

    entity_types_str = ", ".join(entity_types or sorted(CANONICAL_TYPES))
    return f"""You are an expert at extracting entities and relationships from text.

**Task**: Extract all relevant entities and relationships from the given text.

**Entity Types**: Focus on these types: {entity_types_str}

**Instructions**:
1. Extract entities with: name, type, description, importance (0.0-1.0)
2. Extract relationships with: source entity, target entity, description, strength (0.0-1.0)
3. Use exact entity names from the text
4. Provide detailed descriptions
5. Rate importance/strength based on context significance

**Output Format**:
ENTITIES:
- Name: [entity_name] | Type: [entity_type] | Description: [description] | Importance: [0.0-1.0]

RELATIONSHIPS:
- Source: [source_entity] | Target: [target_entity] | Description: [description] | Strength: [0.0-1.0]

**Text to analyze**:
{text}

**Output**:"""


def llm_extractor(respond_fn, prompt_fn=extraction_prompt):
    """Pluggable-extractor adapter (r3 VERDICT item 3): wrap any
    text->text response function (a batched LLM client, a cached
    replay, a test fake) into a pipeline extractor. The returned
    callable maps the chunks frame through one Arrow-batched
    ``mapInPandas`` pass — same distribution shape as the deterministic
    extractor — building the reference's prompt per chunk
    (core/entity_extraction.py:448-472 ``_extract_from_chunk``) and
    parsing responses through the pipe-format contract
    (``parse_extraction_response``, :389-434). Emits long-format
    EXTRACT_SCHEMA rows (``output_format = 'long'``), which
    ``run_in_memory`` / ``KGPipeline`` route through the
    normalize -> link -> canonicalize -> materialize path.

    ``respond_fn`` runs inside executors: it must be picklable and
    safe to call concurrently from multiple worker processes (use a
    module-level client, not a captured connection)."""

    def extract(chunks_df: DataFrame) -> DataFrame:
        from .session import ensure_parallelism

        chunks_df = ensure_parallelism(chunks_df)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                c_chunk, c_doc, c_kind, c_name, c_tt, c_score, c_desc = [], [], [], [], [], [], []
                for chunk_id, doc_id, content in zip(pdf["chunk_id"], pdf["doc_id"], pdf["content"]):
                    ents, rels = parse_extraction_response(
                        respond_fn(prompt_fn(content or ""))
                    )
                    for e in ents:
                        c_chunk.append(chunk_id)
                        c_doc.append(doc_id)
                        c_kind.append("entity")
                        c_name.append(e["name"])
                        c_tt.append(e["type"])
                        c_score.append(e["importance"])
                        c_desc.append(e["description"])
                    for r in rels:
                        c_chunk.append(chunk_id)
                        c_doc.append(doc_id)
                        c_kind.append("rel")
                        c_name.append(r["source"])
                        c_tt.append(r["target"])
                        c_score.append(r["strength"])
                        c_desc.append(r["description"])
                yield pd.DataFrame(
                    {
                        "chunk_id": c_chunk,
                        "doc_id": c_doc,
                        "kind": c_kind,
                        "name": c_name,
                        "type_or_target": c_tt,
                        "score": c_score,
                        "description": c_desc,
                    }
                )

        return chunks_df.select("chunk_id", "doc_id", "content").mapInPandas(
            gen, schema=EXTRACT_SCHEMA
        )

    extract.output_format = "long"
    return extract


OCCURRENCE_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("type_or_target", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("description", T.StringType()),
    ]
)

# The narrow occurrence shape of the deterministic pipeline (r6, guide
# §2.3 "shuffle keys and metadata instead of payloads"): type, score and
# description are pure functions of the surface name under the det
# contract, so shipping them per occurrence row multiplied the Arrow
# crossing, the chunk_id exchange and the cache by the ~50-char payload.
# They are re-attached AFTER the per-chunk distinct via a broadcast of
# the vocabulary-bounded payload table (``surface_payload_df``).
OCCURRENCE_NARROW_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("name", T.StringType()),
    ]
)

# strength lookup by capped pair count, computed through the exact
# Python float path of det_extract_structured so Spark-side derivation
# is bit-identical
_STRENGTHS = [float(f"{round(min(0.4 + 0.1 * min(c, 5), 0.9), 2):.2f}") for c in range(1, 6)]


@lru_cache(maxsize=1)
def _surface_payload_rows() -> list[tuple[str, str, float, str]]:
    """(name, type_or_target, score, description) per vocabulary
    surface, computed through the exact Python expressions the wide
    occurrence emitter used — attaching these rows reproduces its
    values bit for bit."""
    return [
        (s, t, float(f"{p:.2f}"), f"{s} appears in context as {t.lower()}")
        for s, (t, p) in sorted(_surface_info().items())
    ]


def surface_payload_df(spark) -> DataFrame:
    """Broadcastable vocabulary payload table (one row per surface)."""
    return literal_frame(
        spark,
        _surface_payload_rows(),
        "name string, type_or_target string, score double, description string",
    )


def extract_occurrences(chunks_df: DataFrame) -> DataFrame:
    """chunks -> one row per entity mention occurrence (with char
    position). This is the ONLY Python pass of the scaled pipeline;
    entity rows and relationship rows are derived relationally
    (entities_from_occurrences / rels_from_occurrences), which is
    bit-equivalent to det_extract_structured (tested) but keeps the
    quadratic pair expansion JVM-side with map-side partial
    aggregation.

    Emits the NARROW occurrence shape (chunk_id, doc_id, pos, name):
    the per-surface payload columns are functions of ``name`` and are
    re-attached downstream from ``surface_payload_df`` (r6 — they more
    than doubled the bytes crossing the Python boundary and every
    downstream exchange). Custom extractors may still emit the wide
    OCCURRENCE_SCHEMA; every consumer accepts both shapes."""
    from .session import ensure_parallelism

    chunks_df = ensure_parallelism(chunks_df)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_chunk, c_doc, c_pos, c_name = [], [], [], []
            for chunk_id, doc_id, content in zip(pdf["chunk_id"], pdf["doc_id"], pdf["content"]):
                for pos, surface in _scan_mentions(content or ""):
                    c_chunk.append(chunk_id)
                    c_doc.append(doc_id)
                    c_pos.append(pos)
                    c_name.append(surface)
            yield pd.DataFrame(
                {
                    "chunk_id": c_chunk,
                    "doc_id": c_doc,
                    "pos": c_pos,
                    "name": c_name,
                }
            )

    return chunks_df.select("chunk_id", "doc_id", "content").mapInPandas(
        gen, schema=OCCURRENCE_NARROW_SCHEMA
    )


def extract_occurrences_from_docs(
    doc_text_df: DataFrame, chunk_size: int, overlap: int
) -> DataFrame:
    """(doc_id, content) documents -> narrow occurrence rows with
    chunking and mention scanning FUSED into one Python pass (r6, guide
    §4.1): the chained ``chunk_documents -> extract_occurrences``
    composition ships every chunk's text Python->JVM->Python across two
    MapInPandas nodes; here the chunk text never leaves the worker that
    split it. Chunk ids/offsets reproduce ``chunk_documents`` exactly
    (same ``split_with_offsets`` call, same ``{doc}_chunk_{i}`` ids), so
    the occurrence rows are identical (pytest-asserted)."""
    from .chunking import split_with_offsets
    from .session import ensure_parallelism

    doc_text_df = ensure_parallelism(doc_text_df)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_chunk, c_doc, c_pos, c_name = [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                for i, (chunk, _off) in enumerate(
                    split_with_offsets(content or "", chunk_size, overlap)
                ):
                    chunk_id = f"{doc_id}_chunk_{i}"
                    for pos, surface in _scan_mentions(chunk):
                        c_chunk.append(chunk_id)
                        c_doc.append(doc_id)
                        c_pos.append(pos)
                        c_name.append(surface)
            yield pd.DataFrame(
                {
                    "chunk_id": c_chunk,
                    "doc_id": c_doc,
                    "pos": c_pos,
                    "name": c_name,
                }
            )

    return doc_text_df.select("doc_id", "content").mapInPandas(
        gen, schema=OCCURRENCE_NARROW_SCHEMA
    )


def entities_from_occurrences(occ: DataFrame) -> DataFrame:
    """Occurrence rows -> per-chunk entity rows (first mention wins —
    identical to det_extract_structured's seen-set).

    Execution shape (r6): the occurrence contract makes doc_id a
    function of chunk_id and (type, score, description) functions of
    the surface name, so "first value per (chunk, name)" is exactly a
    DISTINCT — over the three key columns on the narrow occurrence
    shape (payload re-attached from the broadcast vocabulary table,
    values bit-identical by construction), or over all six on the wide
    custom-extractor shape. The former first()-aggregates put strings
    in the aggregation buffer, which demoted the whole pass to a
    SortAggregate over every occurrence row; distinct stays a
    buffer-free HashAggregate (and was the only ordering under which
    the unordered first() was deterministic in the first place)."""
    if "type_or_target" in occ.columns:
        return occ.select(
            "chunk_id", "doc_id", F.lit("entity").alias("kind"),
            "name", "type_or_target", "score", "description",
        ).distinct()
    # narrow surfaces must come from the vocabulary: a name the payload
    # table lacks fails the job (left join + raise_error, no extra job)
    # instead of silently dropping its entity rows
    payload = surface_payload_df(occ.sparkSession)
    etype = F.when(
        F.col("type_or_target").isNull(),
        F.raise_error(
            F.concat(F.lit("narrow occurrence surface not in the vocabulary: "), F.col("name"))
        ),
    ).otherwise(F.col("type_or_target"))
    return (
        occ.select("chunk_id", "doc_id", "name")
        .distinct()
        .join(F.broadcast(payload), "name", "left")
        .select(
            "chunk_id", "doc_id", F.lit("entity").alias("kind"),
            "name", etype.alias("type_or_target"), "score", "description",
        )
    )


def rels_from_occurrences(occ: DataFrame, window: int = REL_WINDOW) -> DataFrame:
    """Occurrence rows -> per-chunk relationship rows via a bounded
    range self-join (o2 after o1, within `window` chars, different
    surface), aggregated to ordered pair counts with the det extractor's
    strength formula. Map-side partial aggregation compresses the
    quadratic pair expansion before the shuffle."""
    o1 = occ.select("chunk_id", "doc_id", F.col("pos").alias("p1"), F.col("name").alias("src"))
    o2 = occ.select("chunk_id", F.col("pos").alias("p2"), F.col("name").alias("dst"))
    # SHUFFLE_HASH: skip the per-partition sorts a default sort-merge
    # self-join would pay on both O(corpus) sides (guide §3.1)
    pairs = (
        o1.join(o2.hint("SHUFFLE_HASH"), "chunk_id")
        .filter((F.col("p2") > F.col("p1")) & (F.col("p2") - F.col("p1") <= window) & (F.col("src") != F.col("dst")))
    )
    strength = F.element_at(
        F.array(*[F.lit(s) for s in _STRENGTHS]),
        F.least(F.count("*"), F.lit(5)).cast("int"),
    )
    return (
        pairs.groupBy("chunk_id", "src", "dst")
        .agg(F.first("doc_id").alias("doc_id"), strength.alias("score"))
        .select(
            "chunk_id", "doc_id", F.lit("rel").alias("kind"),
            F.col("src").alias("name"), F.col("dst").alias("type_or_target"),
            "score", F.lit(REL_DESCRIPTION).alias("description"),
        )
    )


EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # 'entity' | 'rel'
        T.StructField("name", T.StringType()),  # entity name | rel source
        T.StructField("type_or_target", T.StringType()),
        T.StructField("score", T.DoubleType()),  # importance | strength
        T.StructField("description", T.StringType()),
    ]
)


def extract_chunks(chunks_df: DataFrame, kinds: tuple[str, ...] = ("entity", "rel")) -> DataFrame:
    """chunks(doc_id, chunk_id, content) -> long-format extraction rows.

    ``kinds`` selects which record kinds to emit. The pipeline runs two
    slim passes (entities-only, rels-only) instead of caching one wide
    output: re-running the extraction UDF scales with cores, while
    building a 10^7-row columnar cache is a serial bottleneck — and on
    a real cluster the cache would also pressure executor memory.

    Rebalanced by chunk (not doc) so chunk-heavy documents don't skew
    task runtimes."""
    from .session import ensure_parallelism

    chunks_df = ensure_parallelism(chunks_df)
    want_entities = "entity" in kinds
    want_rels = "rel" in kinds

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation: list-of-tuples -> pd.DataFrame is
            # the dominant cost at ~50 output rows/chunk; per-column
            # lists + dict construction is several times faster
            c_chunk, c_doc, c_kind, c_name, c_tt, c_score, c_desc = [], [], [], [], [], [], []
            for chunk_id, doc_id, content in zip(pdf["chunk_id"], pdf["doc_id"], pdf["content"]):
                ents, rels = det_extract_structured(content or "")
                if want_entities:
                    for e in ents:
                        c_chunk.append(chunk_id)
                        c_doc.append(doc_id)
                        c_kind.append("entity")
                        c_name.append(e["name"])
                        c_tt.append(e["type"])
                        c_score.append(e["importance"])
                        c_desc.append(e["description"])
                if want_rels:
                    for r in rels:
                        c_chunk.append(chunk_id)
                        c_doc.append(doc_id)
                        c_kind.append("rel")
                        c_name.append(r["source"])
                        c_tt.append(r["target"])
                        c_score.append(r["strength"])
                        c_desc.append(r["description"])
            yield pd.DataFrame(
                {
                    "chunk_id": c_chunk,
                    "doc_id": c_doc,
                    "kind": c_kind,
                    "name": c_name,
                    "type_or_target": c_tt,
                    "score": c_score,
                    "description": c_desc,
                }
            )

    return chunks_df.select("chunk_id", "doc_id", "content").mapInPandas(gen, schema=EXTRACT_SCHEMA)
