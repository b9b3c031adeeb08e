"""Entity name/type normalization + low-value filtering — the
reference's rule set reproduced exactly.

Name normalization (core/entity_extraction.py:223-246, same step
order): whitespace collapse + strip; punctuation strip keeping word
chars / space / - . ( ) /; sub-floor and sub-structure
canonicalization; removal of ALL parenthetical content (replaced by a
space); final whitespace collapse + strip.

Type normalization (core/entity_extraction.py:248-271, same
algorithm): full-string mapping-table lookup on the upper-trimmed
type; else, for parenthesized types, the pre-paren base IF it is a
canonical type; else strip ``**TYPE**`` stars; else CONCEPT unless the
result is already canonical. The mapping-table *content* is
configuration: the reference enumerates the messy forms its LLM emits
(entity_extraction.py:151-217); vocab.TYPE_ALIASES enumerates the
messy forms the deterministic fixture extractor emits.

Low-value filter (core/entity_extraction.py:273-298): importance<0.3,
then the reference's LOW_VALUE_PATTERNS (:129-148) matched
case-insensitively against the lowercased normalized name, then the
generic-CONCEPT patterns for importance<0.6 (:289-296).

Documented divergence: Python regexes here use Unicode ``\\w``/``\\b``
while the Spark twins use Java regex semantics — identical on the
ASCII fixture corpus.

Two implementations with identical behavior, tested against each other:
``norm_*_col`` (native Spark Column expressions — WholeStageCodegen,
used by the pipeline's per-row paths) and ``py_norm_*`` (pure Python —
used by the reference-port oracle, property tests and the driver-built
vocabulary frames: the narrow surface map and the alias dictionary).
"""

from __future__ import annotations

import re
from itertools import chain

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .session import literal_frame
from .vocab import CANONICAL_TYPES, TYPE_ALIASES

# -- name normalization ------------------------------------------------------

_PUNCT_RE = r"[^\w\s\-\.\(\)/]"
_ALL_PAREN_RE = r"\s*\([^)]*\)\s*"
_SUBFLOOR_RE = r"(?i)\b(?:sub[\-\s]?floor)\b"
_SUBSTRUCTURE_RE = r"(?i)\b(?:sub[\-\s]?structure)\b"


def norm_name_col(name: Column) -> Column:
    c = F.regexp_replace(F.trim(name), r"\s+", " ")
    c = F.regexp_replace(c, _PUNCT_RE, "")
    c = F.regexp_replace(c, _SUBFLOOR_RE, "subfloor")
    c = F.regexp_replace(c, _SUBSTRUCTURE_RE, "substructure")
    c = F.regexp_replace(c, _ALL_PAREN_RE, " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def py_norm_name(name: str) -> str:
    c = re.sub(r"\s+", " ", (name or "").strip())
    c = re.sub(_PUNCT_RE, "", c)
    c = re.sub(r"\b(?:sub[\-\s]?floor)\b", "subfloor", c, flags=re.IGNORECASE)
    c = re.sub(r"\b(?:sub[\-\s]?structure)\b", "substructure", c, flags=re.IGNORECASE)
    c = re.sub(_ALL_PAREN_RE, " ", c)
    return re.sub(r"\s+", " ", c).strip()


# -- type normalization ------------------------------------------------------

_STAR_RE = r"^\*+([A-Z]+)\*+$"


def _type_map_col() -> Column:
    return F.create_map(*[F.lit(x) for x in chain.from_iterable(TYPE_ALIASES.items())])


def norm_type_col(etype: Column) -> Column:
    cleaned = F.upper(F.trim(etype))
    mapped = _type_map_col()[cleaned]
    base = F.trim(F.element_at(F.split(cleaned, r"\("), 1))
    base_hit = F.when(
        cleaned.contains("(") & cleaned.contains(")") & base.isin(CANONICAL_TYPES), base
    )
    star = F.regexp_replace(cleaned, _STAR_RE, "$1")
    star_hit = F.when(star.isin(CANONICAL_TYPES), star)
    return F.coalesce(mapped, base_hit, star_hit, F.lit("CONCEPT"))


def py_norm_type(etype: str) -> str:
    cleaned = (etype or "").strip().upper()
    if cleaned in TYPE_ALIASES:
        return TYPE_ALIASES[cleaned]
    if "(" in cleaned and ")" in cleaned:
        base = cleaned.split("(")[0].strip()
        if base in CANONICAL_TYPES:
            return base
    cleaned = re.sub(_STAR_RE, r"\1", cleaned)
    if cleaned not in CANONICAL_TYPES:
        return "CONCEPT"
    return cleaned


# -- low-value filter --------------------------------------------------------

MIN_IMPORTANCE = 0.3

# The reference's pattern set verbatim (entity_extraction.py:129-148);
# matched against the lowercased normalized name, case-insensitively
# (entity_extraction.py:283-286).
LOW_VALUE_PATTERNS = [
    r"^(?:the|and|or|but|with|from|for|at|by|on|in|to|of|a|an)$",
    r"^(?:this|that|these|those|here|there|where|when|what|who|how|why)$",
    r"^(?:company|organization|group|team|department|division|system|process|method|approach|way|means)$",
    r"^(?:data|information|content|text|document|report|file|item|thing|stuff)$",
    r"^(?:new|old|first|last|next|previous|current|recent|good|bad|big|small|high|low|major|minor)$",
    r"^\d{1,3}$",
    r"^[a-zA-Z]$",
    r"^.{1,2}$",
    r"^\.[a-z]{2,4}$",
    r"^[A-Z]{1,3}\d*$",
]
# Generic-CONCEPT patterns (entity_extraction.py:289-296).
GENERIC_CONCEPT_PATTERNS = [
    r"^(?:management|system|program|process|method|approach|solution)$",
    r"^(?:inspection|treatment|damage|condition|presence|lack)$",
    r"^(?:area|areas|location|locations|structure|structures)$",
]
_LOW_RE = [re.compile(p, re.IGNORECASE) for p in LOW_VALUE_PATTERNS]
_GEN_RE = [re.compile(p, re.IGNORECASE) for p in GENERIC_CONCEPT_PATTERNS]


def is_low_value_col(name: Column, etype: Column, importance: Column) -> Column:
    name_lower = F.lower(name)
    low = importance < MIN_IMPORTANCE
    for p in LOW_VALUE_PATTERNS:
        low = low | name_lower.rlike("(?i)" + p)
    generic = F.lit(False)
    for p in GENERIC_CONCEPT_PATTERNS:
        generic = generic | name_lower.rlike("(?i)" + p)
    low = low | ((etype == "CONCEPT") & (importance < 0.6) & generic)
    return low


def py_is_low_value(name: str, etype: str, importance: float) -> bool:
    if importance < MIN_IMPORTANCE:
        return True
    name_lower = name.lower().strip()
    for p in _LOW_RE:
        if p.match(name_lower):
            return True
    if etype == "CONCEPT" and importance < 0.6:
        for p in _GEN_RE:
            if p.match(name_lower):
                return True
    return False


def surface_norm_map(mentions_raw: DataFrame) -> DataFrame:
    """Distinct (surface, messy_type) pairs -> normalized name/type plus
    precomputed low-value pattern flags.

    Scale rationale: extraction emits O(10^6..10^9) mention/rel rows but
    only O(10^4) *distinct* surface forms (the alias vocabulary). Running
    the 5-regex normalization chain per row burns JVM regex time
    linearly in corpus size; running it once per distinct surface and
    broadcast-joining back is constant in corpus size. Semantics are
    identical (verified by tests against the per-row column functions).
    """
    return _norm_flag_cols(mentions_raw.select("name", "type_or_target").distinct())


SURFACE_MAP_SCHEMA = (
    "name string, type_or_target string, norm_name string, norm_type string not null, "
    "low_name boolean, generic_name boolean"
)


def py_surface_map_rows(pairs) -> list[tuple]:
    """``_norm_flag_cols`` on the driver: (name, type_or_target) pairs
    -> (name, type_or_target, norm_name, norm_type, low_name,
    generic_name) rows, in input order, through the Python twins
    (tested row for row against the Spark columns)."""
    out = []
    for name, etype in pairs:
        norm = py_norm_name(name)
        lower = norm.lower()
        out.append((
            name, etype, norm, py_norm_type(etype),
            any(p.match(lower) for p in _LOW_RE), any(p.match(lower) for p in _GEN_RE),
        ))
    return out


def _norm_flag_cols(pairs: DataFrame) -> DataFrame:
    """Attach norm_name/norm_type + precomputed low-value flags to a
    distinct (name, type_or_target) pair frame."""
    name_lower = F.lower(F.col("norm_name"))
    low_name = F.lit(False)
    for p in LOW_VALUE_PATTERNS:
        low_name = low_name | name_lower.rlike("(?i)" + p)
    generic = F.lit(False)
    for p in GENERIC_CONCEPT_PATTERNS:
        generic = generic | name_lower.rlike("(?i)" + p)
    return (
        pairs.withColumn("norm_name", norm_name_col(F.col("name")))
        .withColumn("norm_type", norm_type_col(F.col("type_or_target")))
        .withColumn("low_name", low_name)
        .withColumn("generic_name", generic)
    )


_MAX_SURFACE_MAP_ROWS = 2_000_000


def _materialize_small(df: DataFrame, context: str) -> DataFrame:
    """Collect a provably-small dataframe to the driver and re-create it
    as a literal, so broadcast joins against it never re-execute its
    (scan + shuffle) subtree — AQE otherwise re-runs that subtree once
    per downstream query stage. The surface and canonical maps are
    bounded by the alias vocabulary (O(10^4) rows regardless of corpus
    size).

    Graceful degradation (r3 VERDICT item 5): if the frame exceeds the
    cap — an open-vocabulary extractor at 100x corpus scale — the job
    must DEGRADE, not abort: the original (distributed) frame is
    returned unchanged, flagged so ``maybe_broadcast`` skips the
    broadcast hint and downstream joins fall back to shuffle joins
    (AQE may still auto-broadcast genuinely small subtrees)."""
    rows = df.limit(_MAX_SURFACE_MAP_ROWS + 1).collect()
    if len(rows) > _MAX_SURFACE_MAP_ROWS:
        import warnings

        warnings.warn(
            f"{context} exceeds {_MAX_SURFACE_MAP_ROWS} rows; "
            "falling back to shuffle joins (no driver materialization)",
            stacklevel=2,
        )
        df._graphrag_materialized = False  # type: ignore[attr-defined]
        return df
    out = literal_frame(df.sparkSession, rows, df.schema)
    out._graphrag_materialized = True  # type: ignore[attr-defined]
    return out


def maybe_broadcast(df: DataFrame):
    """Broadcast hint for driver-materialized maps; identity for frames
    that fell back past the materialization cap (forcing a broadcast of
    an unbounded map would OOM the driver/executors)."""
    return F.broadcast(df) if getattr(df, "_graphrag_materialized", True) else df


def normalize_mentions(mentions_raw: DataFrame, smap: DataFrame | None = None) -> DataFrame:
    """Extraction rows (kind='entity') -> normalized, filtered mentions.
    Normalization runs on the distinct-surface map (broadcast join).
    Pass a pre-materialized ``smap`` (from materialize_surface_map) to
    share one map across mention and rel normalization."""
    if smap is None:
        smap = materialize_surface_map(mentions_raw)
    df = mentions_raw.join(maybe_broadcast(smap), ["name", "type_or_target"]).select(
        "chunk_id",
        "doc_id",
        F.col("norm_name").alias("name"),
        F.col("norm_type").alias("entity_type"),
        F.col("score").alias("importance"),
        "description",
        "low_name",
        "generic_name",
    ).filter(F.col("name") != "")
    keep = ~(
        (F.col("importance") < MIN_IMPORTANCE)
        | F.col("low_name")
        | ((F.col("entity_type") == "CONCEPT") & (F.col("importance") < 0.6) & F.col("generic_name"))
    )
    return df.filter(keep).drop("low_name", "generic_name")


def materialize_surface_map(mentions_raw: DataFrame) -> DataFrame:
    """One driver-materialized surface map shared by mention and rel
    normalization (rel endpoint surfaces are a subset of entity
    surfaces by the extractor contract).

    Narrow occurrence input (r6): rows without a ``type_or_target``
    column come from the deterministic scanner, whose emitted surfaces
    are by construction a subset of the alias vocabulary — so the
    distinct (surface, messy_type) pair set is read straight off the
    vocabulary payload table instead of a full corpus scan + distinct,
    and normalized on the driver (``py_surface_map_rows``) into a
    literal frame: no Spark job runs.
    The narrow shape's surfaces MUST come from the vocabulary: a surface
    outside it has no map row here, and ``entities_from_occurrences``
    fails the job on it rather than dropping it.
    Non-occurring surfaces are inert: every consumer joins the map
    INNER on surfaces that did occur (normalize_mentions/normalize_rels
    on extraction rows, build_triples_from_occurrences on the canonical
    map built from actual mentions)."""
    if "type_or_target" not in mentions_raw.columns:
        from .extraction import _surface_payload_rows

        smap = literal_frame(
            mentions_raw.sparkSession,
            py_surface_map_rows((name, etype) for name, etype, _score, _desc in _surface_payload_rows()),
            SURFACE_MAP_SCHEMA,
        )
        # a LocalRelation collects with no job; the row cap still holds
        return _materialize_small(smap, "surface_map")
    return _materialize_small(surface_norm_map(mentions_raw), "surface_map")


def normalize_rels(rels_raw: DataFrame, smap: DataFrame | None = None) -> DataFrame:
    """Extraction rows (kind='rel') -> normalized relationship
    candidates. Endpoint surfaces normalize via a distinct-surface map
    (two broadcast joins), not per-row regex. When ``smap`` (the
    mentions surface map) is given, no extra pass over rels_raw is
    needed to discover surfaces."""
    if smap is not None:
        names = smap.select(F.col("name").alias("surface"), F.col("norm_name").alias("norm")).distinct()
        small = getattr(smap, "_graphrag_materialized", True)
    else:
        names = _materialize_small(
            rels_raw.select(F.col("name").alias("surface"))
            .union(rels_raw.select(F.col("type_or_target").alias("surface")))
            .distinct()
            .withColumn("norm", norm_name_col(F.col("surface"))),
            "normalize_rels",
        )
        small = getattr(names, "_graphrag_materialized", True)
    src_map = names.select(F.col("surface").alias("name"), F.col("norm").alias("source"))
    dst_map = names.select(F.col("surface").alias("type_or_target"), F.col("norm").alias("target"))
    # derived frames are new objects: propagate the materialization flag
    src_map._graphrag_materialized = small  # type: ignore[attr-defined]
    dst_map._graphrag_materialized = small  # type: ignore[attr-defined]
    return (
        rels_raw.join(maybe_broadcast(src_map), "name")
        .join(maybe_broadcast(dst_map), "type_or_target")
        .select(
            "chunk_id",
            "doc_id",
            "source",
            "target",
            F.col("score").alias("strength"),
            "description",
        )
        .filter((F.col("source") != "") & (F.col("target") != "") & (F.col("source") != F.col("target")))
    )
