"""Recursive character chunking + chunk quality assessment.

``recursive_split`` is a from-scratch pure-Python implementation of the
recursive character splitting algorithm the reference configures via
LangChain (core/chunking.py:16-63: separators ["\\n\\n","\\n"," ",""],
chunk_size=1000, chunk_overlap=200, config/settings.py:70-71). The
algorithm is implemented from its published/public description: find the
first separator present, split keeping the separator attached to the
following piece, greedily merge pieces up to chunk_size with
chunk_overlap carry-over, recurse into oversized pieces with the
remaining separators. Conformance is verified byte-for-byte against an
independent trace of the published LangChain algorithm
(oracle/lc_splitter.py) by golden + hypothesis tests
(tests/test_chunking.py::test_langchain_conformance_*).

Offset tracking is the reference's exact loop (core/chunking.py:69-78,
``text.find(chunk, current_offset)`` advancing by chunk end, fallback
to the running offset); chunk ids mirror core/chunking.py:99
(``f"{doc_id}_chunk_{i}"``).

Spark-side: ``chunk_documents`` runs the splitter as an Arrow-vectorized
``mapInPandas`` (one Python roundtrip per batch of documents, never per
row), and ``with_quality`` computes the reference's chunk-quality score
(core/ocr.py:162-298) with *native* Spark expressions only — it stays
inside WholeStageCodegen. ``embedded_chunks`` is the pipeline's chunks
stage: the same split plus the chunk embedding in one Python pass,
scored by ``with_quality``.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame

CHUNK_SIZE = 1000
CHUNK_OVERLAP = 200
SEPARATORS = ["\n\n", "\n", " ", ""]

# quality thresholds (reference core/ocr.py:40-43)
MIN_TEXT_RATIO = 0.15
MAX_WHITESPACE_RATIO = 0.65
MIN_CHUNK_LEN = 30
MIN_WORDS_PER_LINE = 2.0


def _split_keep_sep(text: str, sep: str) -> list[str]:
    """Split on `sep`, keeping each separator attached to the start of
    the following piece (the splitter's keep-separator semantics)."""
    if sep == "":
        return list(text)
    parts = re.split(f"({re.escape(sep)})", text)
    merged = [parts[i] + parts[i + 1] for i in range(1, len(parts) - 1, 2)]
    tail = parts[-1:] if len(parts) % 2 == 0 else []
    out = ([parts[0]] if parts[0] else []) + merged + tail
    return [p for p in out if p != ""]


def _merge_pieces(pieces: list[str], chunk_size: int, overlap: int) -> list[str]:
    """Greedy merge with overlap carry-over."""
    docs: list[str] = []
    current: list[str] = []
    total = 0
    for p in pieces:
        plen = len(p)
        if total + plen > chunk_size and current:
            doc = "".join(current).strip()
            if doc:
                docs.append(doc)
            # pop from the front until within overlap budget
            while total > overlap or (total + plen > chunk_size and total > 0):
                total -= len(current[0])
                current.pop(0)
        current.append(p)
        total += plen
    doc = "".join(current).strip()
    if doc:
        docs.append(doc)
    return docs


def recursive_split(
    text: str,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
    separators: list[str] | None = None,
) -> list[str]:
    """Recursive character split. Deterministic, pure."""
    separators = SEPARATORS if separators is None else separators
    if not text:
        return []

    def _go(t: str, seps: list[str]) -> list[str]:
        sep = seps[-1] if seps else ""
        rest: list[str] = []
        for i, s in enumerate(seps):
            if s == "" or s in t:
                sep = s
                rest = seps[i + 1 :]
                break
        pieces = _split_keep_sep(t, sep)
        final: list[str] = []
        good: list[str] = []
        for p in pieces:
            if len(p) < chunk_size:
                good.append(p)
            else:
                if good:
                    final.extend(_merge_pieces(good, chunk_size, overlap))
                    good = []
                if not rest:
                    final.append(p)
                else:
                    final.extend(_go(p, rest))
        if good:
            final.extend(_merge_pieces(good, chunk_size, overlap))
        return final

    return [c for c in _go(text, separators) if c.strip()]


def split_with_offsets(text: str, chunk_size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> list[tuple[str, int]]:
    """Chunks + char offsets, exactly the reference's tracking loop
    (core/chunking.py:69-78): find each chunk at/after the END of the
    previous chunk, falling back to the running offset on a miss.
    Overlapping chunks start before the previous end, so the reference
    usually stores the fallback (previous end) — parity means emitting
    the same values, not the "true" start position."""
    chunks = recursive_split(text, chunk_size, overlap)
    out: list[tuple[str, int]] = []
    current = 0
    for c in chunks:
        idx = text.find(c, current)
        if idx < 0:
            idx = current
        out.append((c, idx))
        current = idx + len(c)
    return out


CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("chunk_id", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("content", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("chunk_size", T.IntegerType()),
        T.StructField("total_chunks", T.IntegerType()),
    ]
)


def _chunk_rows(pdf: pd.DataFrame, chunk_size: int, overlap: int) -> pd.DataFrame:
    """One batch of (doc_id, content) documents -> its CHUNK_SCHEMA rows."""
    rows = []
    for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
        pairs = split_with_offsets(content or "", chunk_size, overlap)
        n = len(pairs)
        for i, (c, off) in enumerate(pairs):
            rows.append((doc_id, f"{doc_id}_chunk_{i}", i, c, off, len(c), n))
    return pd.DataFrame(rows, columns=CHUNK_SCHEMA.fieldNames())


def chunk_documents(doc_text_df: DataFrame, chunk_size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """(doc_id, content) -> chunk rows via Arrow-batched mapInPandas."""
    from .session import ensure_parallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _chunk_rows(pdf, chunk_size, overlap)

    return ensure_parallelism(doc_text_df).select("doc_id", "content").mapInPandas(gen, schema=CHUNK_SCHEMA)


def embedded_chunks(doc_text_df: DataFrame, chunk_size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> DataFrame:
    """(doc_id, content) -> quality-scored chunk rows with their
    ``embedding``, split and embedded in ONE Arrow pass: the chunk text
    crosses the Python boundary once per batch. ``embed_texts_np`` is
    deterministic and independent of the batch, so every vector equals
    what ``embeddings.embed_chunks`` gives the same chunk."""
    from .embeddings import EMBED_DIM, embed_texts_np
    from .session import ensure_parallelism

    schema = T.StructType(
        CHUNK_SCHEMA.fields + [T.StructField("embedding", T.ArrayType(T.DoubleType()))]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _chunk_rows(pdf, chunk_size, overlap)
            out["embedding"] = [v.tolist() for v in embed_texts_np(list(out["content"]), EMBED_DIM)]
            yield out

    chunks = ensure_parallelism(doc_text_df).select("doc_id", "content").mapInPandas(gen, schema=schema)
    out = with_quality(chunks)
    # chunk_id first and the vector last: the column order of the
    # committed chunks table
    cols = [c for c in out.columns if c not in ("chunk_id", "embedding")]
    return out.select("chunk_id", *cols, "embedding")


# ---------------------------------------------------------------------------
# Quality assessment — native column expressions (reference core/ocr.py
# :162-258 score formula, :260-298 needs_ocr). Zero Python in this path.
# ---------------------------------------------------------------------------

_ALNUM_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
_WS_CHARS = " \t\n\r\f"


def _quality_cols(content: Column) -> dict[str, Column]:
    """Reference `_analyze_text_quality` (core/ocr.py:162-258) as native
    column expressions — same base formula AND the same penalty set:
    non-ASCII artifacts x0.8, fragmented words x0.7, triple-space x0.9,
    short chunk x0.6; empty/<5-char rail -> 0.0.

    Documented divergence: char classes are ASCII (translate list /
    Java regex \\w), where the reference uses Python's Unicode
    str.isalnum/isspace — identical on the ASCII corpus; on non-ASCII
    text, accented letters count as artifacts-but-not-alnum here.

    Char-class counts use translate (no per-row string/array
    allocation — regexp_replace/extract_all here cost ~70s per 600k
    chunks from GC pressure; translate + regexp_count cost ~2s)."""
    total = F.greatest(F.length(content), F.lit(1))
    alnum = F.length(content) - F.length(F.translate(content, _ALNUM_CHARS, ""))
    ws = F.length(content) - F.length(F.translate(content, _WS_CHARS, ""))
    words = F.regexp_count(content, F.lit(r"\S+"))
    # one match per line containing a non-whitespace char
    nonempty_lines = F.greatest(
        F.regexp_count(content, F.lit(r"(?m)^[^\S\n]*[^\s]")), F.lit(1)
    )
    text_ratio = alnum / total
    ws_ratio = ws / total
    wpl = words / nonempty_lines
    has_artifacts = content.rlike(r"[^\x00-\x7F]")
    has_fragmented = F.regexp_count(content, F.lit(r"\b\w{1,2}\b")) > F.length(content) * 0.1
    has_excessive_spaces = content.contains("   ")
    too_short_rail = F.length(F.trim(content)) < 5  # ocr.py:173-180
    base = 0.4 * text_ratio + 0.3 * (1 - ws_ratio) + 0.3 * F.least(wpl / 5.0, F.lit(1.0))
    score = F.when(too_short_rail, F.lit(0.0)).otherwise(
        base
        * F.when(has_artifacts, F.lit(0.8)).otherwise(F.lit(1.0))
        * F.when(has_fragmented, F.lit(0.7)).otherwise(F.lit(1.0))
        * F.when(has_excessive_spaces, F.lit(0.9)).otherwise(F.lit(1.0))
        * F.when(F.length(content) < MIN_CHUNK_LEN, F.lit(0.6)).otherwise(F.lit(1.0))
    )
    is_readable = (
        ~too_short_rail
        & (score >= 0.5)
        & (text_ratio >= MIN_TEXT_RATIO)
        & (ws_ratio <= MAX_WHITESPACE_RATIO)
        & (wpl >= MIN_WORDS_PER_LINE)
        & ~(has_fragmented & has_artifacts)
    )
    return {
        "text_ratio": text_ratio,
        "whitespace_ratio": ws_ratio,
        "words_per_line": wpl,
        "has_artifacts": has_artifacts,
        "quality_score": F.round(score, 6),
        # reference needs_ocr (ocr.py:279): unreadable AND score < 0.3
        "needs_review": ~is_readable & (score < 0.3),
    }


def py_quality_analysis(text: str) -> dict:
    """Pure-Python trace of the reference's `_analyze_text_quality`
    (core/ocr.py:162-258), restricted to ASCII char classes so it is
    the exact twin of the Spark expressions in `_quality_cols` (the
    reference itself uses Unicode isalnum/isspace — identical on ASCII
    text). Used by tests to property-check the native column path."""
    if not text or len(text.strip()) < 5:
        # rail (ocr.py:173-180): unreadable, score 0 -> needs_ocr True
        return {"quality_score": 0.0, "is_readable": False, "needs_review": True}
    total = len(text)
    alnum = sum(1 for c in text if c in _ALNUM_CHARS)
    ws = sum(1 for c in text if c in _WS_CHARS)
    text_ratio = alnum / total
    ws_ratio = ws / total
    nonempty = [ln for ln in text.split("\n") if ln.strip()]
    words = len(re.findall(r"\S+", text))
    wpl = words / len(nonempty) if nonempty else 0.0
    has_artifacts = bool(re.search(r"[^\x00-\x7F]", text))
    has_fragmented = len(re.findall(r"\b\w{1,2}\b", text, flags=re.ASCII)) > total * 0.1
    has_excessive = "   " in text
    score = 0.4 * text_ratio + 0.3 * (1 - ws_ratio) + 0.3 * min(wpl / 5.0, 1.0)
    if has_artifacts:
        score *= 0.8
    if has_fragmented:
        score *= 0.7
    if has_excessive:
        score *= 0.9
    if total < MIN_CHUNK_LEN:
        score *= 0.6
    is_readable = (
        score >= 0.5
        and text_ratio >= MIN_TEXT_RATIO
        and ws_ratio <= MAX_WHITESPACE_RATIO
        and wpl >= MIN_WORDS_PER_LINE
        and not (has_fragmented and has_artifacts)
    )
    return {
        "quality_score": round(score, 6),
        "is_readable": is_readable,
        "needs_review": (not is_readable) and score < 0.3,
    }


def with_quality(chunks_df: DataFrame, content_col: str = "content") -> DataFrame:
    cols = _quality_cols(F.col(content_col))
    out = chunks_df
    for name, c in cols.items():
        out = out.withColumn(name, c)
    return out


def quality_summary(chunks_df: DataFrame) -> DataFrame:
    """Quality-band histogram + stats (reference core/chunking.py:251-301)."""
    s = F.col("quality_score")
    return chunks_df.agg(
        F.count("*").alias("n_chunks"),
        F.round(F.avg(s), 6).alias("avg_score"),
        F.round(F.min(s), 6).alias("min_score"),
        F.round(F.max(s), 6).alias("max_score"),
        F.sum(F.when(s >= 0.8, 1).otherwise(0)).alias("high_quality"),
        F.sum(F.when((s >= 0.5) & (s < 0.8), 1).otherwise(0)).alias("medium_quality"),
        F.sum(F.when(s < 0.5, 1).otherwise(0)).alias("low_quality"),
    )
