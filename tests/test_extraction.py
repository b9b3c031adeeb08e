"""Extractor contract tests (SURVEY.md §5.2 item 3): the pipe-format
response contract, parse clamping, determinism, and Spark/oracle
agreement of the extraction stage."""

from __future__ import annotations

from graphrag_spark.extraction import (
    REL_DESCRIPTION,
    det_extract_response,
    parse_extraction_response,
)


def test_parse_clamps_scores():
    # reference field order (entity_extraction.py:389, :416)
    resp = (
        "ENTITIES:\n"
        "- Name: Foo Bar | Type: ORG | Description: d | Importance: 7.5\n"
        "RELATIONSHIPS:\n"
        "- Source: Foo Bar | Target: Baz Qux | Description: r | Strength: 99\n"
    )
    ents, rels = parse_extraction_response(resp)
    assert ents[0]["importance"] == 1.0
    assert rels[0]["strength"] == 1.0


def test_parse_ignores_malformed_lines():
    resp = "ENTITIES:\ngarbage\n- Name: incomplete |\nRELATIONSHIPS:\nnope\n"
    ents, rels = parse_extraction_response(resp)
    assert ents == [] and rels == []


def test_extractor_deterministic():
    text = "Alice Brightwell announced a partnership with Quantum Dynamics Corp."
    assert det_extract_response(text) == det_extract_response(text)


def test_extractor_finds_known_entities():
    from graphrag_spark.vocab import build_vocabulary

    entities, _ = build_vocabulary()
    a, b = entities[0].canonical_name, entities[1].canonical_name
    text = f"{a} is closely linked to {b} in recent filings."
    ents, rels = parse_extraction_response(det_extract_response(text))
    names = {e["name"] for e in ents}
    assert a in names and b in names
    assert any(
        {r["source"], r["target"]} == {a, b} and r["description"] == REL_DESCRIPTION
        for r in rels
    )


def test_structured_equals_contract_path():
    """det_extract_structured must be bit-identical to parsing the
    pipe-format response (the pipeline uses the structured fast path;
    the oracle uses the contract path)."""
    from graphrag_spark.corpus import generate_doc_spans
    from graphrag_spark.chunking import split_with_offsets
    from graphrag_spark.extraction import det_extract_structured

    for i in range(12):
        spans = generate_doc_spans(i, "alpha beta gamma delta " * 40)
        content = "\n\n".join(s["text"] for s in spans if s["kind"] == "text")
        for chunk, _ in split_with_offsets(content):
            a = det_extract_structured(chunk)
            b = parse_extraction_response(det_extract_response(chunk))
            assert a == b


def test_occurrence_derivation_equals_contract_path(spark, corpus_path):
    """entities_from_occurrences/rels_from_occurrences (the relational
    scale path) must reproduce det_extract_structured exactly."""
    import pyspark.sql.functions as F

    from graphrag_spark.chunking import chunk_documents
    from graphrag_spark.corpus import document_text
    from graphrag_spark.extraction import (
        det_extract_structured,
        entities_from_occurrences,
        extract_occurrences,
        rels_from_occurrences,
    )

    docs = spark.read.parquet(corpus_path).limit(25)
    chunks = chunk_documents(document_text(docs)).persist()
    occ = extract_occurrences(chunks).persist()
    got_ents = {
        (r["chunk_id"], r["name"], r["type_or_target"], r["score"], r["description"])
        for r in entities_from_occurrences(occ).collect()
    }
    got_rels = {
        (r["chunk_id"], r["name"], r["type_or_target"], r["score"], r["description"])
        for r in rels_from_occurrences(occ).collect()
    }
    want_ents, want_rels = set(), set()
    for r in chunks.collect():
        ents, rels = det_extract_structured(r["content"])
        for e in ents:
            want_ents.add((r["chunk_id"], e["name"], e["type"], e["importance"], e["description"]))
        for x in rels:
            want_rels.add((r["chunk_id"], x["source"], x["target"], x["strength"], x["description"]))
    assert got_ents == want_ents
    assert got_rels == want_rels
    occ.unpersist()
    chunks.unpersist()


def test_narrow_occurrence_outside_vocabulary_raises(spark):
    """The narrow occurrence shape re-attaches its payload from the
    vocabulary: a known surface gets its payload row, and a surface the
    vocabulary lacks fails the job naming it instead of being dropped."""
    import pytest

    from graphrag_spark.extraction import (
        OCCURRENCE_NARROW_SCHEMA,
        _surface_payload_rows,
        entities_from_occurrences,
    )

    name, etype, score, desc = _surface_payload_rows()[0]
    known = [("d0_chunk_0", "d0", 0, name), ("d0_chunk_0", "d0", 40, name)]
    ents = entities_from_occurrences(spark.createDataFrame(known, OCCURRENCE_NARROW_SCHEMA)).collect()
    assert [(r["name"], r["type_or_target"], r["score"], r["description"]) for r in ents] == [
        (name, etype, score, desc)
    ]
    unknown = known + [("d0_chunk_1", "d0", 5, "Zzyzx Unlisted Corp")]
    with pytest.raises(Exception, match="Zzyzx Unlisted Corp"):
        entities_from_occurrences(spark.createDataFrame(unknown, OCCURRENCE_NARROW_SCHEMA)).collect()


def test_no_match_empty_sections():
    ents, rels = parse_extraction_response(det_extract_response("zzz qqq 123"))
    assert ents == [] and rels == []


def test_word_boundary_matching():
    """An alias inside a longer word must not match."""
    from graphrag_spark.vocab import build_vocabulary

    entities, _ = build_vocabulary()
    name = entities[0].canonical_name
    ents, _ = parse_extraction_response(det_extract_response(f"xx{name}yy"))
    assert name not in {e["name"] for e in ents}


def test_fused_doc_extraction_equals_chained(spark, corpus_path):
    """r6: extract_occurrences_from_docs (chunk+scan in one Python pass)
    must emit exactly the rows of the chained
    chunk_documents -> extract_occurrences composition."""
    from graphrag_spark.chunking import CHUNK_OVERLAP, CHUNK_SIZE, chunk_documents
    from graphrag_spark.corpus import document_text
    from graphrag_spark.extraction import (
        extract_occurrences,
        extract_occurrences_from_docs,
    )

    docs = document_text(spark.read.parquet(corpus_path).limit(25))
    chained = extract_occurrences(chunk_documents(docs, CHUNK_SIZE, CHUNK_OVERLAP))
    fused = extract_occurrences_from_docs(docs, CHUNK_SIZE, CHUNK_OVERLAP)
    key = lambda r: (r["chunk_id"], r["doc_id"], r["pos"], r["name"])  # noqa: E731
    assert sorted(map(key, fused.collect())) == sorted(map(key, chained.collect()))
