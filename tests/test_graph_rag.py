"""End-to-end query workflow composition (rag/graph_rag.py parity)."""

from __future__ import annotations

import pytest

from graphrag_spark.graph_rag import graph_rag_query, retrieve_documents


@pytest.fixture(scope="module")
def kg(kg_out):
    # shared session-scoped build (conftest.kg_out) in this module's
    # positional shape
    return (kg_out["chunks"], kg_out["nodes"], kg_out["mentions"], kg_out["triples"])


def test_retrieval_node_expansion_gate(kg):
    """Simple factual queries take the plain dispatcher; comparative
    queries route through graph expansion (expansion_type rows exist in
    the expanded variant's sources but the node's contract stays
    (chunk_id, source, score))."""
    plain = retrieve_documents(*kg, "what is partnership", top_k=5)
    assert plain.columns == ["chunk_id", "source", "score"]
    assert 0 < plain.count() <= 10

    comp = retrieve_documents(*kg, "compare partnership versus rollout", top_k=3)
    assert comp.columns == ["chunk_id", "source", "score"]
    # expansion adds rows beyond the widened top_k
    assert comp.count() > 8
    srcs = {r["source"] for r in comp.collect()}
    assert srcs & {"entity_expansion", "chunk_expansion"}


def test_graph_rag_query_state(kg):
    out = graph_rag_query(*kg, "what is partnership", top_k=5)
    assert out["stages"] == [
        "query_analysis", "retrieval", "graph_reasoning", "generation"
    ]
    assert out["analysis"]["query_type"] == "factual"
    assert out["analysis"]["is_follow_up"] is False

    retrieved = out["retrieved"].collect()
    assert 0 < len(retrieved) <= 5

    ctx = out["context"].collect()
    assert len(ctx) >= len(retrieved)
    assert out["metadata"]["chunks_used"] == sum(1 for r in ctx if r["score"] > 0)

    src = out["sources"].collect()
    assert src
    assert {r["kind"] for r in src} <= {"entity", "chunk"}

    # chunk_only mode: no reasoning enhancement — context == retrieved
    co = graph_rag_query(*kg, "what is partnership", retrieval_mode="chunk_only")
    assert co["context"].count() == co["retrieved"].count()


def test_graph_rag_follow_up_flag(kg):
    out = graph_rag_query(*kg, "tell me more about it")
    assert out["analysis"]["is_follow_up"] is True


def test_expansion_widening_applied_once(kg):
    """ADVICE r3 (medium): the expansion route must widen top_k exactly
    once — retrieve_documents passes the RAW top_k and the internal
    ``retrieve`` applies adjusted_top_k. The initial (non-expansion)
    rows of the expanded result therefore equal the plain dispatcher's
    rows for the same raw top_k."""
    from graphrag_spark import graph_query

    q = "compare partnership versus rollout"
    got = retrieve_documents(*kg, q, top_k=5)
    base = {
        r["chunk_id"]
        for r in got.collect()
        if r["source"] not in ("entity_expansion", "chunk_expansion")
    }
    want = {r["chunk_id"] for r in graph_query.retrieve(*kg, q, top_k=5).collect()}
    assert base == want


def test_batch_retrieve_matches_per_query(kg):
    """r3 VERDICT item 7: the set-oriented multi-query operator must
    reproduce retrieve(mode='chunk_only') per query, including the
    per-query complexity widening."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    qs = [
        ("q1", "what is partnership"),
        ("q2", "compare partnership versus rollout"),
        ("q3", "why does the inspection relate to treatment and damage"),
        ("q4", "alpha beta"),
    ]
    spark = chunks.sparkSession
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    got = graph_query.batch_retrieve_chunks(chunks, qdf, top_k=5)
    by_q: dict[str, set] = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(
            (r["chunk_id"], r["source"], r["score"])
        )
    for qid, text in qs:
        want = {
            (r["chunk_id"], r["source"], r["score"])
            for r in graph_query.retrieve(
                chunks, nodes, mentions, triples, text, mode="chunk_only", top_k=5
            ).collect()
        }
        assert by_q.get(qid, set()) == want, qid


def test_batch_retrieve_entities_matches_per_query(kg):
    """Round 4: the set-oriented ENTITY_ONLY operator must reproduce
    retrieve(mode='entity_only') per query, including widening and the
    min-similarity floor."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    qs = [
        ("e1", "what is partnership"),
        ("e2", "compare partnership versus rollout"),
        ("e3", "alpha beta gamma"),
    ]
    spark = chunks.sparkSession
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    got = graph_query.batch_retrieve_entities(chunks, nodes, mentions, qdf, top_k=5)
    by_q: dict[str, set] = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(
            (r["chunk_id"], r["source"], r["score"])
        )
    for qid, text in qs:
        want = {
            (r["chunk_id"], r["source"], r["score"])
            for r in graph_query.retrieve(
                chunks, nodes, mentions, triples, text, mode="entity_only", top_k=5
            ).collect()
        }
        assert by_q.get(qid, set()) == want, qid


def test_batch_retrieve_hybrid_matches_per_query(kg):
    """Round 4: the set-oriented HYBRID operator must reproduce
    retrieve(mode='hybrid') per query — including widening, the
    per-query slot split, the decay-expansion entity side, and (for
    multi-hop-recommended queries) the path side and 3-way merge."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    qs = [
        ("h1", "what is partnership"),                       # factual, no paths
        ("h2", "compare partnership versus rollout"),        # comparative, paths
        ("h3", "explain the relationship between alpha and beta"),  # analytical+complex
        ("h4", "gamma delta"),                               # general
    ]
    spark = chunks.sparkSession
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    got = graph_query.batch_retrieve_hybrid(
        chunks, nodes, mentions, triples, qdf, top_k=5
    )
    by_q: dict[str, set] = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(
            (r["chunk_id"], r["source"], r["score"])
        )
    for qid, text in qs:
        want = {
            (r["chunk_id"], r["source"], r["score"])
            for r in graph_query.retrieve(
                chunks, nodes, mentions, triples, text, mode="hybrid", top_k=5
            ).collect()
        }
        assert by_q.get(qid, set()) == want, (qid, by_q.get(qid, set()), want)


def test_batch_retrieve_dispatcher(kg):
    """The batch dispatcher routes modes like ``retrieve`` (legacy
    aliases included) and rejects unknown modes with an empty frame."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    text = "what is partnership"
    qdf = spark.createDataFrame([("d1", text)], "query_id string, query string")
    for mode in ("simple", "entity_only", "graph_enhanced"):
        got = {
            (r["chunk_id"], r["source"], r["score"])
            for r in graph_query.batch_retrieve(
                chunks, nodes, mentions, triples, qdf, mode=mode
            ).collect()
        }
        want = {
            (r["chunk_id"], r["source"], r["score"])
            for r in graph_query.retrieve(
                chunks, nodes, mentions, triples, text, mode=mode
            ).collect()
        }
        assert got == want, mode
    assert (
        graph_query.batch_retrieve(
            chunks, nodes, mentions, triples, qdf, mode="nope"
        ).count()
        == 0
    )


def test_hybrid_retrieval_with_adjacency_index(kg):
    """hybrid_retrieval served from the materialized adjacency index
    equals the direct path."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    adj = graph_query.build_entity_adjacency(triples)
    for q in ("what is partnership", "compare partnership versus rollout"):
        direct = {
            tuple(r)
            for r in graph_query.hybrid_retrieval(
                chunks, nodes, mentions, triples, q, top_k=10
            ).collect()
        }
        via = {
            tuple(r)
            for r in graph_query.hybrid_retrieval(
                chunks, nodes, mentions, triples, q, top_k=10, adjacency=adj
            ).collect()
        }
        assert direct == via, q


def test_batch_retrieve_hybrid_empty_queries_schema(kg):
    """Round 5 (r4 ADVICE): the empty-batch frame must carry the SAME
    column names as the non-empty path ('score', not 'hybrid_score') —
    a consumer selecting 'score' on an empty batch must not blow up."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    empty = spark.createDataFrame([], "query_id string, query string")
    out = graph_query.batch_retrieve_hybrid(chunks, nodes, mentions, triples, empty)
    assert out.columns == ["query_id", "chunk_id", "source", "score"]
    assert out.count() == 0


@pytest.fixture(scope="module")
def chunk_ivf(kg):
    """IvfIndex over the KG chunk embeddings, as a deployment builds it
    once per corpus (round-4 VERDICT item 2 serving seam)."""
    from graphrag_spark.similarity import IvfIndex

    chunks = kg[0]
    idx = IvfIndex.build(chunks, n_centroids=4, id_col="chunk_id", n_probe=2)
    idx.cells = idx.cells.persist()
    idx.cells.count()
    return idx


def test_retrieve_with_chunk_index_exact_at_full_probe(kg, chunk_ivf):
    """retrieve/hybrid served through the ANN index at full probe must
    be row-identical to the brute-force scan, for every index-eligible
    mode and a query mix that exercises widening + the path side."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    full = chunk_ivf.n_centroids
    for mode in ("chunk_only", "hybrid"):
        for q in ("what is partnership", "compare partnership versus rollout"):
            direct = [
                tuple(r)
                for r in graph_query.retrieve(
                    chunks, nodes, mentions, triples, q, mode=mode, top_k=5
                ).collect()
            ]
            via = [
                tuple(r)
                for r in graph_query.retrieve(
                    chunks, nodes, mentions, triples, q, mode=mode, top_k=5,
                    chunk_index=type(chunk_ivf)(
                        chunk_ivf.centroids, chunk_ivf.cells,
                        id_col="chunk_id", n_probe=full,
                    ),
                ).collect()
            ]
            assert via == direct, (mode, q)


def test_batch_retrieve_with_chunk_index_exact_at_full_probe(kg, chunk_ivf):
    """Batch twins through the index at full probe equal the cross-join
    route exactly (the probe join covers every (chunk, query) pair)."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    qs = [
        ("b1", "what is partnership"),
        ("b2", "compare partnership versus rollout"),
        ("b3", "explain the relationship between alpha and beta"),
    ]
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    full = chunk_ivf.n_centroids
    for mode in ("chunk_only", "hybrid"):
        direct = {
            tuple(r)
            for r in graph_query.batch_retrieve(
                chunks, nodes, mentions, triples, qdf, mode=mode, top_k=5
            ).collect()
        }
        via = {
            tuple(r)
            for r in graph_query.batch_retrieve(
                chunks, nodes, mentions, triples, qdf, mode=mode, top_k=5,
                chunk_index=type(chunk_ivf)(
                    chunk_ivf.centroids, chunk_ivf.cells,
                    id_col="chunk_id", n_probe=full,
                ),
            ).collect()
        }
        assert via == direct, mode


def test_chunk_index_validation(kg, chunk_ivf):
    """An index keyed on anything but chunk_id is rejected loudly."""
    from graphrag_spark import graph_query
    from graphrag_spark.similarity import IvfIndex

    chunks, nodes, mentions, triples = kg
    bad = IvfIndex(chunk_ivf.centroids, chunk_ivf.cells, id_col="vec_id")
    with pytest.raises(ValueError, match="chunk_id"):
        graph_query.retrieve(
            chunks, nodes, mentions, triples, "what is partnership",
            mode="chunk_only", chunk_index=bad,
        )


def test_batch_indexed_partial_probe_prunes(kg, chunk_ivf):
    """At partial probe the batch scoring touches ONLY probed cells:
    every returned chunk belongs to one of its query's probed cells,
    and per-query result size still honors k."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    qs = [("p1", "what is partnership"), ("p2", "gamma delta")]
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    got = graph_query.batch_retrieve_chunks(
        chunks, qdf, top_k=5, chunk_index=chunk_ivf, n_probe=1
    ).collect()
    assert got
    cell_of = {r["chunk_id"]: r["cluster"] for r in chunk_ivf.cells.select("chunk_id", "cluster").collect()}
    from graphrag_spark.embeddings import embed_texts_np

    for qid, text in qs:
        probed = set(chunk_ivf.probes([float(x) for x in embed_texts_np([text])[0]], 1))
        rows = [r for r in got if r["query_id"] == qid]
        assert len(rows) <= 5
        for r in rows:
            assert cell_of[r["chunk_id"]] in probed, (qid, r["chunk_id"])


def test_batch_graph_expansion_matches_per_query(kg):
    """Round 5: the set-oriented graph-expanded retrieval (the batch
    family's last per-query driver loop) reproduces
    retrieve_with_graph_expansion per query for every resolved mode —
    both expansion branches, the per-query n_initial-dependent caps,
    and the branch-priority merge."""
    from graphrag_spark import graph_query

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    qs = [
        ("e1", "compare partnership versus rollout"),
        ("e2", "explain the relationship between alpha and beta"),
        ("e3", "what is partnership"),
    ]
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    for mode in ("hybrid", "entity_only", "chunk_only"):
        got: dict[str, set] = {}
        for r in graph_query.batch_retrieve_with_graph_expansion(
            chunks, nodes, mentions, triples, qdf, mode=mode, top_k=3
        ).collect():
            got.setdefault(r["query_id"], set()).add(tuple(r)[1:])
        for qid, text in qs:
            want = {
                tuple(r)
                for r in graph_query.retrieve_with_graph_expansion(
                    chunks, nodes, mentions, triples, text, mode=mode, top_k=3
                ).collect()
            }
            assert got.get(qid, set()) == want, (mode, qid)


def test_batch_graph_rag_query_matches_per_query(kg):
    """Round 5 (r4 VERDICT item 3): the whole-composition batch twin —
    analysis, retrieval (incl. the graph-expansion gate), reasoning
    enhancement, source assembly, and metadata — must reproduce
    graph_rag_query per query, for a gated + ungated query mix and for
    both an enhancing and a non-enhancing retrieval mode."""
    from graphrag_spark.graph_rag import batch_graph_rag_query
    from graphrag_spark.query_analysis import py_analyze_query, py_detect_follow_up
    from graphrag_spark.token_budget import py_split_batches

    chunks, nodes, mentions, triples = kg
    spark = chunks.sparkSession
    qs = [
        ("g1", "what is partnership"),                        # factual, ungated
        ("g2", "compare partnership versus rollout"),         # comparative -> gated
        ("g3", "explain the relationship between alpha and beta"),  # complex -> gated
        ("g4", "gamma delta"),                                # general, ungated
    ]
    qdf = spark.createDataFrame(qs, "query_id string, query string")
    content_of = {
        r["chunk_id"]: r["content"]
        for r in chunks.select("chunk_id", "content").collect()
    }

    for mode in ("graph_enhanced", "chunk_only"):
        got = batch_graph_rag_query(
            chunks, nodes, mentions, triples, qdf, retrieval_mode=mode, top_k=5
        )
        by_ret: dict[str, set] = {}
        for r in got["retrieved"].collect():
            by_ret.setdefault(r["query_id"], set()).add(tuple(r)[1:])
        by_ctx: dict[str, set] = {}
        for r in got["context"].collect():
            by_ctx.setdefault(r["query_id"], set()).add(tuple(r)[1:])
        by_src: dict[str, set] = {}
        for r in got["sources"].collect():
            by_src.setdefault(r["query_id"], set()).add(tuple(r)[1:])
        by_meta = {r["query_id"]: r for r in got["metadata"].collect()}
        by_ana = {r["query_id"]: r for r in got["analysis"].collect()}
        by_bat: dict[str, list] = {}
        for r in sorted(
            got["batches"].collect(), key=lambda r: (r["query_id"], r["chunk_index"])
        ):
            by_bat.setdefault(r["query_id"], []).append(
                (r["batch_id"], r["content"], r["truncated"])
            )

        for qid, text in qs:
            single = graph_rag_query(
                chunks, nodes, mentions, triples, text, retrieval_mode=mode, top_k=5
            )
            want_ret = {tuple(r) for r in single["retrieved"].collect()}
            assert by_ret.get(qid, set()) == want_ret, (mode, qid, "retrieved")
            ctx_rows = single["context"].collect()
            want_ctx = {tuple(r) for r in ctx_rows}
            assert by_ctx.get(qid, set()) == want_ctx, (mode, qid, "context")
            want_src = {tuple(r) for r in single["sources"].collect()}
            assert by_src.get(qid, set()) == want_src, (mode, qid, "sources")
            m = by_meta[qid]
            assert m["chunks_used"] == single["metadata"]["chunks_used"], (mode, qid)
            for k in ("query_type", "complexity", "multi_hop_recommended"):
                assert m[k] == single["metadata"][k], (mode, qid, k)
            ana = by_ana[qid]
            want_ana = py_analyze_query(text)
            want_ana.update(py_detect_follow_up(text))
            for k in ("query_type", "complexity", "multi_hop_recommended",
                      "requires_multiple_sources", "is_follow_up", "needs_context"):
                assert ana[k] == want_ana[k], (mode, qid, k)
            # batches: packing equals the reference trace over the
            # context contents in (score desc, chunk_id) order
            ordered = [
                content_of[r["chunk_id"]]
                for r in sorted(ctx_rows, key=lambda r: (-r["score"], r["chunk_id"]))
            ]
            want_bat = py_split_batches(text, ordered, 8192, 0)
            assert by_bat.get(qid, []) == want_bat, (mode, qid, "batches")


def _multiset(rows):
    """Rows as a multiset; NaN made equal to itself."""
    from collections import Counter

    return Counter(
        tuple("NaN" if isinstance(v, float) and v != v else v for v in r) for r in rows
    )


def _is_literal(df) -> bool:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"


def test_driver_nodes_equal_dataframe_route(kg, monkeypatch):
    """Under the cap ``graph_rag_query`` runs reasoning, sources and
    metadata on the driver serving state and returns literal frames;
    forced over it (cap 0) the DataFrame bodies run. Both give the same
    retrieved, context and source rows (as multisets, same columns and
    types) and the same metadata for an analytical, a comparative and a
    factual query, and for a chunk_only one. The driver walk also equals
    ``graph_reasoning_enhance`` with a wider cap."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from graphrag_spark import graph_query
    from graphrag_spark.graph_rag import CONTEXT_SCHEMA
    from graphrag_spark.session import DRIVER_CACHE, literal_frame

    calls = (
        ("why does partnership depend on rollout", "graph_enhanced"),
        ("compare partnership versus rollout", "graph_enhanced"),
        ("what is partnership", "graph_enhanced"),
        ("what is partnership", "chunk_only"),
    )

    def run():
        out = []
        for q, mode in calls:
            got = graph_rag_query(*kg, q, retrieval_mode=mode, top_k=5)
            out.append(
                {
                    k: (got[k].dtypes, _multiset(got[k].collect()))
                    for k in ("retrieved", "context", "sources")
                }
                | {"metadata": got["metadata"], "literal": _is_literal(got["context"])}
            )
        return out

    DRIVER_CACHE.clear()
    driver = run()
    state = graph_query.serving_state(*kg[:3])
    assert state is not None
    # past graph_rag_query's cap of 10 the walk reaches same-document
    # siblings too, which the dense J1 edges of this corpus crowd out
    rows = [tuple(r) for r in retrieve_documents(*kg, calls[0][0], top_k=5).collect()]
    wide = graph_query.driver_reasoning(state, rows, cap=60)
    ranked = literal_frame(kg[0].sparkSession, rows, CONTEXT_SCHEMA).select(
        "chunk_id", F.row_number().over(Window.orderBy(F.desc("score"), "chunk_id")).alias("rank")
    )
    want = graph_query.graph_reasoning_enhance(
        ranked, graph_query.chunk_similarity_edges_for(kg[0]), kg[0], cap=60
    ).filter(F.col("source") == "graph_expansion")
    assert _multiset(wide) == _multiset(want.select("chunk_id", "source", "similarity").collect())
    assert 0.2 in {r[2] for r in wide}
    monkeypatch.setattr(graph_query, "_DRIVER_BEAM_MAX_ROWS", 0)
    DRIVER_CACHE.clear()
    frames = run()
    DRIVER_CACHE.clear()
    assert [d.pop("literal") for d in driver] == [True] * len(calls)
    assert [f.pop("literal") for f in frames] == [False] * len(calls)
    for call, d, f in zip(calls, driver, frames):
        assert d == f, call
    ctx = driver[0]["context"][1]
    assert any(r[1] == "graph_expansion" for r in ctx)
    assert driver[0]["sources"][1]


def test_driver_nodes_edge_cases(spark):
    """The driver reasoning, sources and metadata twins equal the
    DataFrame bodies on small literal frames built for their edge
    cases: NaN scores kept (Spark's NaN > 0.0 is true), zero, negative
    and null scores dropped, an entity-based chunk without entities
    falling back to a chunk source, entity rows capped at 3 with the
    200-char preview, null content, a context chunk missing from
    chunks, duplicate mention rows, ties broken by name and chunk_id,
    a full context (10 rows) adding nothing, and 2-hop walks that never
    return to their seed."""
    import math

    from graphrag_spark import graph_query
    from graphrag_spark.generation import (
        driver_response_metadata,
        driver_sources,
        prepare_sources,
        response_metadata,
    )
    from graphrag_spark.graph_rag import CONTEXT_SCHEMA, _reasoning_context
    from graphrag_spark.session import literal_frame

    long_text = "x" * 150 + "é" * 100
    chunk_rows = [
        ("c1", "d1", "nan chunk", [1.0, 0.0]),
        ("c2", "d1", "zero", [0.0, 1.0]),
        ("c3", "d1", "negative", [1.0, 1.0]),
        ("c4", "d2", "null score", [1.0, 0.5]),
        ("c5", "d2", "no entities", [0.5, 1.0]),
        ("c6", "d2", long_text, [0.2, 1.0]),
        ("c7", "d3", None, [1.0, 0.2]),
        ("c8", "d3", None, [0.3, 0.3]),
        ("c9", "d3", "sibling", [0.1, 0.9]),
        ("c10", None, "no document", [0.9, 0.1]),
        ("c11", "d4", "far", [0.4, 0.6]),
        ("c12", "d4", "farther", [0.6, 0.4]),
    ] + [(f"s{i}", "d5", f"seed doc {i}", [float(i), 1.0]) for i in range(6)]
    chunks = literal_frame(
        spark, chunk_rows, "chunk_id string, doc_id string, content string, embedding array<double>"
    )
    node_rows = [
        ("e1", "beta", 0.9), ("e2", "alpha", 0.9), ("e3", "gamma", 0.5),
        ("e4", "delta", 0.7), ("e5", "eps", 0.1), ("e6", "zeta", None),
    ]
    nodes = literal_frame(
        spark,
        [(e, n, i, [1.0, 0.0]) for e, n, i in node_rows],
        "entity_id string, name string, importance double, embedding array<double>",
    )
    mentions = literal_frame(
        spark,
        [("c6", e) for e in ("e1", "e2", "e3", "e4", "e4", "e5", "e6")]
        + [("c7", "e3"), ("c8", "e1"), ("c8", "e1"), ("c1", "e5"), ("s0", "e2")],
        "chunk_id string, entity_id string",
    )
    edges = literal_frame(
        spark,
        [
            ("s0", "s1", 0.9), ("s1", "c11", 0.7), ("s0", "c11", 0.6),
            ("s1", "c12", 0.5), ("s2", "c10", 0.8), ("c10", "s0", 0.55),
            ("c1", "c9", 0.75), ("c9", "c12", 0.65), ("s2", "s3", 0.6),
        ],
        "src string, dst string, similarity double",
    )
    index = graph_query._driver_retrieval_index(chunks, nodes, mentions)
    state = graph_query._serving_state(chunks, index, edges)
    assert state is not None
    analysis = {"query_type": "analytical", "complexity": "simple"}
    contexts = {
        "sources": [
            ("c1", "chunk_based", math.nan), ("c2", "hybrid", 0.0),
            ("c3", "chunk_based", -0.5), ("c4", "chunk_based", None),
            ("c5", "entity_based", 0.4), ("c6", "entity_based", 0.9),
            ("c7", "entity_based", 0.8), ("c8", "chunk_based", 0.7),
            ("zz", "chunk_based", 0.5),
        ],
        "expansion": [("s0", "hybrid", 0.9), ("s2", "chunk_based", 0.9), ("c1", "entity_based", 0.3)],
        "full": [(f"s{i}", "chunk_based", 0.5) for i in range(6)]
        + [("c5", "chunk_based", 0.4), ("c6", "entity_based", 0.4), ("c9", "hybrid", 0.3), ("c11", "hybrid", 0.2)],
    }
    got = {}
    for name, rows in contexts.items():
        retrieved = literal_frame(spark, rows, CONTEXT_SCHEMA)
        context = _reasoning_context(retrieved, edges, chunks)
        sources = prepare_sources(context, chunks, mentions, nodes)
        ctx = rows + graph_query.driver_reasoning(state, rows)
        drv = driver_sources(ctx, state.content, state.entities)
        assert _multiset(ctx) == _multiset(context.collect()), name
        assert _multiset(drv) == _multiset(sources.collect()), name
        assert driver_response_metadata(ctx, analysis) == response_metadata(context, analysis), name
        got[name] = (ctx[len(rows):], drv)

    extra, srcs = got["sources"]
    assert len(extra) == 1  # 9 retrieved rows leave a budget of one
    by_chunk = {}
    for r in srcs:
        by_chunk.setdefault(r[1], []).append(r)
    assert set(by_chunk) == {"c1", "c5", "c6", "c7", "c8"} | {r[0] for r in extra}
    assert math.isnan(by_chunk["c1"][0][4])
    assert [r[0] for r in by_chunk["c5"]] == ["chunk"]
    assert [r[2] for r in by_chunk["c6"]] == ["alpha", "beta", "delta"]
    assert by_chunk["c6"][0][5] == long_text[:200] + "..."
    assert by_chunk["c6"][0][6] == "alpha,beta,delta,delta,gamma,eps,zeta"
    assert by_chunk["c7"][0][5] is None and by_chunk["c8"][0][5] is None
    assert by_chunk["c8"][0][6] == "beta,beta"
    extra, _ = got["expansion"]
    assert len(extra) == 7 and "s0" not in {r[0] for r in extra}
    assert got["full"][0] == []


def test_warm_factual_request_runs_no_spark_job(kg, spark):
    """A warm factual request, forced through its sources, runs no Spark
    job: retrieval, reasoning, sources and metadata all read the cached
    driver state. With the broadcast threshold (the state's byte bound)
    below the state's size the state declines and the DataFrame bodies
    run jobs again."""
    from graphrag_spark.session import DRIVER_CACHE

    sc = spark.sparkContext
    q = "what is partnership"

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            rows = graph_rag_query(*kg, q, top_k=5)["sources"].collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs("graph_rag.cold")
    assert jobs("graph_rag.warm") == 0
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    DRIVER_CACHE.pop("serving_state", None)
    try:
        assert jobs("graph_rag.bounded") > 0
    finally:
        spark.conf.set(key, old)
        DRIVER_CACHE.pop("serving_state", None)
