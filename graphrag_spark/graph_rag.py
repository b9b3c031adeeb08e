"""The reference's end-to-end query workflow (rag/graph_rag.py:44-64:
analyze_query -> retrieve_documents -> reason_with_graph ->
generate_response, a linear LangGraph chain) as one composition over
the stored KG tables. Everything is the deterministic engine surface;
the only boundary is the final LLM text generation, whose relational
surroundings (source assembly, metadata) are produced here.

Node parity:
- analyze:   query_analysis.py_analyze_query + follow-up flag
             (rag/nodes/query_analysis.py:12-246);
- retrieve:  the dispatcher incl. the graph-expansion gate — complex
             or comparative queries with graph_expansion enabled route
             through retrieve_with_graph_expansion
             (rag/nodes/retrieval.py:100-121);
- reason:    graph_reasoning_enhance, skipped for simple / chunk_only
             modes (rag/nodes/graph_reasoning.py:38-45);
- generate:  prepare_sources + response_metadata
             (rag/nodes/generation.py:45-146); the answer text itself
             is the LLM boundary.

Serving cost: the stored tables' driver state (graph adjacency, the
hybrid-retrieval index, and the serving state of the reasoning and
sources nodes: the J1 edges, chunk documents and contents, ranked
mention rows) is built on the first request and reused while the same
frames are passed. Under the driver cap a warm ``graph_rag_query``
runs its reasoning, sources and metadata nodes on the driver and
returns literal frames, so a request whose retrieval also took the
driver route runs no Spark job; only the graph-expansion branches of
complex or comparative queries still do. Past the cap, or when the
state declines (``graph_query.serving_state``), the DataFrame bodies
run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from . import graph_query
from .generation import (
    SOURCES_SCHEMA,
    driver_response_metadata,
    driver_sources,
    prepare_sources,
    response_metadata,
)
from .query_analysis import py_analyze_query, py_detect_follow_up
from .session import literal_frame

CONTEXT_SCHEMA = "chunk_id string, source string, score double"


def retrieve_documents(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_text: str,
    retrieval_mode: str = "graph_enhanced",
    top_k: int = 5,
    graph_expansion: bool = True,
) -> DataFrame:
    """The retrieval node (rag/nodes/retrieval.py:18-135): analyze,
    widen top_k by complexity, then — for complex or comparative
    queries when ``graph_expansion`` is on — retrieve WITH graph
    expansion; otherwise the plain dispatcher. Returns
    (chunk_id, source, score)."""
    analysis = py_analyze_query(query_text)
    if graph_expansion and (
        analysis["complexity"] == "complex"
        or analysis["query_type"] == "comparative"
    ):
        # pass the RAW top_k: retrieve_with_graph_expansion's internal
        # ``retrieve`` call applies adjusted_top_k itself, so widening
        # here as well would apply the complexity bump twice
        # (comparative 5 -> 12 instead of the reference's 10)
        return graph_query.retrieve_with_graph_expansion(
            chunks, nodes, mentions, triples, query_text,
            mode=retrieval_mode, top_k=top_k,
        ).select("chunk_id", "source", F.col("similarity").alias("score"))
    return graph_query.retrieve(
        chunks, nodes, mentions, triples, query_text,
        mode=retrieval_mode, top_k=top_k,
    )


def _reasoning_context(retrieved: DataFrame, sim_edges: DataFrame, chunks: DataFrame) -> DataFrame:
    """The reasoning node's context over the DataFrame bodies: the
    (chunk_id, source, score) ``retrieved`` rows plus the rows
    ``graph_reasoning_enhance`` appends, scored by their traversal
    similarity."""
    ranked = retrieved.select(
        "chunk_id",
        F.row_number().over(
            Window.orderBy(F.desc("score"), "chunk_id")
        ).alias("rank"),
    )
    enhanced = graph_query.graph_reasoning_enhance(ranked, sim_edges, chunks)
    # localCheckpoint: sources + metadata each re-execute the context
    # plan (the J1 edges themselves are a cached checkpoint,
    # chunk_similarity_edges_for), and lineage truncation keeps
    # downstream plan trees bounded (same rationale as the batch twin's
    # checkpoints)
    return retrieved.unionByName(
        enhanced.filter(F.col("source") == "graph_expansion").select(
            "chunk_id", F.lit("graph_expansion").alias("source"),
            F.col("similarity").alias("score"),
        )
    ).localCheckpoint(eager=True)


def graph_rag_query(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_text: str,
    retrieval_mode: str = "graph_enhanced",
    top_k: int = 5,
    graph_expansion: bool = True,
) -> dict:
    """GraphRAG.query (rag/graph_rag.py:192-283) minus the generated
    text: run the full node chain and return the state a caller (or an
    LLM answerer) consumes:

    - 'analysis': the query-analysis dict incl. is_follow_up;
    - 'retrieved': (chunk_id, source, score) after the retrieval node;
    - 'context': the reasoning-enhanced context frame — retrieval rows
      plus graph-expansion rows (reason node skips enhancement for
      simple/chunk_only modes, graph_reasoning.py:38-45);
    - 'sources': the generation node's source records;
    - 'metadata': chunks_used + analysis echo (generation.py:122-146);
    - 'stages': the stage names in execution order (graph_rag.py's
      stage tracking).

    Route: when ``graph_query.serving_state`` holds the tables (under
    ``_DRIVER_BEAM_MAX_ROWS`` and the byte bound), the retrieval rows
    are collected once and reasoning, sources and metadata run on the
    driver (``driver_reasoning``, ``driver_sources``); 'retrieved',
    'context' and 'sources' are then literal frames and 'retrieved' is
    not persisted. Otherwise 'retrieved' is persisted and the DataFrame
    bodies run; both routes give the same rows (pytest-asserted)."""
    analysis = py_analyze_query(query_text)
    analysis.update(py_detect_follow_up(query_text))

    retrieved = retrieve_documents(
        chunks, nodes, mentions, triples, query_text,
        retrieval_mode=retrieval_mode, top_k=top_k,
        graph_expansion=graph_expansion,
    )
    reason = retrieval_mode not in ("simple", "chunk_only")

    state = graph_query.serving_state(chunks, nodes, mentions)
    if state is not None:
        spark = chunks.sparkSession
        rows = [tuple(r) for r in retrieved.collect()]
        ctx = rows + (graph_query.driver_reasoning(state, rows) if reason else [])
        retrieved = literal_frame(spark, rows, CONTEXT_SCHEMA)
        context = literal_frame(spark, ctx, CONTEXT_SCHEMA)
        sources = literal_frame(
            spark, driver_sources(ctx, state.content, state.entities), SOURCES_SCHEMA
        )
        meta = driver_response_metadata(ctx, analysis)
    else:
        retrieved = retrieved.persist()
        context = (
            _reasoning_context(retrieved, graph_query.chunk_similarity_edges_for(chunks), chunks)
            if reason
            else retrieved
        )
        sources = prepare_sources(context, chunks, mentions, nodes)
        meta = response_metadata(context, analysis)
    return {
        "analysis": analysis,
        "retrieved": retrieved,
        "context": context,
        "sources": sources,
        "metadata": meta,
        "stages": ["query_analysis", "retrieval", "graph_reasoning", "generation"],
    }


def batch_retrieve_documents(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    queries: DataFrame,
    retrieval_mode: str = "graph_enhanced",
    top_k: int = 5,
    graph_expansion: bool = True,
    id_col: str = "query_id",
    query_col: str = "query",
    chunk_index=None,
) -> DataFrame:
    """``retrieve_documents`` for a whole query table — per query
    identical output (pytest-asserted). The expansion gate (complex or
    comparative queries when ``graph_expansion`` is on) is evaluated as
    a column over the analyzed batch; non-gated queries go through the
    set-oriented ``batch_retrieve`` dispatcher in one pass, gated ones
    through ``batch_retrieve_with_graph_expansion`` — also one pass
    (the graph-expanded widening was the batch family's last per-query
    driver loop; a complex/comparative-heavy batch now runs it as
    set-oriented jobs). Returns (query_id, chunk_id, source, score)."""
    from .query_analysis import analyze_queries

    meta = analyze_queries(queries, query_col)
    gated = (F.col("complexity") == "complex") | (
        F.col("query_type") == "comparative"
    )
    exp_ids = (
        [r[id_col] for r in meta.filter(gated).select(id_col).collect()]
        if graph_expansion
        else []
    )
    plain = queries.filter(~F.col(id_col).isin(exp_ids)) if exp_ids else queries
    out = graph_query.batch_retrieve(
        chunks, nodes, mentions, triples, plain, mode=retrieval_mode,
        top_k=top_k, id_col=id_col, query_col=query_col,
        chunk_index=chunk_index,
    )
    if exp_ids:
        # raw top_k, same double-widening note as retrieve_documents
        out = out.unionByName(
            graph_query.batch_retrieve_with_graph_expansion(
                chunks, nodes, mentions, triples,
                queries.filter(F.col(id_col).isin(exp_ids)),
                mode=retrieval_mode, top_k=top_k,
                id_col=id_col, query_col=query_col, chunk_index=chunk_index,
            ).select(
                id_col, "chunk_id", "source",
                F.col("similarity").alias("score"),
            )
        )
    return out


def batch_graph_rag_query(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    queries: DataFrame,
    retrieval_mode: str = "graph_enhanced",
    top_k: int = 5,
    graph_expansion: bool = True,
    id_col: str = "query_id",
    query_col: str = "query",
    context_size: int = 8192,
    system_tokens: int = 0,
    chunk_index=None,
) -> dict:
    """The FULL graph-RAG composition for a whole query table — the
    batch twin of ``graph_rag_query``, per query identical on every
    frame (pytest-asserted). A 10k-query evaluation batch runs the
    node chain as set-oriented jobs instead of 10k driver round-trips:

    - 'analysis': ``analyze_queries`` + the follow-up flag as columns
      (one pass, no per-query regex loop);
    - 'retrieved': ``batch_retrieve_documents`` (set-oriented
      dispatcher; the expansion gate per query);
    - 'context': reasoning-enhance for all queries at once — the chunk
      similarity edge set is built ONCE and shared, the traversal runs
      over the union of all queries' seeds, budgets/caps are
      query-partitioned windows (``batch_graph_reasoning_enhance``);
    - 'sources': ``prepare_sources(keys=[query_id])`` — the per-chunk
      entity ranking computed once over the union of context chunks;
    - 'metadata': the response-metadata block as one rollup frame
      (query_id, chunks_used, analysis echo);
    - 'batches': token-budget request splitting of each query's
      context contents (``token_budget.token_batches`` — already
      query_id-grouped), packing order = context rank. This extends
      the per-query composition, which stops at metadata (the
      reference splits inside its LLM call, core/llm.py:542-616).

    ``chunk_index`` threads the IVF ANN index into the vector-scoring
    retrieval strategies."""
    from .query_analysis import analyze_queries, follow_up_flag_col
    from .token_budget import token_batches

    flag = follow_up_flag_col(F.col(query_col))
    analysis = analyze_queries(queries, query_col).select(
        "*", flag.alias("is_follow_up"), flag.alias("needs_context")
    )
    # localCheckpoint, not persist: the retrieval plan under a gated
    # graph_enhanced batch is the union of the whole set-oriented
    # hybrid DAG plus one graph-expansion subtree per gated query, and
    # every downstream consumer (context/sources/metadata/batches)
    # re-embeds it — persist dedupes EXECUTION but not the logical
    # plan, whose stringification alone (QueryExecution.explainString)
    # can OOM the driver once sources/batches stack more joins on top.
    # The frame is query-scale (|queries| x top_k rows), so eager
    # materialization is the cheap side of the trade.
    retrieved = batch_retrieve_documents(
        chunks, nodes, mentions, triples, queries,
        retrieval_mode=retrieval_mode, top_k=top_k,
        graph_expansion=graph_expansion, id_col=id_col, query_col=query_col,
        chunk_index=chunk_index,
    ).localCheckpoint(eager=True)

    if retrieval_mode in ("simple", "chunk_only"):
        context = retrieved
    else:
        rw = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
        ranked = retrieved.select(
            id_col, "chunk_id", F.row_number().over(rw).alias("rank")
        )
        sim_edges = graph_query.chunk_similarity_edges_for(chunks)
        enhanced = graph_query.batch_graph_reasoning_enhance(
            ranked, sim_edges, chunks, id_col=id_col
        )
        # localCheckpoint: sources + metadata + batches each consume
        # context — one materialization instead of three re-executions
        # of the enhancement subtree (which carries the shared J1 edge
        # build), AND a truncated lineage so their plans stay bounded
        # (see the retrieved checkpoint above)
        context = retrieved.unionByName(
            enhanced.filter(F.col("source") == "graph_expansion").select(
                id_col, "chunk_id", F.lit("graph_expansion").alias("source"),
                F.col("similarity").alias("score"),
            )
        ).localCheckpoint(eager=True)

    sources = prepare_sources(context, chunks, mentions, nodes, keys=[id_col])
    metadata = (
        analysis.select(
            id_col, "query_type", "complexity", "multi_hop_recommended"
        )
        .join(
            context.filter(F.col("score") > 0.0)
            .groupBy(id_col)
            .agg(F.count("*").alias("chunks_used")),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("chunks_used", F.lit(0)).alias("chunks_used"),
            "query_type", "complexity", "multi_hop_recommended",
        )
    )
    cw = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
    batches = token_batches(
        context.withColumn("chunk_index", F.row_number().over(cw) - 1)
        .join(chunks.select("chunk_id", "content"), "chunk_id")
        .join(
            queries.select(id_col, F.col(query_col).alias("query")), id_col
        )
        .withColumnRenamed(id_col, "query_id")
        .select("query_id", "query", "chunk_index", "content"),
        context_size=context_size,
        system_tokens=system_tokens,
    )
    return {
        "analysis": analysis,
        "retrieved": retrieved,
        "context": context,
        "sources": sources,
        "metadata": metadata,
        "batches": batches,
        "stages": ["query_analysis", "retrieval", "graph_reasoning", "generation"],
    }
