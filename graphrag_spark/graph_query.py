"""Query-side graph operators over the materialized KG tables — the
Spark analogs of the reference's Cypher traversals.

Covered (SURVEY.md §2): G3 bounded BFS expansion with distance decay,
G4 entity neighborhood subgraph, G5 beam-search multi-hop paths (per-
hop top-k via window rank), G6 strength-decay expansion, T1 vector
search top-k, T4 entities by importance, T7 fulltext search, T8 chunk
ordering.

The two serving walks, G5 beam paths and G6 strength-decay expansion,
each have one query-keyed core (``_beam_paths``, ``_decay_scores``)
that the per-query and batch operators call. A core picks its route
once from the LIMIT-guarded driver adjacency (``_DRIVER_BEAM_MAX_ROWS``):
under the cap a pure-Python hop loop per query, past it one distributed
per-hop join + window top-k for all active queries, with a bounded
collect between hops. Final rounding and ordering are Spark expressions
over the literal rows, so both routes return identical rows. G3/G4 and
the batch retrieval operators are set-oriented DataFrame plans.

Serving state lives on the driver, one ``session.driver_cached`` entry
per input table set, reused while the tables stay the same: the walks'
adjacency and importance maps, the J1 chunk-similarity edges (a local
checkpoint, ``chunk_similarity_edges_for``) and the hybrid-retrieval
index (chunk matrix, mention lists, entity embeddings), plus the
serving state of ``graph_rag_query``'s reasoning and sources nodes
(``serving_state``: the J1 edges as an adjacency, chunk documents and
contents, ranked mention rows; bounded by rows and by the broadcast
threshold in bytes). Under the cap ``hybrid_retrieval`` runs in
numpy/Python over that index and returns literal rows
(``_driver_hybrid``; ``_round6`` is its ``F.round``), and
``driver_reasoning`` gives ``graph_reasoning_enhance``'s rows; past it
the DataFrame bodies run. Literal rows become frames through
Arrow (``session.literal_frame``), never a pickled Python RDD.
"""

from __future__ import annotations

import decimal
import math
from typing import NamedTuple

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .session import broadcast_threshold, driver_cached, literal_frame

DISTANCE_DECAY = {1: 0.3, 2: 0.2}  # reference core/graph_db.py:516-557
DEFAULT_DECAY = 0.15


def undirected_edges(triples: DataFrame) -> DataFrame:
    """triples -> symmetric edge list (RELATED_TO is undirected,
    core/graph_db.py:1023)."""
    fwd = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"), "strength")
    return fwd.union(triples.select(F.col("obj").alias("src"), F.col("subj").alias("dst"), "strength"))


def expand_entities(triples: DataFrame, seeds: list[str], depth: int = 2) -> DataFrame:
    """G3 (core/graph_db.py:516-557): BFS from seed entity names with
    per-depth distance-decay scores; keeps the first (shallowest)
    depth per reached entity."""
    spark = triples.sparkSession
    edges = undirected_edges(triples)
    frontier = literal_frame(spark, [(s,) for s in seeds], "name string").withColumn(
        "depth", F.lit(0)
    ).withColumn("score", F.lit(1.0))
    reached = frontier
    for d in range(1, depth + 1):
        decay = DISTANCE_DECAY.get(d, DEFAULT_DECAY)
        nxt = (
            edges.join(frontier.select(F.col("name").alias("src")), "src")
            .select(F.col("dst").alias("name"))
            .distinct()
            .join(reached.select("name"), "name", "left_anti")
            .withColumn("depth", F.lit(d))
            .withColumn("score", F.lit(float(decay)))
        )
        nxt = nxt.localCheckpoint(eager=True)
        reached = reached.unionByName(nxt)
        frontier = nxt
    return reached


def neighborhood(triples: DataFrame, entity_name: str, hops: int = 1) -> DataFrame:
    """G4 (core/graph_db.py:1143-1191): induced edge set within `hops`
    of the entity."""
    nodes = expand_entities(triples, [entity_name], depth=hops).select("name")
    e = undirected_edges(triples)
    return (
        e.join(nodes.withColumnRenamed("name", "src"), "src", "left_semi")
        .join(nodes.withColumnRenamed("name", "dst"), "dst", "left_semi")
        .select("src", "dst", "strength")
        .distinct()
    )


# Driver fast paths (r6, the canonicalize.py union-find pattern): the
# adjacency and importance maps are collected once per (triples, nodes)
# table pair, LIMIT-guarded at _DRIVER_BEAM_MAX_ROWS rows, and cached
# by ``session.driver_cached`` (INPUT-side serving state, never query
# results). Both graph walks below pick their route from them once.
_DRIVER_BEAM_MAX_ROWS = 200_000


def _driver_graph_adjacency(triples: DataFrame):
    """Undirected adjacency dict {src: [(dst, strength, source_chunks)]}
    when the triples frame fits the driver cap, else None. The collect
    is LIMIT-guarded: at most cap+1 rows ever reach the driver."""

    def build():
        has_sc = "source_chunks" in triples.columns
        cols = ["subj", "obj", "strength"] + (["source_chunks"] if has_sc else [])
        rows = triples.select(*cols).limit(_DRIVER_BEAM_MAX_ROWS + 1).collect()
        if len(rows) > _DRIVER_BEAM_MAX_ROWS:
            return None
        adj: dict[str, list] = {}
        for r in rows:
            sc = list(r["source_chunks"]) if has_sc else []
            adj.setdefault(r["subj"], []).append((r["obj"], r["strength"], sc))
            adj.setdefault(r["obj"], []).append((r["subj"], r["strength"], sc))
        return adj

    return driver_cached(triples, "adj", build)


def _driver_importance(nodes: DataFrame):
    """{name: importance} when the nodes frame fits the cap, else None."""

    def build():
        rows = nodes.select("name", "importance").limit(_DRIVER_BEAM_MAX_ROWS + 1).collect()
        if len(rows) > _DRIVER_BEAM_MAX_ROWS:
            return None
        return {r["name"]: r["importance"] for r in rows}

    return driver_cached(nodes, "imp", build)


def _driver_beam_data(triples: DataFrame, nodes: DataFrame):
    """(adjacency dict, importance dict) when both frames fit the
    driver cap, else None (distributed hop loop)."""
    adj = _driver_graph_adjacency(triples)
    if adj is None:
        return None
    imp = _driver_importance(nodes)
    if imp is None:
        return None
    return (adj, imp)


_BEAM_SCHEMA = (
    "qid string, tail string, path array<string>, path_score double, support array<string>"
)


def _beam_order(row):
    """A hop's beam order: path_score desc, tail, '>'-joined path (UTF-8
    byte order and code-point order agree, so Spark and Python sort
    these strings alike)."""
    return (-row[2], row[0], ">".join(row[1]))


def _beam_paths(
    triples: DataFrame,
    nodes: DataFrame,
    seeds_by_q: dict[str, list[str]],
    max_hops: int = 2,
    beam_size: int = 8,
    min_edge_strength: float = 0.0,
    with_support: bool = False,
) -> list[tuple]:
    """G5 beam search (core/graph_db.py:1628-1802) for every query's
    seed set at once. Per hop and query: extend each beam path by one
    edge (strength >= ``min_edge_strength``, no revisits), score it
    0.5*path + 0.3*strength + 0.2*importance (:1766-1772) and keep the
    top ``beam_size`` in ``_beam_order``. ``with_support`` accumulates
    the traversed triples' source_chunks per path (graph_db.py:
    1714-1728).

    The route is chosen once. Under the driver cap the hop runs in pure
    Python per query over the cached adjacency — no Spark job. Past it,
    one distributed hop serves all active queries: the edges join a
    broadcast frame of the current beams, a query-partitioned window
    keeps each query's top ``beam_size``, and the <= |queries| x
    beam_size survivors are collected for the next hop. Both routes use
    the same IEEE score expression (left-associated) and beam order, so
    their rows are identical.

    Returns unrounded rows (qid, tail, path, path_score, support): each
    query's seeds, then each hop's beam in beam order."""
    beams = {
        q: [(s, [s], 1.0, []) for s in dict.fromkeys(seeds)] for q, seeds in seeds_by_q.items()
    }
    driver_data = _driver_beam_data(triples, nodes)
    edges = None
    if driver_data is not None:
        adj, impmap = driver_data

        def hop(beams):
            out = {}
            for q, rows in beams.items():
                expanded = []
                for tail, path, ps, sup in rows:
                    for dst, st, sc in adj.get(tail, ()):
                        if st < min_edge_strength or dst in path:
                            continue
                        imp = impmap.get(dst)
                        imp = 0.0 if imp is None else imp
                        score = 0.5 * ps + 0.3 * st + 0.2 * imp
                        nsup = list(dict.fromkeys(sup + sc)) if with_support else sup
                        expanded.append((dst, path + [dst], score, nsup))
                out[q] = sorted(expanded, key=_beam_order)[:beam_size]
            return out

    else:
        spark = triples.sparkSession
        cols = ["strength"] + (["source_chunks"] if with_support else [])
        fwd = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"), *cols)
        # cached for the hop loop only (each hop re-reads it); the rows
        # returned are literal, so the cache is dropped before returning
        edges = (
            fwd.unionByName(
                fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
            )
            .filter(F.col("strength") >= min_edge_strength)
            .persist()
        )
        imp = nodes.select(F.col("name").alias("dst"), "importance")
        new_support = (
            F.array_distinct(F.concat("support", F.col("source_chunks")))
            if with_support
            else F.col("support")
        )
        bw = Window.partitionBy("qid").orderBy(
            F.desc("path_score"), F.col("tail"), F.concat_ws(">", "path")
        )

        def hop(beams):
            paths = literal_frame(
                spark, [(q, *r) for q, rows in beams.items() for r in rows], _BEAM_SCHEMA
            )
            expanded = (
                edges.join(F.broadcast(paths.withColumnRenamed("tail", "src")), "src")
                .join(F.broadcast(imp), "dst", "left")
                .na.fill(0.0, ["importance"])
                .filter(~F.array_contains("path", F.col("dst")))
                .select(
                    "qid",
                    F.col("dst").alias("tail"),
                    F.concat("path", F.array("dst")).alias("path"),
                    (0.5 * F.col("path_score") + 0.3 * F.col("strength") + 0.2 * F.col("importance")).alias(
                        "path_score"
                    ),
                    new_support.alias("support"),
                )
            )
            out: dict[str, list] = {}
            top = expanded.withColumn("_rk", F.row_number().over(bw)).filter(
                F.col("_rk") <= beam_size
            )
            for r in top.collect():
                out.setdefault(r["qid"], []).append(
                    (r["tail"], list(r["path"]), r["path_score"], list(r["support"]))
                )
            return {q: sorted(rows, key=_beam_order) for q, rows in out.items()}

    out_rows = [(q, *r) for q, rows in beams.items() for r in rows]
    for _hop in range(max_hops):
        beams = {q: rows for q, rows in beams.items() if rows}
        if not beams:
            break
        beams = hop(beams)
        out_rows.extend((q, *r) for q, rows in beams.items() for r in rows)
    if edges is not None:
        edges.unpersist()
    return out_rows


def beam_search_paths(
    triples: DataFrame,
    nodes: DataFrame,
    seeds: list[str],
    max_hops: int = 2,
    beam_size: int = 8,
    min_edge_strength: float = 0.0,
    with_support: bool = False,
) -> DataFrame:
    """G5 (core/graph_db.py:1628-1802): per-hop beam expansion from
    ``seeds`` (``_beam_paths`` for one query); path score =
    0.5*path + 0.3*strength + 0.2*importance (:1766-1772); visited
    filtering; global beam per hop.

    ``with_support`` additionally returns the traversed triples'
    source_chunks per path (the reference's per-hop supporting chunk
    ids, graph_db.py:1714-1728) for path-provenance retrieval.

    The final round/sort_array run as Spark expressions over the literal
    rows, so either route's output is bit-identical (oracled by
    kg_beam_paths). Returns (path, path_score[, support])."""
    rows = _beam_paths(
        triples, nodes, {"": seeds}, max_hops, beam_size, min_edge_strength, with_support
    )
    out = literal_frame(triples.sparkSession, rows, _BEAM_SCHEMA)
    cols = ["path", F.round("path_score", 6).alias("path_score")]
    if with_support:
        cols.append(F.sort_array("support").alias("support"))
    return out.select(*cols)


def multi_hop_retrieval(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_vec: list[float],
    seed_top_k: int = 5,
    max_hops: int = 2,
    beam_size: int = 8,
    min_edge_strength: float = 0.0,
    top_chunks: DataFrame | None = None,
    seeds: list[str] | None = None,
) -> DataFrame:
    """Multi-hop reasoning retrieval (rag/retriever.py:409-600) as one
    declarative DAG over the stored tables:

    1. hybrid seeding — vector top (2k) chunks for the query, entities
       mentioned in them, top ``seed_top_k`` by importance;
    2. beam-search paths from the seeds with per-edge supporting-chunk
       provenance (the traversed triples' source_chunks);
    3. path scoring — ``0.6*path_score + 0.3*cos(query, mean entity
       embedding along the path) + 0.1*max cos(query, supporting-chunk
       embedding)`` (retriever.py:541-550, alpha/beta/gamma weights);
    4. one row per supporting chunk with the best path's score
       (set-oriented dedup; the reference keeps first-path order and
       dedups later in the hybrid merge).

    Returns (chunk_id, similarity) — the path-based side of the hybrid
    merge (see ``hybrid_merge``)."""
    from .similarity import cosine_col, cosine_topk_query

    # 1. hybrid seeding — callers that already hold the query-scored
    # top chunks / seed entities (hybrid_retrieval's shared scan and
    # seed collect) pass them in; only standalone use pays those jobs
    if seeds is None:
        if top_chunks is None:
            top_chunks = cosine_topk_query(
                chunks, query_vec, k=2 * seed_top_k, id_col="chunk_id"
            ).select("chunk_id")
        seeds = [
            r["name"]
            for r in mentions.join(F.broadcast(top_chunks), "chunk_id")
            .join(nodes.select("entity_id", "name", "importance"), "entity_id")
            .groupBy("name")
            .agg(F.max("importance").alias("importance"))
            .orderBy(F.desc("importance"), "name")
            .limit(seed_top_k)
            .collect()
        ]
    if not seeds:
        return literal_frame(chunks.sparkSession, [], "chunk_id string, similarity double")

    # 2. scored paths with provenance
    paths = beam_search_paths(
        triples, nodes, seeds, max_hops=max_hops, beam_size=beam_size,
        min_edge_strength=min_edge_strength, with_support=True,
    ).filter(F.size("support") > 0)
    paths = paths.withColumn("path_id", F.concat_ws(">", "path"))

    # 3a. path embedding = elementwise mean of entity embeddings
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    ent = paths.select("path_id", F.explode("path").alias("name")).join(
        nodes.select("name", "embedding"), "name"
    )
    dim_vals = ent.select("path_id", F.posexplode("embedding").alias("pos", "v"))
    path_emb = (
        dim_vals.groupBy("path_id", "pos")
        .agg(F.avg("v").alias("v"))
        .groupBy("path_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("path_id", F.transform("pv", lambda s: s["v"]).alias("path_emb"))
    )
    path_q_sim = path_emb.select(
        "path_id", cosine_col(F.col("path_emb"), q).alias("path_q_sim")
    )

    # 3b. max query-similarity over each path's supporting chunks
    support = paths.select("path_id", "path_score", F.explode("support").alias("chunk_id"))
    chunk_sim = chunks.select(
        "chunk_id", cosine_col(F.col("embedding").cast("array<double>"), q).alias("chunk_sim")
    )
    per_path = (
        support.join(chunk_sim, "chunk_id")
        .groupBy("path_id", "path_score")
        .agg(F.max("chunk_sim").alias("max_chunk_sim"))
    )
    scored = per_path.join(path_q_sim, "path_id").select(
        "path_id",
        (0.6 * F.col("path_score") + 0.3 * F.coalesce("path_q_sim", F.lit(0.0))
         + 0.1 * F.col("max_chunk_sim")).alias("final_score"),
    )

    # 4. per supporting chunk, best path's score
    return (
        support.join(scored, "path_id")
        .groupBy("chunk_id")
        .agg(F.round(F.max("final_score"), 6).alias("similarity"))
        .orderBy(F.desc("similarity"), "chunk_id")
    )


def batch_beam_search_paths(
    triples: DataFrame,
    nodes: DataFrame,
    seed_df: DataFrame,
    max_hops: int = 2,
    beam_size: int = 8,
    min_edge_strength: float = 0.0,
    id_col: str = "query_id",
) -> DataFrame:
    """``beam_search_paths(with_support=True)`` for MANY queries' seed
    sets in one hop loop (``_beam_paths``; r4 VERDICT item 4): a
    comparative-heavy batch pays at most one edge-join job per hop for
    ALL queries, and none under the driver cap. Per query identical to
    the sequential beam (pytest-asserted).

    ``seed_df``: (id_col, name). Returns (id_col, path, path_score,
    support)."""
    seeds_by_q: dict[str, list[str]] = {}
    for r in seed_df.select(id_col, "name").collect():
        seeds_by_q.setdefault(r[id_col], []).append(r["name"])
    rows = _beam_paths(
        triples, nodes, seeds_by_q, max_hops, beam_size, min_edge_strength, with_support=True
    )
    return literal_frame(triples.sparkSession, rows, _BEAM_SCHEMA).select(
        F.col("qid").alias(id_col), "path", F.round("path_score", 6).alias("path_score"),
        F.sort_array("support").alias("support"),
    )


def batch_multi_hop_retrieval(
    chunks: DataFrame,
    nodes: DataFrame,
    triples: DataFrame,
    qvecs: DataFrame,
    seed_df: DataFrame,
    max_hops: int = 2,
    beam_size: int = 8,
    min_edge_strength: float = 0.0,
    id_col: str = "query_id",
) -> DataFrame:
    """``multi_hop_retrieval`` for a whole query table — per query
    identical output (pytest-asserted), one set of jobs for all
    queries: the beam runs hop-batched (``batch_beam_search_paths``),
    path embeddings are computed once per DISTINCT path (they are
    query-independent — the elementwise mean of entity embeddings),
    and the path-scoring joins (0.6*path + 0.3*cos(q, path_emb) +
    0.1*max cos(q, support chunk), retriever.py:541-550) key every
    frame by (id_col, path) instead of looping.

    ``qvecs``: (id_col, qvec) — the callers' shared query-embedding
    frame (bit-identical to ``embed_texts_np``, so scores match the
    sequential path exactly). ``seed_df``: (id_col, name) seed
    entities per query (callers pass their already-computed seeds,
    like ``multi_hop_retrieval(seeds=...)``). Returns (id_col,
    chunk_id, similarity)."""
    from .similarity import cosine_col

    paths = batch_beam_search_paths(
        triples, nodes, seed_df, max_hops=max_hops, beam_size=beam_size,
        min_edge_strength=min_edge_strength, id_col=id_col,
    ).filter(F.size("support") > 0)
    # paths is a literal frame (the beam collects per hop), so every
    # reuse below re-reads driver-local rows — no persist needed
    paths = paths.withColumn("path_id", F.concat_ws(">", "path"))

    # 3a. path embedding per DISTINCT path (query-independent), then
    # per-query cosine via one broadcast join against qvecs
    dpaths = paths.select("path_id", "path").distinct()
    ent = dpaths.select("path_id", F.explode("path").alias("name")).join(
        nodes.select("name", "embedding"), "name"
    )
    dim_vals = ent.select("path_id", F.posexplode("embedding").alias("pos", "v"))
    path_emb = (
        dim_vals.groupBy("path_id", "pos")
        .agg(F.avg("v").alias("v"))
        .groupBy("path_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select("path_id", F.transform("pv", lambda s: s["v"]).alias("path_emb"))
    )
    path_q_sim = (
        paths.select(id_col, "path_id")
        .join(path_emb, "path_id")
        .join(F.broadcast(qvecs.select(id_col, "qvec")), id_col)
        .select(
            id_col, "path_id",
            cosine_col(F.col("path_emb"), F.col("qvec")).alias("path_q_sim"),
        )
    )

    # 3b. max query-similarity over each path's supporting chunks
    support = paths.select(
        id_col, "path_id", "path_score", F.explode("support").alias("chunk_id")
    )
    per_path = (
        support.join(chunks.select("chunk_id", "embedding"), "chunk_id")
        .join(F.broadcast(qvecs.select(id_col, "qvec")), id_col)
        .select(
            id_col, "path_id", "path_score",
            cosine_col(F.col("embedding").cast("array<double>"), F.col("qvec")).alias(
                "chunk_sim"
            ),
        )
        .groupBy(id_col, "path_id", "path_score")
        .agg(F.max("chunk_sim").alias("max_chunk_sim"))
    )
    scored = per_path.join(path_q_sim, [id_col, "path_id"]).select(
        id_col, "path_id",
        (0.6 * F.col("path_score") + 0.3 * F.coalesce("path_q_sim", F.lit(0.0))
         + 0.1 * F.col("max_chunk_sim")).alias("final_score"),
    )

    # 4. per supporting chunk, best path's score
    return (
        support.join(scored, [id_col, "path_id"])
        .groupBy(id_col, "chunk_id")
        .agg(F.round(F.max("final_score"), 6).alias("similarity"))
    )


def build_entity_adjacency(
    triples: DataFrame, max_connections: int = 20
) -> DataFrame:
    """Materialized per-entity top-k adjacency — the graph-serving
    index (the Spark analog of the reference's Neo4j relationship
    store, which serves `MATCH (e)-[r]-(x) ORDER BY r.strength LIMIT k`
    from an index rather than a scan, core/graph_db.py:343-425).

    One O(E) shuffle at build time produces (src, dst, strength, rk)
    with rk = rank of dst among src's edges by (strength desc, dst
    asc), bounded to ``max_connections`` rows per entity. Query-side
    expansion then joins its broadcast frontier against this bounded
    table instead of windowing the full edge frame per hop — at corpus
    scale that turns every expansion hop from an edge-frame scan into
    an index lookup. Persist with ``materialize.write_table(...,
    bucket_col='src')`` for partition-pruned point lookups.

    Valid for any expansion cap <= ``max_connections`` (the per-src
    rank order does not depend on the query); the build cap is attached
    as ``_graphrag_adj_cap`` so consumers can validate it. An index
    loaded back from disk loses the attribute — re-attach it with
    ``attach_adjacency_cap`` (the cap is part of the index contract,
    store it next to the table like the fulltext ``_meta``)."""
    edges = undirected_edges(triples)
    w = Window.partitionBy("src").orderBy(F.desc("strength"), "dst")
    out = (
        edges.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= max_connections)
    )
    out._graphrag_adj_cap = int(max_connections)  # type: ignore[attr-defined]
    return out


def attach_adjacency_cap(adjacency: DataFrame, max_connections: int) -> DataFrame:
    """Re-attach the build cap to an adjacency index loaded from
    storage (DataFrame attributes do not survive a write/read round
    trip). The cap is what ``expand_with_strength_decay`` validates —
    passing a larger value than the index was built with reintroduces
    the silent-truncation bug the check exists to prevent."""
    adjacency._graphrag_adj_cap = int(max_connections)  # type: ignore[attr-defined]
    return adjacency


def _validate_adjacency_cap(adjacency: DataFrame, max_entity_connections: int) -> None:
    """Raise when an adjacency index was built with a smaller per-entity
    cap than the expansion wants — each hop would be silently truncated
    (r4 ADVICE item; the cap is part of the index contract)."""
    adj_cap = getattr(adjacency, "_graphrag_adj_cap", None)
    if adj_cap is not None and adj_cap < max_entity_connections:
        raise ValueError(
            f"expand_with_strength_decay: adjacency index was built with "
            f"max_connections={adj_cap} < max_entity_connections="
            f"{max_entity_connections}; each hop would be silently "
            "truncated. Rebuild the index with a cap >= the expansion cap."
        )


def _decay_scores(
    triples: DataFrame,
    seeds_by_q: dict[str, list[str]],
    max_depth: int = 2,
    max_entity_connections: int = 20,
    threshold: float = 0.1,
    adjacency: DataFrame | None = None,
) -> dict[str, dict[str, float]]:
    """G6 strength-decay expansion (rag/retriever.py:256-407) for every
    query's seed set at once. Per depth d and query: follow each of the
    top ``max_entity_connections`` frontier entities (score desc, name)
    along its top ``max_entity_connections`` relationships (strength
    desc, dst), keep those with strength >= threshold, and score the
    reached entity ``max(existing, strength * 0.7^(d+1))``; newly
    reached entities form the next frontier. A query stops early once
    its scored set exceeds 3x the connection cap (retriever.py:330-344).

    The route is chosen once. Under the driver cap each hop's neighbor
    selection runs in pure Python over the cached adjacency — no Spark
    job. Past it, one distributed job per depth serves all active
    queries: the broadcast (query, frontier) frame joins ``adjacency``
    (a ``build_entity_adjacency`` index, already ranked per src) when
    given, else the edge frame under a (query, src)-partitioned rank
    window; the <= frontier x cap neighbor rows are collected. The
    score bookkeeping between depths is the same driver code for both.

    Returns {qid: {name: unrounded score}}."""
    if adjacency is not None:
        _validate_adjacency_cap(adjacency, max_entity_connections)
    cap = max_entity_connections
    adjd = _driver_graph_adjacency(triples)
    edges = None
    if adjd is not None:

        def neighbors(front):
            rels = []
            for q, src in front:
                ranked = sorted(adjd.get(src, ()), key=lambda e: (-e[1], e[0]))
                rels.extend((q, dst, s) for dst, s, _sc in ranked[:cap] if s >= threshold)
            return rels

    else:
        spark = triples.sparkSession
        if adjacency is None:
            # cached for the loop only: each depth re-reads the edge
            # frame, and the scores returned are literal
            edges = undirected_edges(triples).persist()
        w = Window.partitionBy("qid", "src").orderBy(F.desc("strength"), "dst")

        def neighbors(front):
            f = F.broadcast(literal_frame(spark, front, "qid string, src string"))
            if adjacency is not None:
                rels = adjacency.join(f, "src")
            else:
                rels = edges.join(f, "src").withColumn("rk", F.row_number().over(w))
            return (
                rels.filter((F.col("rk") <= cap) & (F.col("strength") >= threshold))
                .select("qid", "dst", "strength")
                .collect()
            )

    # the reference holds seeds in a dict/set — duplicates collapse
    scores = {q: {s: 1.0 for s in dict.fromkeys(seeds)} for q, seeds in seeds_by_q.items()}
    frontier = {q: dict(v) for q, v in scores.items()}
    for d in range(max_depth):
        front = [
            (q, name)
            for q, f in frontier.items()
            for name, _ in sorted(f.items(), key=lambda kv: (-kv[1], kv[0]))[:cap]
        ]
        if not front:
            break
        cand: dict[str, dict[str, float]] = {}
        for q, dst, s in neighbors(front):
            qc = cand.setdefault(q, {})
            if s > qc.get(dst, float("-inf")):
                qc[dst] = s
        decay = 0.7 ** (d + 1)
        for q in list(frontier):
            new: dict[str, float] = {}
            for name, s in cand.get(q, {}).items():
                cs = s * decay
                if name in scores[q]:
                    scores[q][name] = max(scores[q][name], cs)
                else:
                    new[name] = cs
            scores[q].update(new)
            frontier[q] = new
            if len(scores[q]) > 3 * cap:
                del frontier[q]
    if edges is not None:
        edges.unpersist()
    return scores


def expand_with_strength_decay(
    triples: DataFrame,
    seeds: list[str],
    max_depth: int = 2,
    max_entity_connections: int = 20,
    threshold: float = 0.1,
    adjacency: DataFrame | None = None,
) -> DataFrame:
    """G6 — strength-decay entity expansion (rag/retriever.py:256-407,
    settings defaults: max_entity_connections=20,
    expansion_similarity_threshold=0.1, max_expansion_depth=2):
    ``_decay_scores`` for one query, trimmed to the top 2x cap by score
    (retriever.py:330-344).

    Documented divergence: the reference caps the entities *processed*
    per depth in frontier insertion order (a latency guard in its
    online loop); this set-oriented version caps the frontier
    deterministically by (score desc, name asc). Returns (name, score).

    Pass ``adjacency`` (a ``build_entity_adjacency`` table with
    max_connections >= max_entity_connections) to serve each
    distributed hop from the materialized index — an index lookup per
    hop instead of an edge-frame window; results are identical
    (pytest-asserted). The constraint is VALIDATED, not just
    documented: an index built with a smaller cap would silently
    truncate each hop's candidate set, so a known-too-small
    ``_graphrag_adj_cap`` raises (disk-loaded indexes: re-attach the
    cap with ``attach_adjacency_cap``).

    The final round/order/limit stay Spark expressions over the literal
    scores, so both routes are bit-identical (kg_decay_expansion oracle
    + fast==distributed pytest)."""
    scores = _decay_scores(
        triples, {"": seeds}, max_depth, max_entity_connections, threshold, adjacency
    )[""]
    out = literal_frame(triples.sparkSession, sorted(scores.items()), "name string, score double")
    return (
        out.select("name", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), "name")
        .limit(2 * max_entity_connections)
    )


def _batch_decay_frame(
    triples: DataFrame,
    seeds_by_q: dict[str, list[str]],
    id_col: str,
    max_depth: int = 2,
    threshold: float = 0.1,
) -> DataFrame:
    """``expand_with_strength_decay`` for many queries (one
    ``_decay_scores`` call): (id_col, name, score) after each query's
    round -> (score desc, name) -> 2x-cap trim. Per query equal to the
    per-query operator (pytest-asserted)."""
    cap = 20
    scores = _decay_scores(triples, seeds_by_q, max_depth, cap, threshold)
    rows = [(q, n, s) for q, v in sorted(scores.items()) for n, s in sorted(v.items())]
    tw = Window.partitionBy(id_col).orderBy(F.desc("score"), "name")
    return (
        literal_frame(triples.sparkSession, rows, f"{id_col} string, name string, score double")
        .select(id_col, "name", F.round("score", 6).alias("score"))
        .withColumn("_rk", F.row_number().over(tw))
        .filter(F.col("_rk") <= 2 * cap)
        .drop("_rk")
    )


def hybrid_merge(
    chunk_results: DataFrame,
    entity_results: DataFrame,
    entity_fallback: float = 0.3,
    keys: list[str] | None = None,
) -> DataFrame:
    """J6 — hybrid retrieval merge (rag/retriever.py:725-762): full
    outer merge keyed by chunk_id; chunks found by both paths get
    ``min(1, (chunk_score + entity_score) * 0.8)`` and source
    'hybrid'; single-path chunks keep their own score (entity side
    falls back to ``entity_fallback`` when its score is null).

    Documented divergences from retriever.py:725-762 (deliberate):
    the reference never assigns ``hybrid_score`` to chunk_based-only
    entries, so they sort with an implicit 0.0 in its final ranking —
    here they keep their ``chunk_score`` (a chunk found only by the
    vector path still ranks by its vector similarity, which is the
    behavior a retrieval consumer wants). Likewise the reference's
    "allow up to 2x path_count when path results score high" widening
    (retriever.py:769-776) is not reproduced in ``hybrid_retrieval``;
    the slot budget from py_retrieval_split is applied as-is.

    Inputs: (chunk_id, similarity) frames from the vector path and the
    entity-expansion path. Returns (chunk_id, source, hybrid_score).
    ``keys`` generalizes the merge key — batch retrieval merges per
    (query_id, chunk_id) with identical per-key semantics.
    """
    keys = keys or ["chunk_id"]
    c = chunk_results.select(*keys, F.col("similarity").alias("chunk_score"))
    e = entity_results.select(*keys, F.col("similarity").alias("entity_score"))
    merged = c.join(e, keys, "full_outer")
    both = F.col("chunk_score").isNotNull() & F.col("entity_score").isNotNull()
    score = (
        F.when(
            both,
            F.least(
                F.lit(1.0),
                (F.coalesce("chunk_score", F.lit(0.0)) + F.coalesce("entity_score", F.lit(0.0)))
                * 0.8,
            ),
        )
        .when(F.col("chunk_score").isNotNull(), F.col("chunk_score"))
        .otherwise(F.coalesce("entity_score", F.lit(entity_fallback)))
    )
    source = (
        F.when(both, "hybrid")
        .when(F.col("chunk_score").isNotNull(), "chunk_based")
        .otherwise("entity_based")
    )
    return merged.select(
        *keys,
        source.alias("source"),
        F.round(score, 6).alias("hybrid_score"),
    ).orderBy(F.desc("hybrid_score"), *keys)


def hybrid_merge_3way(
    chunk_results: DataFrame,
    entity_results: DataFrame,
    path_results: DataFrame,
    entity_fallback: float = 0.3,
    path_fallback: float = 0.3,
    keys: list[str] | None = None,
) -> DataFrame:
    """J6 full 3-phase combine (rag/retriever.py:725-792): chunk +
    entity sides merge with the ``min(1,(a+b)*0.8)`` boost; path
    results then merge into whatever is present with
    ``min(1,(current+path)*0.7)`` (source 'hybrid_with_paths'); single-
    path chunks keep their own score."""
    keys = keys or ["chunk_id"]
    two = hybrid_merge(chunk_results, entity_results, entity_fallback, keys=keys)
    p = path_results.select(*keys, F.col("similarity").alias("path_score"))
    merged = two.join(p, keys, "full_outer")
    has_prev = F.col("hybrid_score").isNotNull()
    has_path = F.col("path_score").isNotNull()
    score = (
        F.when(has_prev & has_path,
               F.least(F.lit(1.0), (F.col("hybrid_score") + F.col("path_score")) * 0.7))
        .when(has_prev, F.col("hybrid_score"))
        .otherwise(F.coalesce("path_score", F.lit(path_fallback)))
    )
    source = (
        F.when(has_prev & has_path, F.lit("hybrid_with_paths"))
        .when(has_prev, F.col("source"))
        .otherwise(F.lit("path_based"))
    )
    return merged.select(
        *keys, source.alias("source"), F.round(score, 6).alias("hybrid_score")
    ).orderBy(F.desc("hybrid_score"), *keys)


class _RetrievalIndex(NamedTuple):
    """Driver copy of one (chunks, nodes, mentions) table set."""

    ids: np.ndarray  # chunk ids, sorted
    matrix: np.ndarray  # chunk embeddings, float64, row i = ids[i]
    norms: np.ndarray  # norm_col fold of each row
    row: dict  # chunk_id -> row of matrix
    by_chunk: dict  # chunk_id -> [(entity_id, name, importance)], one per mentions x nodes row
    by_name: dict  # name -> {chunk_id}, the same rows inverted
    emb: dict  # name -> [node embedding as float64], non-null embeddings only


def _driver_retrieval_index(chunks: DataFrame, nodes: DataFrame, mentions: DataFrame):
    """The ``_RetrievalIndex`` of a table set, or None when a table is
    over ``_DRIVER_BEAM_MAX_ROWS`` rows (LIMIT-guarded collects) or an
    embedding is null, ragged or holds a null (the DataFrame route keeps
    those semantics)."""
    from .similarity import embedding_matrix

    cap = _DRIVER_BEAM_MAX_ROWS

    def build():
        mat = embedding_matrix(chunks, "chunk_id", "embedding", cap)
        if mat is None:
            return None
        ment = (
            mentions.join(nodes.select("entity_id", "name", "importance"), "entity_id")
            .select("chunk_id", "entity_id", "name", "importance")
            .limit(cap + 1)
            .collect()
        )
        embs = nodes.select("name", "embedding").limit(cap + 1).collect()
        if len(ment) > cap or len(embs) > cap:
            return None
        by_chunk: dict[str, list] = {}
        by_name: dict[str, set] = {}
        for c, e, n, imp in ment:
            by_chunk.setdefault(c, []).append((e, n, imp))
            by_name.setdefault(n, set()).add(c)
        emb: dict[str, list] = {}
        for n, v in embs:
            if v is None:
                continue
            if any(x is None for x in v):
                return None
            emb.setdefault(n, []).append(np.asarray(v, dtype=np.float64))
        if len({len(v) for vs in emb.values() for v in vs} | {mat[1].shape[1]}) > 1:
            return None
        ids, M, nrm = mat
        row = {c: i for i, c in enumerate(ids)}
        return _RetrievalIndex(ids, M, nrm, row, by_chunk, by_name, emb)

    return driver_cached((chunks, nodes, mentions), "retrieval_index", build)


_ROUND_CTX = decimal.Context(prec=400)
_ROUND_Q = decimal.Decimal("1e-6")


def _round6(x):
    """``F.round(x, 6)`` on the driver. Spark rounds a double HALF_UP at
    the decimal ``Double.toString`` prints; ``repr`` prints the same
    shortest digits (property-tested against ``F.round``). NaN, +-inf
    and null pass through; -0.0 comes back as 0.0, like Spark."""
    if x is None or x != x or x in (math.inf, -math.inf):
        return x
    d = decimal.Decimal(repr(float(x)))
    return float(d.quantize(_ROUND_Q, rounding=decimal.ROUND_HALF_UP, context=_ROUND_CTX)) + 0.0


def _desc_key(v):
    """Sort key of a double under Spark's DESC order: NaN first, then
    larger values, null last."""
    if v is None:
        return (2, 0.0)
    if v != v:
        return (0, 0.0)
    return (1, -v)


def _max(a, b):
    """Spark ``max`` of two doubles: nulls ignored, NaN greatest."""
    if a is None or b is None:
        return b if a is None else a
    if a != a or b != b:
        return math.nan
    return a if a >= b else b


def _top(scores: dict, k: int) -> list[tuple]:
    """(key, score) pairs in (score desc, key) order, first ``k``."""
    return sorted(scores.items(), key=lambda kv: (_desc_key(kv[1]), kv[0]))[:k]


def _driver_path_side(index, triples, nodes, seeds, q, nq, raw, k):
    """``multi_hop_retrieval(seeds=...)``'s rows, first ``k``, from the
    driver index: beam paths with support (``_beam_paths``), the path
    embedding as the mean of its entities' embeddings (summed in path
    order), cosines folded like ``cosine_col``, final score
    0.6*path + 0.3*cos(q, path_emb) + 0.1*max cos(q, support chunk). Joins
    keep the DataFrame body's semantics: a path without any embedded
    entity or any stored support chunk is dropped, and every row of a
    scored path id lends its score to each of its support chunks."""
    from .similarity import query_cosine

    paths = [
        (">".join(path), path, _round6(ps), sorted(sup))
        for _q, _tail, path, ps, sup in _beam_paths(
            triples, nodes, {"": seeds}, max_hops=2, beam_size=8, with_support=True
        )
        if sup
    ]
    vecs: dict[str, list] = {}
    groups: dict[tuple, set] = {}
    for pid, path, ps, sup in paths:
        vs = vecs.setdefault(pid, [])
        for n in path:
            vs.extend(index.emb.get(n, ()))
        groups.setdefault((pid, ps), set()).update(sup)
    pids = [pid for pid, vs in vecs.items() if vs]
    pq = {}
    if pids:
        P = []
        for pid in pids:
            acc = np.zeros(index.matrix.shape[1])
            for v in vecs[pid]:
                acc = acc + v
            P.append(acc / len(vecs[pid]))
        P = np.array(P)
        pq = dict(zip(pids, query_cosine(P, q, nq).tolist()))
    scored: dict[str, list] = {}
    for (pid, ps), sup in groups.items():
        mc = None
        for c in sup:
            if c in index.row:
                mc = _max(mc, float(raw[index.row[c]]))
        if pid in pq and mc is not None:
            scored.setdefault(pid, []).append(0.6 * ps + 0.3 * pq[pid] + 0.1 * mc)
    best: dict[str, float] = {}
    for pid, _path, _ps, sup in paths:
        for fs in scored.get(pid, ()):
            for c in sup:
                best[c] = _max(best.get(c), fs)
    return _top({c: _round6(s) for c, s in best.items()}, k)


def _driver_hybrid(index, triples, nodes, qvec, split, top_k, expansion_threshold, adjacency):
    """``hybrid_retrieval``'s rows (chunk_id, source, hybrid_score) from
    the driver index: the chunk-side top-k with ``cosine_topk_query``'s
    fold arithmetic, the five seeds, the decay entity side, the path
    side and the 3-way merge, each step ordered, rounded and limited
    like the DataFrame body (``_round6`` for ``F.round``)."""
    from .similarity import query_cosine, query_norm

    q = np.asarray(qvec, dtype=np.float64)
    nq = query_norm(q)
    raw = query_cosine(index.matrix, q, nq, index.norms)

    # top max(chunk_count, 10) chunks by rounded similarity: round only
    # the candidates that can reach the k-th raw value (HALF_UP moves a
    # value by at most 5e-7)
    kmax = max(split["chunk_count"], 10)
    nan = np.isnan(raw)
    ranked = [(str(index.ids[i]), math.nan) for i in np.flatnonzero(nan)][:kmax]
    fin = np.flatnonzero(~nan)
    need = min(kmax - len(ranked), len(fin))
    if need > 0:
        kth = np.partition(raw[fin], len(fin) - need)[len(fin) - need]
        cand = fin[raw[fin] >= kth - 2e-6]
        ranked += _top({str(index.ids[i]): _round6(float(raw[i])) for i in cand}, need)
    chunk_side = dict(ranked[: split["chunk_count"]])

    seed_imp: dict[str, float] = {}
    for c, _s in ranked[:10]:
        for _e, n, imp in index.by_chunk.get(c, ()):
            seed_imp[n] = _max(seed_imp.get(n), imp)
    seeds = [n for n, _ in _top(seed_imp, 5)]

    entity_side: dict[str, float] = {}
    path_side: dict[str, float] = {}
    if seeds:
        scores = _decay_scores(triples, {"": seeds}, adjacency=adjacency)[""]
        best: dict[str, float] = {}
        for n, sc in _top({n: _round6(v) for n, v in scores.items()}, 40):
            for c in index.by_name.get(n, ()):
                best[c] = _max(best.get(c), sc)
        entity_side = dict(
            _top({c: v for c, v in best.items() if v >= expansion_threshold}, split["entity_count"])
        )
        if split["path_count"] > 0:
            path_side = dict(
                _driver_path_side(index, triples, nodes, seeds, q, nq, raw, split["path_count"])
            )

    # the hybrid_merge_3way expressions; min(1.0, x) is F.least(1.0, x),
    # NaN included
    two = {}
    for c in chunk_side.keys() | entity_side.keys():
        a, b = chunk_side.get(c), entity_side.get(c)
        if a is not None and b is not None:
            two[c] = ("hybrid", _round6(min(1.0, (a + b) * 0.8)))
        else:
            two[c] = ("chunk_based", _round6(a)) if a is not None else ("entity_based", _round6(b))
    merged = {}
    for c in two.keys() | path_side.keys():
        prev, p = two.get(c), path_side.get(c)
        if prev is not None and p is not None:
            merged[c] = ("hybrid_with_paths", _round6(min(1.0, (prev[1] + p) * 0.7)))
        else:
            merged[c] = (prev[0], _round6(prev[1])) if prev is not None else ("path_based", _round6(p))
    order = sorted(merged, key=lambda c: (_desc_key(merged[c][1]), c))[:top_k]
    return [(c, *merged[c]) for c in order]


def hybrid_retrieval(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_text: str,
    top_k: int = 10,
    expansion_threshold: float = 0.1,
    adjacency: DataFrame | None = None,
    chunk_index=None,
) -> DataFrame:
    """The reference's full hybrid retrieval (rag/retriever.py:600-800)
    end to end, LLM-free: analyze the query (type / multi-hop
    recommendation -> per-side slot budget), run the three retrieval
    modes over the stored tables, and combine with the boost formulas.

    - chunk side: vector top-k with the deterministic text encoder;
    - entity side: strength-decay expansion (G6) from the vector-seeded
      top entities, chunks scored by their best contained entity;
    - path side: multi-hop reasoning retrieval (beam paths with
      supporting-chunk provenance) when recommended.

    Pass ``chunk_index`` (a ``similarity.IvfIndex`` over the chunk
    embeddings, id_col='chunk_id') to serve the chunk-side top-k from
    the ANN index instead of a brute-force corpus scan — the serving
    analog of the ``adjacency=`` seam (reference: Neo4j's vector index,
    core/graph_db.py:497-514). At ``n_probe = n_centroids`` results are
    identical to the scan (pytest-asserted); the default partial probe
    trades recall for a 1/n_centroids-per-probe scan cost — at 100 TB
    the difference between reading the corpus per query and reading a
    few cells.

    Route: without ``chunk_index``, and while chunks, nodes and
    mentions fit ``_DRIVER_BEAM_MAX_ROWS`` rows, every step runs on the
    driver over the cached ``_driver_retrieval_index`` (no Spark job
    once the index, adjacency and importance maps are cached) and the
    rows come back as a literal frame, identical to the DataFrame body
    (pytest-asserted with the cap forced to 0). Otherwise the DataFrame
    body below runs.

    Returns (chunk_id, source, hybrid_score) limited to ``top_k``.
    """
    from .embeddings import embed_texts_np
    from .query_analysis import py_analyze_query, py_retrieval_split
    from .similarity import cosine_topk_query

    qvec = [float(x) for x in embed_texts_np([query_text])[0]]
    analysis = py_analyze_query(query_text)
    split = py_retrieval_split(
        analysis["query_type"], analysis["multi_hop_recommended"], top_k
    )
    if chunk_index is None:
        index = _driver_retrieval_index(chunks, nodes, mentions)
        if index is not None and len(qvec) == index.matrix.shape[1]:
            rows = _driver_hybrid(
                index, triples, nodes, qvec, split, top_k, expansion_threshold, adjacency
            )
            return literal_frame(
                chunks.sparkSession, rows, "chunk_id string, source string, hybrid_score double"
            )

    # over the cap: ONE corpus-scored scan serves both consumers (r3 VERDICT item 6):
    # the chunk side needs the top split["chunk_count"], the entity
    # seeding needs the top 10 — take max(k) once and driver-materialize
    # the <=12 rows, so the seed broadcast below never re-executes the
    # scan subtree (at 100 TB a second full cosine pass per query is
    # the difference between one and two corpus reads)
    kmax = max(split["chunk_count"], 10)
    if chunk_index is not None:
        _check_chunk_index(chunk_index)
        top_q = chunk_index.topk(qvec, k=kmax)
    else:
        top_q = cosine_topk_query(chunks, qvec, k=kmax, id_col="chunk_id")
    scored_top = literal_frame(chunks.sparkSession, top_q.collect(), top_q.schema)
    chunk_side = scored_top.orderBy(F.desc("similarity"), "chunk_id").limit(
        split["chunk_count"]
    )
    top_chunks = (
        scored_top.orderBy(F.desc("similarity"), "chunk_id").limit(10).select("chunk_id")
    )
    # seeds: the top-5 entities (by importance) of the top-10 chunks,
    # collected — the beam and decay walks both start from the list
    seeds = [
        r["name"]
        for r in mentions.join(F.broadcast(top_chunks), "chunk_id")
        .join(nodes.select("entity_id", "name", "importance"), "entity_id")
        .groupBy("name")
        .agg(F.max("importance").alias("importance"))
        .orderBy(F.desc("importance"), "name")
        .limit(5)
        .collect()
    ]
    if seeds:
        exp = expand_with_strength_decay(triples, seeds, adjacency=adjacency)
        entity_side = (
            mentions.join(nodes.select("entity_id", "name"), "entity_id")
            .join(exp, "name")
            .groupBy("chunk_id")
            .agg(F.max("score").alias("similarity"))
            .filter(F.col("similarity") >= expansion_threshold)
            .orderBy(F.desc("similarity"), "chunk_id")
            .limit(split["entity_count"])
        )
    else:
        entity_side = literal_frame(
            chunks.sparkSession, [], "chunk_id string, similarity double"
        )

    if split["path_count"] > 0:
        path_side = multi_hop_retrieval(
            chunks, nodes, mentions, triples, qvec,
            top_chunks=top_chunks, seeds=seeds,
        ).limit(split["path_count"])
    else:
        path_side = literal_frame(
            chunks.sparkSession, [], "chunk_id string, similarity double"
        )

    return hybrid_merge_3way(chunk_side, entity_side, path_side).limit(top_k)


def fulltext_search(chunks: DataFrame, query: str, top_k: int = 10) -> DataFrame:
    """T7 (core/graph_db.py:1084-1110): term-frequency ranked chunk
    search. Each query term is counted with regexp_count (word
    boundaries); score = sum of term frequencies, length-normalized.

    TEST-SCALE PATH: this is a full corpus scan PER QUERY — fine as a
    one-off batch filter, a scale-killer as a query serving path (at
    100 TB every search re-reads every chunk). The scale-safe shape is
    the materialized inverted index below (``build_fulltext_postings``
    once per corpus + ``fulltext_search_indexed`` per query, touching
    only the queried terms' posting lists) — the Spark analog of the
    reference's Neo4j fulltext INDEX (core/graph_db.py:1084-1110 runs
    against ``chunk_fulltext``, an index, not a scan)."""
    terms = [t.lower() for t in query.split() if t.strip()]
    score = F.lit(0.0)
    for t in terms:
        pat = r"(?i)\b" + "".join("\\" + c if not c.isalnum() else c for c in t) + r"\b"
        score = score + F.regexp_count(F.col("content"), F.lit(pat))
    scored = chunks.select(
        "chunk_id",
        "doc_id",
        (score / F.greatest(F.length("content"), F.lit(1)) * 1000).alias("raw"),
    ).withColumn("score", F.round("raw", 6)).drop("raw")
    return scored.filter(F.col("score") > 0).orderBy(F.desc("score"), "chunk_id").limit(top_k)


def build_fulltext_postings(chunks: DataFrame, text_col: str = "content") -> DataFrame:
    """T7 at scale — materialize the inverted index ONCE per corpus:
    (term, chunk_id, doc_id, chunk_len, tf). Tokenization is the native
    lower+split on non-word chars ([^a-z0-9_]+ — the complement of the
    regex ``\\w`` class ``fulltext_search`` bounds terms with, so for
    word-shaped terms both paths count identical occurrences); tf
    aggregates with map-side partial combine.

    Storage guidance (the part that makes queries index-shaped): write
    ``.repartition("term").sortWithinPartitions("term").write.
    partitionBy(<term-prefix bucket>)`` or bucketBy(term) on a real
    catalog — each query then reads only its terms' posting lists
    instead of the corpus. Index size is O(total tokens), built with
    one shuffle."""
    toks = chunks.select(
        "chunk_id",
        "doc_id",
        F.length(text_col).alias("chunk_len"),
        F.explode(F.split(F.lower(F.col(text_col)), r"[^a-z0-9_]+")).alias("term"),
    ).filter(F.col("term") != "")
    return toks.groupBy("term", "chunk_id", "doc_id", "chunk_len").agg(
        F.count("*").alias("tf")
    )


N_TERM_BUCKETS = 64  # term-hash partition fan-out of the stored index


def write_fulltext_index(postings: DataFrame, path: str, n_buckets: int = N_TERM_BUCKETS) -> None:
    """Persist the inverted index partitioned by a term-hash bucket
    (``tbucket=<b>/`` dirs): a query computes its terms' buckets on the
    driver and the parquet reader prunes every other partition from the
    file listing, so per-query scan cost is
    O(corpus_postings * |query terms| / n_buckets) instead of O(corpus).
    Same layout trick as the IVF index (similarity.ivf_build_index)."""
    out = postings.withColumn(
        "tbucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    # repartition by bucket: one writer task per partition dir, posting
    # lists for a term colocated in one file
    out.repartition("tbucket").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).partitionBy("tbucket").parquet(path)
    # persist the bucket count WITH the index (underscore-prefixed dirs
    # are invisible to the parquet reader, like _SUCCESS) so readers
    # can never prune with a mismatched modulus
    literal_frame(
        postings.sparkSession, [(int(n_buckets),)], "n_buckets int"
    ).coalesce(1).write.mode("overwrite").json(path + "/_meta")
    _FULLTEXT_META_CACHE[path] = int(n_buckets)  # rebuilt in-process: refresh


# modulus cache for persisted fulltext indexes: the bucket count is
# immutable for an index's lifetime (incremental_fulltext_index raises
# on any restart that tries to change it), so one _meta read per path
# per process suffices — without this every query paid a spark.read.
# json(...).first() job before touching the index
_FULLTEXT_META_CACHE: dict[str, int] = {}


def fulltext_search_index_path(spark, path: str, query: str, top_k: int = 10) -> DataFrame:
    """Index-backed T7 over a PERSISTED index: scans only the queried
    terms' ``tbucket`` partitions (verify with .explain — the scan's
    partition filters carry ``tbucket IN (...)``), then the same
    broadcast-terms join + rollup as ``fulltext_search_indexed``. The
    pruning modulus comes from the index's own ``_meta``, never a
    caller guess (read once per path per process — the modulus is
    immutable for the index's lifetime)."""
    n_buckets = _FULLTEXT_META_CACHE.get(path)
    if n_buckets is None:
        n_buckets = int(spark.read.json(path + "/_meta").first()["n_buckets"])
        _FULLTEXT_META_CACHE[path] = n_buckets
    terms = sorted({t.lower() for t in query.split() if t.strip()})
    # bucket assignment must match the writer's xxhash64 exactly — a
    # tiny driver-side Spark job over the handful of query terms
    spark_buckets = [
        r["b"]
        for r in literal_frame(spark, [(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .distinct()
        .collect()
    ]
    pruned = spark.read.parquet(path).filter(F.col("tbucket").isin(spark_buckets))
    # batch_id appears as an extra partition column when the index is
    # maintained incrementally (streaming.incremental_fulltext_index's
    # batch_id=N/tbucket=B layout); drop() ignores it when absent
    return fulltext_search_indexed(
        pruned.drop("tbucket", "batch_id"), query, top_k=top_k
    )


def fulltext_search_indexed(postings: DataFrame, query: str, top_k: int = 10) -> DataFrame:
    """Index-backed T7: same scoring as ``fulltext_search`` (sum of
    per-term frequencies — query-term multiplicity included — divided
    by chunk length, x1000, rounded), but the only data touched is the
    queried terms' posting lists (broadcast semi-join on a handful of
    terms -> partition-/file-pruned scan when the postings table is
    laid out by term). Terms must be word-shaped (``\\w``) — the
    tokenizer cannot represent terms containing separators; the scan
    path handles arbitrary strings at test scale."""
    from collections import Counter

    spark = postings.sparkSession
    terms = Counter(t.lower() for t in query.split() if t.strip())
    tdf = literal_frame(
        spark, [(t, float(m)) for t, m in sorted(terms.items())], "term string, mult double"
    )
    return (
        postings.join(F.broadcast(tdf), "term")
        .groupBy("chunk_id", "doc_id", "chunk_len")
        .agg(F.sum(F.col("tf") * F.col("mult")).alias("hits"))
        .select(
            "chunk_id",
            "doc_id",
            F.round(
                F.col("hits") / F.greatest(F.col("chunk_len"), F.lit(1)) * 1000, 6
            ).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "chunk_id")
        .limit(top_k)
    )


def entity_fulltext_search(nodes: DataFrame, query: str, top_k: int = 5) -> DataFrame:
    """entity_similarity_search analog (core/graph_db.py:1084-1110):
    ranked entity lookup for a query over (name, description). The
    reference scores with a Lucene fulltext index (BM25, engine-
    specific); the deterministic analog here is the repo's T7 scoring —
    summed word-boundary term frequency over ``name || ' ' ||
    description``, length-normalized x1000 — a documented divergence on
    the score function, same contract (query -> ranked entities).
    Serving shape at scale: build_fulltext_postings over the same
    concatenated text, exactly like chunk fulltext."""
    terms = [t.lower() for t in query.split() if t.strip()]
    text = F.concat_ws(" ", "name", "description")
    score = F.lit(0.0)
    for t in terms:
        pat = r"(?i)\b" + "".join("\\" + c if not c.isalnum() else c for c in t) + r"\b"
        score = score + F.regexp_count(text, F.lit(pat))
    return (
        nodes.select(
            "entity_id", "name", "entity_type", "importance",
            F.round(score / F.greatest(F.length(text), F.lit(1)) * 1000, 6).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "name")
        .limit(top_k)
    )


def entity_based_retrieval(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    query_text: str,
    top_k: int = 5,
    min_similarity: float = 0.1,
) -> DataFrame:
    """ENTITY_ONLY retrieval (rag/retriever.py:150-255): fulltext-match
    entities for the query, take the chunks containing them, score each
    candidate chunk by cosine(query vector, stored chunk vector), drop
    those under ``min_retrieval_similarity`` (settings.py:95-97 default
    0.1), return the top-k by similarity.

    The entity match is a broadcast semijoin (a handful of entity ids)
    into the mentions table, so the only corpus-sized work is scoring
    the candidate chunks — no full-corpus cosine pass."""
    from .embeddings import embed_texts_np
    from .similarity import cosine_col

    qvec = [float(x) for x in embed_texts_np([query_text])[0]]
    ents = entity_fulltext_search(nodes, query_text, top_k).select("entity_id")
    cand = (
        mentions.join(F.broadcast(ents), "entity_id")
        .select("chunk_id")
        .distinct()
    )
    q = F.array(*[F.lit(x) for x in qvec])
    return (
        chunks.join(cand, "chunk_id")
        .select(
            "chunk_id",
            F.round(
                cosine_col(F.col("embedding").cast("array<double>"), q), 6
            ).alias("similarity"),
        )
        .filter(F.col("similarity") >= min_similarity)
        .orderBy(F.desc("similarity"), "chunk_id")
        .limit(top_k)
    )


_MODE_MAP = {
    "simple": "chunk_only",
    "chunk_only": "chunk_only",
    "entity_only": "entity_only",
    "hybrid": "hybrid",
    "graph_enhanced": "hybrid",  # legacy alias (retrieval.py:99)
    "auto": "hybrid",  # entity extraction is always on in this engine
}


def _check_chunk_index(chunk_index) -> None:
    """The serving seams join index hits back to mentions/chunks by
    chunk_id — an index keyed on anything else would silently return
    zero joins downstream, so reject it loudly."""
    if chunk_index.id_col != "chunk_id":
        raise ValueError(
            "chunk_index must be an IvfIndex over the chunk embeddings "
            f"(id_col='chunk_id'); got id_col={chunk_index.id_col!r}"
        )


def batch_probe_pairs(chunk_index, qvecs: DataFrame, id_col: str = "query_id", n_probe: int | None = None) -> DataFrame:
    """(query_id, cluster) — the centroid cells each query probes:
    rank cells per query with a query-scale cross join against the
    broadcast n_centroids-row centroid frame (no driver round trip),
    window to the top ``n_probe`` per query. Deterministic ties broken
    by cluster id. ``qvecs`` must carry (id_col, qvec)."""
    from .similarity import dot_col

    spark = qvecs.sparkSession
    npb = int(n_probe or chunk_index.n_probe)
    cents = literal_frame(
        spark, [(int(i), [float(x) for x in c]) for i, c in enumerate(chunk_index.centroids)],
        "cluster int, cvec array<double>",
    )
    pw = Window.partitionBy(id_col).orderBy(F.desc("_cscore"), "cluster")
    return (
        qvecs.select(id_col, "qvec")
        .crossJoin(F.broadcast(cents))
        .select(id_col, "cluster", dot_col(F.col("qvec"), F.col("cvec")).alias("_cscore"))
        .withColumn("_pk", F.row_number().over(pw))
        .filter(F.col("_pk") <= npb)
        .select(id_col, "cluster")
    )


def _indexed_query_scores(chunk_index, qvecs: DataFrame, id_col: str, n_probe: int | None = None) -> DataFrame:
    """(query_id, chunk_id, score) for a WHOLE query table through the
    IVF index: compute each query's probe cells (``batch_probe_pairs``)
    and score exact cosine ONLY over (probed cell) x (probing query)
    pairs via a broadcast join on ``cluster``. At full probe every
    (chunk, query) pair is scored exactly once — identical to the
    brute-force cross join (pytest-asserted); at partial probe each
    query touches n_probe/n_centroids of the corpus instead of all of
    it.

    ``qvecs`` must carry (id_col, qvec); returns one row per scored
    pair, un-topped (callers apply their own per-query k window)."""
    from .similarity import cosine_col

    pairs = batch_probe_pairs(chunk_index, qvecs, id_col, n_probe)
    vec = F.col(chunk_index.vec_col).cast("array<double>")
    return (
        chunk_index.cells.join(F.broadcast(pairs), "cluster")
        .join(F.broadcast(qvecs.select(id_col, "qvec")), id_col)
        .select(
            id_col,
            F.col(chunk_index.id_col).alias("chunk_id"),
            F.round(cosine_col(vec, F.col("qvec")), 6).alias("score"),
        )
    )


def adjusted_top_k(top_k: int, analysis: dict) -> int:
    """The dispatcher's complexity-based widening (rag/nodes/
    retrieval.py:58-66): complex or multi-source queries get +3 capped
    at 10; comparative queries +5 capped at 12; the first matching rule
    wins (the reference's elif chain)."""
    if analysis.get("complexity") == "complex" or analysis.get(
        "requires_multiple_sources"
    ):
        return min(top_k + 3, 10)
    if analysis.get("query_type") == "comparative":
        return min(top_k + 5, 12)
    return top_k


def retrieve(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_text: str,
    mode: str = "hybrid",
    top_k: int = 5,
    adjacency: DataFrame | None = None,
    chunk_index=None,
) -> DataFrame:
    """The retrieval dispatcher (rag/retriever.py:825-874 +
    rag/nodes/retrieval.py:18-135): analyze the query, widen top_k by
    complexity, map the requested mode (simple/chunk_only ->
    chunk-only; entity_only; hybrid/graph_enhanced/auto -> hybrid),
    and run the corresponding strategy over the stored tables. Unknown
    modes return an empty frame like the reference's error path.

    ``chunk_index`` (similarity.IvfIndex over the chunk embeddings)
    routes the vector top-k through the ANN index instead of a corpus
    scan — see ``hybrid_retrieval``.

    Returns (chunk_id, source, score) — chunk-only rows carry source
    'chunk_based', entity-only 'entity_based', hybrid rows their merge
    source."""
    from .embeddings import embed_texts_np
    from .query_analysis import py_analyze_query
    from .similarity import cosine_topk_query

    analysis = py_analyze_query(query_text)
    k = adjusted_top_k(top_k, analysis)
    resolved = _MODE_MAP.get(mode)
    if resolved is None:
        return literal_frame(
            chunks.sparkSession, [], "chunk_id string, source string, score double"
        )
    if resolved == "chunk_only":
        qvec = [float(x) for x in embed_texts_np([query_text])[0]]
        if chunk_index is not None:
            _check_chunk_index(chunk_index)
            top = chunk_index.topk(qvec, k=k)
        else:
            top = cosine_topk_query(chunks, qvec, k=k, id_col="chunk_id")
        return top.select(
            "chunk_id", F.lit("chunk_based").alias("source"),
            F.col("similarity").alias("score"),
        )
    if resolved == "entity_only":
        return entity_based_retrieval(
            chunks, nodes, mentions, query_text, top_k=k
        ).select(
            "chunk_id", F.lit("entity_based").alias("source"),
            F.col("similarity").alias("score"),
        )
    return hybrid_retrieval(
        chunks, nodes, mentions, triples, query_text, top_k=k,
        adjacency=adjacency, chunk_index=chunk_index,
    ).select("chunk_id", "source", F.col("hybrid_score").alias("score"))


def batch_retrieve_chunks(
    chunks: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    id_col: str = "query_id",
    query_col: str = "query",
    chunk_index=None,
    n_probe: int | None = None,
) -> DataFrame:
    """Set-oriented multi-query retrieval (r3 VERDICT item 7): the
    chunk-only dispatcher route for a WHOLE query table in one job —
    the serving shape for a 10k-query evaluation batch, where the
    per-query ``retrieve`` loop would be driver-bound (one analyze +
    embed + scan round-trip per query).

    Per query, output rows equal ``retrieve(mode='chunk_only')``
    exactly (pytest-asserted): analysis runs as native columns
    (query_analysis.analyze_queries), complexity widening as the same
    first-match-wins rule as ``adjusted_top_k``, query embedding in one
    Arrow pass, and scoring as ONE broadcast cross join — each chunk
    partition scores every query vector in place, so the corpus is
    read once for the whole batch instead of once per query; per-query
    top-k is a window over (query_id, -similarity, chunk_id).

    ``chunk_index`` (similarity.IvfIndex over the chunk embeddings)
    replaces the full cross join with the probe-pruned scoring of
    ``_indexed_query_scores``: each query scores only its ``n_probe``
    nearest cells — the batch still reads each probed cell once for
    all its probing queries, but skips the rest of the corpus
    entirely. Identical output at full probe (pytest-asserted).

    Returns (query_id, chunk_id, source, score)."""
    from .embeddings import EMBED_DIM, _embed_df
    from .query_analysis import analyze_queries
    from .similarity import cosine_col

    meta = analyze_queries(queries, query_col)
    k_col = (
        F.when(
            (F.col("complexity") == "complex") | F.col("requires_multiple_sources"),
            F.least(F.lit(top_k + 3), F.lit(10)),
        )
        .when(F.col("query_type") == "comparative", F.least(F.lit(top_k + 5), F.lit(12)))
        .otherwise(F.lit(top_k))
    )
    qk = meta.select(id_col, k_col.alias("k"))
    qvecs = _embed_df(queries, id_col, query_col, EMBED_DIM).withColumnRenamed(
        "embedding", "qvec"
    )
    if chunk_index is not None:
        _check_chunk_index(chunk_index)
        scored = _indexed_query_scores(chunk_index, qvecs, id_col, n_probe).join(
            F.broadcast(qk), id_col
        )
    else:
        qside = F.broadcast(qvecs.join(qk, id_col))
        scored = chunks.crossJoin(qside).select(
            id_col,
            "chunk_id",
            "k",
            F.round(
                cosine_col(F.col("embedding").cast("array<double>"), F.col("qvec")), 6
            ).alias("score"),
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= F.col("k"))
        .select(id_col, "chunk_id", F.lit("chunk_based").alias("source"), "score")
    )


def batch_retrieve_entities(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    min_similarity: float = 0.1,
    id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Set-oriented ENTITY_ONLY retrieval for a whole query table —
    the batch twin of ``retrieve(mode='entity_only')``, per-query
    identical output (pytest-asserted).

    Shape: ONE entity-scoring pass (entities x query terms — the same
    total regexp work as the per-query loop, but one job instead of
    one driver round-trip per query), per-query entity top-k window,
    one mentions semijoin for all queries' candidate chunks, one
    cosine pass over the (query, candidate-chunk) pairs. The query
    table is collected to build term patterns (queries are
    driver-scale by definition — they arrive from a client), and the
    per-query widened k is computed with the same first-match-wins
    rule as ``adjusted_top_k``.

    Returns (query_id, chunk_id, source, score)."""
    from .embeddings import EMBED_DIM, _embed_df
    from .query_analysis import analyze_queries
    from .similarity import cosine_col

    spark = queries.sparkSession
    meta = analyze_queries(queries, query_col)
    k_col = (
        F.when(
            (F.col("complexity") == "complex") | F.col("requires_multiple_sources"),
            F.least(F.lit(top_k + 3), F.lit(10)),
        )
        .when(F.col("query_type") == "comparative", F.least(F.lit(top_k + 5), F.lit(12)))
        .otherwise(F.lit(top_k))
    )
    qk = meta.select(id_col, k_col.alias("k"))

    # term patterns built driver-side: the word-boundary escaping is
    # Python-charclass semantics, identical to entity_fulltext_search
    qrows = queries.select(id_col, query_col).collect()
    term_rows = []
    for r in qrows:
        for t in (r[query_col] or "").split():
            t = t.lower()
            if not t.strip():
                continue
            pat = r"(?i)\b" + "".join("\\" + c if not c.isalnum() else c for c in t) + r"\b"
            term_rows.append((r[id_col], pat))
    if not term_rows:
        return literal_frame(
            spark, [], f"{id_col} string, chunk_id string, source string, score double"
        )
    qterms = literal_frame(spark, term_rows, f"{id_col} string, pat string")

    text = F.concat_ws(" ", "name", "description")
    ent_scored = (
        nodes.select("entity_id", "name", text.alias("_t"))
        .crossJoin(F.broadcast(qterms))
        .select(
            id_col, "entity_id", "name", "_t",
            F.regexp_count("_t", F.col("pat")).alias("cnt"),
        )
        .groupBy(id_col, "entity_id", "name")
        .agg(F.sum("cnt").alias("cnt"), F.first(F.length("_t")).alias("tlen"))
        .select(
            id_col, "entity_id", "name",
            F.round(F.col("cnt") / F.greatest("tlen", F.lit(1)) * 1000, 6).alias("escore"),
        )
        .filter(F.col("escore") > 0)
    )
    ew = Window.partitionBy(id_col).orderBy(F.desc("escore"), "name")
    ents = (
        ent_scored.withColumn("_rk", F.row_number().over(ew))
        .join(F.broadcast(qk), id_col)
        .filter(F.col("_rk") <= F.col("k"))
        .select(id_col, "entity_id", "k")
    )
    cand = (
        mentions.join(F.broadcast(ents), "entity_id")
        .select(id_col, "chunk_id", "k")
        .distinct()
    )
    qvecs = _embed_df(queries, id_col, query_col, EMBED_DIM).withColumnRenamed(
        "embedding", "qvec"
    )
    scored = (
        chunks.join(cand, "chunk_id")
        .join(F.broadcast(qvecs), id_col)
        .select(
            id_col, "chunk_id", "k",
            F.round(
                cosine_col(F.col("embedding").cast("array<double>"), F.col("qvec")), 6
            ).alias("score"),
        )
        .filter(F.col("score") >= min_similarity)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("k"))
        .select(id_col, "chunk_id", F.lit("entity_based").alias("source"), "score")
    )


def batch_retrieve(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    queries: DataFrame,
    mode: str = "hybrid",
    top_k: int = 5,
    id_col: str = "query_id",
    query_col: str = "query",
    chunk_index=None,
) -> DataFrame:
    """Batch twin of the ``retrieve`` dispatcher: route a whole query
    table through the mode-mapped set-oriented strategy
    (chunk_only/simple -> batch_retrieve_chunks; entity_only ->
    batch_retrieve_entities; hybrid/graph_enhanced/auto ->
    batch_retrieve_hybrid). Unknown modes return an empty frame like
    the reference's error path. ``chunk_index`` threads the IVF index
    into the vector-scoring strategies (entity_only does no vector
    corpus scan, so it ignores the index). Returns (query_id,
    chunk_id, source, score) — per query identical to
    ``retrieve(mode=...)``."""
    resolved = _MODE_MAP.get(mode)
    if resolved is None:
        return literal_frame(
            chunks.sparkSession, [], f"{id_col} string, chunk_id string, source string, score double"
        )
    if resolved == "chunk_only":
        return batch_retrieve_chunks(
            chunks, queries, top_k=top_k, id_col=id_col, query_col=query_col,
            chunk_index=chunk_index,
        )
    if resolved == "entity_only":
        return batch_retrieve_entities(
            chunks, nodes, mentions, queries, top_k=top_k,
            id_col=id_col, query_col=query_col,
        )
    return batch_retrieve_hybrid(
        chunks, nodes, mentions, triples, queries, top_k=top_k,
        id_col=id_col, query_col=query_col, chunk_index=chunk_index,
    )


def batch_retrieve_hybrid(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    expansion_threshold: float = 0.1,
    id_col: str = "query_id",
    query_col: str = "query",
    chunk_index=None,
    n_probe: int | None = None,
) -> DataFrame:
    """Set-oriented HYBRID retrieval for a whole query table — the
    batch twin of ``retrieve(mode='hybrid')``, per-query identical
    output (pytest-asserted). ``chunk_index`` routes the one scored
    scan through the IVF index (``_indexed_query_scores``) — probed
    cells only instead of the whole corpus; identical at full probe.

    Set-oriented stages (one job each for ALL queries): complexity
    widening + per-query slot split as columns; one query-embedding
    Arrow pass; ONE broadcast cross join for every query's scored
    chunk scan; one seeds job; the multi-query decay expansion
    (``_decay_scores``); one entity-side rollup; the
    (query_id, chunk_id)-keyed 3-way merge. The multi-hop PATH side
    runs HOP-BATCHED over all multi-hop-recommended queries' seeds at
    once (``batch_multi_hop_retrieval`` — at most one edge-join job per
    hop for the whole batch, not one beam loop per query); factual/simple
    batches never pay it.

    Returns (query_id, chunk_id, source, hybrid_score)."""
    from .embeddings import EMBED_DIM, _embed_df
    from .query_analysis import (
        HYBRID_CHUNK_WEIGHT,
        HYBRID_PATH_WEIGHT,
        analyze_queries,
    )
    from .similarity import cosine_col

    spark = queries.sparkSession
    meta = analyze_queries(queries, query_col)
    kc = (
        F.when(
            (F.col("complexity") == "complex") | F.col("requires_multiple_sources"),
            F.least(F.lit(top_k + 3), F.lit(10)),
        )
        .when(F.col("query_type") == "comparative", F.least(F.lit(top_k + 5), F.lit(12)))
        .otherwise(F.lit(top_k))
    ).cast("int")
    # retrieval_split (retriever.py:639-686) with the PER-QUERY widened
    # k (the Spark retrieval_split takes a constant top_k; hybrid is
    # called with the widened value, so the split must use it too)
    qt = F.col("query_type")
    cw, bpw = float(HYBRID_CHUNK_WEIGHT), float(HYBRID_PATH_WEIGHT)
    pw = (
        F.when(qt == "comparative", F.least(F.lit(0.8), F.lit(bpw) * 1.3))
        .when(qt == "analytical", F.least(F.lit(0.7), F.lit(bpw) * 1.1))
        .otherwise(F.greatest(F.lit(0.2), F.lit(bpw) * 0.7))
    )
    use_mh = F.col("multi_hop_recommended")
    remaining = 1.0 - pw
    k = kc.cast("double")
    chunk_plain = F.greatest(F.lit(1), F.floor(k * cw).cast("int"))
    chunk_count = F.when(
        use_mh, F.greatest(F.lit(1), F.floor(k * cw * remaining).cast("int"))
    ).otherwise(chunk_plain)
    entity_count = F.when(
        use_mh, F.greatest(F.lit(1), F.floor(k * (1 - cw) * remaining).cast("int"))
    ).otherwise(F.greatest(F.lit(1), kc - chunk_plain))
    path_mh = (
        F.when(qt == "comparative", F.greatest(F.floor(k * pw).cast("int"), F.floor(kc / 2).cast("int")))
        .when(qt == "analytical", F.greatest(F.floor(k * pw).cast("int"), F.floor(kc / 3).cast("int")))
        .otherwise(F.greatest(F.lit(1), F.floor(k * pw).cast("int")))
    )
    path_count = F.when(use_mh, path_mh).otherwise(F.lit(0)).cast("int")
    qmeta = {
        r[id_col]: r
        for r in meta.select(
            id_col,
            F.col(query_col).alias("_q"),
            kc.alias("k"),
            chunk_count.cast("int").alias("chunk_count"),
            entity_count.cast("int").alias("entity_count"),
            path_count.alias("path_count"),
        ).collect()
    }
    if not qmeta:
        # column name must match the non-empty path's final select
        # (which aliases hybrid_score AS score) — a consumer selecting
        # 'score' on an empty batch must not hit an AnalysisException
        return literal_frame(
            spark, [], f"{id_col} string, chunk_id string, source string, score double"
        )

    # one scored scan for every query; per-query top max(chunk_count, 10)
    qvecs = _embed_df(queries, id_col, query_col, EMBED_DIM).withColumnRenamed(
        "embedding", "qvec"
    )
    kmax_rows = [(q, max(m["chunk_count"], 10)) for q, m in qmeta.items()]
    kmaxdf = literal_frame(spark, kmax_rows, f"{id_col} string, kmax int")
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
    if chunk_index is not None:
        _check_chunk_index(chunk_index)
        scored_all = _indexed_query_scores(chunk_index, qvecs, id_col, n_probe).join(
            F.broadcast(kmaxdf), id_col
        )
    else:
        scored_all = chunks.crossJoin(F.broadcast(qvecs.join(kmaxdf, id_col))).select(
            id_col, "chunk_id", "kmax",
            F.round(
                cosine_col(F.col("embedding").cast("array<double>"), F.col("qvec")), 6
            ).alias("score"),
        )
    scored_top = [
        (r[id_col], r["chunk_id"], r["score"])
        for r in scored_all
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("kmax"))
        .select(id_col, "chunk_id", "score")
        .collect()
    ]
    by_q: dict[str, list[tuple[str, float]]] = {}
    for q, cid, s in sorted(scored_top, key=lambda t: (t[0], -t[2], t[1])):
        by_q.setdefault(q, []).append((cid, s))
    chunk_rows = [
        (q, cid, s)
        for q, lst in by_q.items()
        for cid, s in lst[: qmeta[q]["chunk_count"]]
    ]
    chunk_side = literal_frame(
        spark, chunk_rows, f"{id_col} string, chunk_id string, similarity double"
    )

    # seeds for every query in one job (top-10 chunks' entities, top-5
    # by max importance)
    top10_rows = [(q, cid) for q, lst in by_q.items() for cid, _ in lst[:10]]
    top10 = literal_frame(spark, top10_rows, f"{id_col} string, chunk_id string")
    sw = Window.partitionBy(id_col).orderBy(F.desc("importance"), "name")
    seed_rows = (
        mentions.join(F.broadcast(top10), "chunk_id")
        .join(nodes.select("entity_id", "name", "importance"), "entity_id")
        .groupBy(id_col, "name")
        .agg(F.max("importance").alias("importance"))
        .withColumn("_rk", F.row_number().over(sw))
        .filter(F.col("_rk") <= 5)
        .select(id_col, "name")
        .collect()
    )
    seeds_by_q: dict[str, list[str]] = {q: [] for q in qmeta}
    for r in sorted(seed_rows, key=lambda r: (r[id_col], r["name"])):
        seeds_by_q[r[id_col]].append(r["name"])

    # entity side: multi-query decay expansion + one rollup
    exp = _batch_decay_frame(triples, seeds_by_q, id_col)
    ew = Window.partitionBy(id_col).orderBy(F.desc("similarity"), "chunk_id")
    ec_rows = [(q, m["entity_count"]) for q, m in qmeta.items()]
    ecdf = literal_frame(spark, ec_rows, f"{id_col} string, ec int")
    entity_side = (
        mentions.join(nodes.select("entity_id", "name"), "entity_id")
        .join(F.broadcast(exp), "name")
        .groupBy(id_col, "chunk_id")
        .agg(F.max("score").alias("similarity"))
        .filter(F.col("similarity") >= expansion_threshold)
        .withColumn("_rk", F.row_number().over(ew))
        .join(F.broadcast(ecdf), id_col)
        .filter(F.col("_rk") <= F.col("ec"))
        .select(id_col, "chunk_id", "similarity")
    )

    # path side: hop-batched beam search over ALL multi-hop queries'
    # seeds at once (r4 VERDICT item 4) — a comparative-heavy batch
    # pays at most one edge-join job per hop instead of one beam loop
    # per query; per query identical to multi_hop_retrieval (the seeds and
    # query vectors are the exact frames the sequential calls used)
    mh_seed_rows = [
        (q, s)
        for q, m in qmeta.items()
        if m["path_count"] > 0
        for s in seeds_by_q.get(q, [])
    ]
    if mh_seed_rows:
        seed_df = literal_frame(spark, mh_seed_rows, f"{id_col} string, name string")
        pcdf = literal_frame(
            spark, [(q, m["path_count"]) for q, m in qmeta.items() if m["path_count"] > 0],
            f"{id_col} string, pc int",
        )
        pw2 = Window.partitionBy(id_col).orderBy(F.desc("similarity"), "chunk_id")
        path_side = (
            batch_multi_hop_retrieval(
                chunks, nodes, triples, qvecs, seed_df, id_col=id_col
            )
            .withColumn("_rk", F.row_number().over(pw2))
            .join(F.broadcast(pcdf), id_col)
            .filter(F.col("_rk") <= F.col("pc"))
            .select(id_col, "chunk_id", "similarity")
        )
    else:
        path_side = literal_frame(
            spark, [], f"{id_col} string, chunk_id string, similarity double"
        )

    merged = hybrid_merge_3way(
        chunk_side, entity_side, path_side, keys=[id_col, "chunk_id"]
    )
    kdf = literal_frame(
        spark, [(q, m["k"]) for q, m in qmeta.items()], f"{id_col} string, k int"
    )
    mw = Window.partitionBy(id_col).orderBy(F.desc("hybrid_score"), "chunk_id")
    return (
        merged.withColumn("_rk", F.row_number().over(mw))
        .join(F.broadcast(kdf), id_col)
        .filter(F.col("_rk") <= F.col("k"))
        .select(id_col, "chunk_id", "source", F.col("hybrid_score").alias("score"))
    )


def retrieve_with_graph_expansion(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    query_text: str,
    mode: str = "hybrid",
    top_k: int = 3,
    expand_depth: int = 2,
    max_chunk_connections: int = 10,
    max_expanded_chunks: int = 500,
    expansion_threshold: float = 0.1,
) -> DataFrame:
    """Graph-expanded retrieval (rag/retriever.py:876-1084): initial
    ``retrieve`` results widened through the graph, as one declarative
    job per branch. Defaults mirror config/settings.py:107-121.

    - entity branch (entity_only / hybrid modes): entities mentioned in
      the initial chunks seed a strength-decay expansion (G6, the same
      0.7^(d+1) / top-20 / threshold loop as entity_expansion_retrieval,
      retriever.py:1086-1160); each candidate chunk scores as the max
      contained-entity expansion score (:1152-1168); additions capped at
      ``max_expanded_chunks // 2`` (:946-948).
    - chunk branch (chunk_only / hybrid modes): ``related_chunks`` from
      each initial chunk, top ``max_chunk_connections`` per seed in
      (distance, similarity) order (:1019-1022), scored
      ``source_score / (distance + 1)`` (:1034-1037), capped at
      ``max_chunk_connections x n_initial`` additions (:1004-1006).
    - merge: initial rows first, then entity additions, then chunk
      additions (the reference's append order), first occurrence per
      chunk wins; filter >= ``expansion_similarity_threshold``, sort by
      similarity, truncate to ``max_expanded_chunks`` (:1060-1077).

    Documented divergences (repo convention): the reference's mid-loop
    break quirks become the equivalent global caps, and initial rows
    keep their retrieval score through the final filter (the reference
    reads ``chunk["similarity"]``, which hybrid-mode rows don't carry,
    so its final filter silently drops initial hybrid results — clearly
    unintended).

    Returns (chunk_id, source, expansion_type, similarity)."""
    initial = retrieve(
        chunks, nodes, mentions, triples, query_text, mode=mode, top_k=top_k
    ).persist()
    n_initial = initial.count()
    if n_initial == 0:
        return literal_frame(
            chunks.sparkSession, [], "chunk_id string, source string, expansion_type string, similarity double"
        )
    resolved = _MODE_MAP.get(mode, "hybrid")
    base = initial.select(
        "chunk_id", "source", F.lit(None).cast("string").alias("expansion_type"),
        F.col("score").alias("similarity"), F.lit(0).alias("branch"),
    )
    parts = [base]

    if resolved in ("entity_only", "hybrid"):
        # per-chunk entity cap = the reference's entity_ids[:20] slice
        # (settings.max_entity_connections, retriever.py:956-958) —
        # bounds this collect at 20 x n_initial names no matter how
        # entity-dense a chunk is
        per_chunk = Window.partitionBy("chunk_id").orderBy(
            F.desc("importance"), "name"
        )
        seeds = [
            r["name"]
            for r in mentions.join(
                F.broadcast(initial.select("chunk_id")), "chunk_id"
            )
            .join(nodes.select("entity_id", "name", "importance"), "entity_id")
            .withColumn("rk", F.row_number().over(per_chunk))
            .filter(F.col("rk") <= 20)
            .select("name").distinct().collect()
        ]
        if seeds:
            exp = expand_with_strength_decay(
                triples, seeds, max_depth=min(expand_depth, 2),
                threshold=expansion_threshold,
            )
            ent_add = (
                mentions.join(nodes.select("entity_id", "name"), "entity_id")
                .join(exp, "name")
                .groupBy("chunk_id")
                .agg(F.round(F.max("score"), 6).alias("similarity"))
                .orderBy(F.desc("similarity"), "chunk_id")
                .limit(max_expanded_chunks // 2)
                .select(
                    "chunk_id", F.lit("entity_expansion").alias("source"),
                    F.lit("entity_expansion").alias("expansion_type"),
                    "similarity", F.lit(1).alias("branch"),
                )
            )
            parts.append(ent_add)

    if resolved in ("chunk_only", "hybrid"):
        sim_edges = chunk_similarity_edges_for(chunks)
        seeds_df = initial.select(
            F.col("chunk_id").alias("seed_id"),
            F.row_number().over(
                Window.orderBy(F.desc("score"), "chunk_id")
            ).alias("seed_rank"),
            F.col("score").alias("seed_score"),
        )
        rel = related_chunks(
            sim_edges, chunks, seeds_df.select("seed_id", "seed_rank"),
            max_depth=min(expand_depth, 2),
        )
        per_seed = Window.partitionBy("seed_id").orderBy(
            "distance", F.desc("similarity"), "chunk_id"
        )
        chunk_add = (
            rel.withColumn("rk", F.row_number().over(per_seed))
            .filter(F.col("rk") <= max_chunk_connections)
            .join(seeds_df.select("seed_id", "seed_score"), "seed_id")
            .select(
                "chunk_id", "seed_rank", "distance",
                F.round(
                    F.col("seed_score") / (F.col("distance") + 1), 6
                ).alias("similarity"),
            )
            .withColumn(
                "occ",
                F.row_number().over(
                    Window.partitionBy("chunk_id").orderBy(
                        "seed_rank", "distance", F.desc("similarity")
                    )
                ),
            )
            .filter(F.col("occ") == 1)
            .withColumn(
                "pos",
                F.row_number().over(
                    Window.orderBy("seed_rank", "distance", F.desc("similarity"), "chunk_id")
                ),
            )
            .filter(F.col("pos") <= max_chunk_connections * n_initial)
            .select(
                "chunk_id", F.lit("chunk_expansion").alias("source"),
                F.lit("chunk_similarity").alias("expansion_type"),
                "similarity", F.lit(2).alias("branch"),
            )
        )
        parts.append(chunk_add)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    first = Window.partitionBy("chunk_id").orderBy("branch")
    return (
        out.withColumn("occ", F.row_number().over(first))
        .filter(F.col("occ") == 1)
        .filter(F.col("similarity") >= expansion_threshold)
        .select("chunk_id", "source", "expansion_type", "similarity")
        .orderBy(F.desc("similarity"), "chunk_id")
        .limit(max_expanded_chunks)
    )


def batch_retrieve_with_graph_expansion(
    chunks: DataFrame,
    nodes: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    queries: DataFrame,
    mode: str = "hybrid",
    top_k: int = 3,
    expand_depth: int = 2,
    max_chunk_connections: int = 10,
    max_expanded_chunks: int = 500,
    expansion_threshold: float = 0.1,
    id_col: str = "query_id",
    query_col: str = "query",
    chunk_index=None,
) -> DataFrame:
    """``retrieve_with_graph_expansion`` for a whole query table — per
    query identical output (pytest-asserted). This closes the last
    per-query driver loop in the batch serving family: a complex/
    comparative-heavy evaluation batch previously paid one full
    expansion composition per gated query
    (graph_rag.batch_retrieve_documents's loop); now the three phases
    run as set-oriented jobs over every query at once:

    - initial retrieval: ``batch_retrieve`` (one corpus pass for all
      queries, optionally through the IVF ``chunk_index``);
    - entity branch: per-(query, chunk) top-20 seed entities in one
      window, then ``_decay_scores`` — the hop-batched expansion
      already serving batch_retrieve_hybrid, whose per-query early-stop
      bookkeeping is exact; candidate chunks score/cap per query;
    - chunk branch: ``related_chunks(keys=[query_id])`` traverses every
      query's seeds in the same three joins; the per-seed cap, the
      first-occurrence dedup, and the reference's
      ``max_chunk_connections x n_initial`` additions cap become
      query-partitioned windows (per-query n_initial joined from a
      broadcast counts frame);
    - merge: branch-priority first-occurrence per (query, chunk),
      threshold filter, per-query top ``max_expanded_chunks``.

    Driver-side state stays query-scale: the initial-count frame and
    the seed-entity names (<= 20 x top_k x |queries| rows) — same
    bounded-collect contract as the rest of the batch family.

    Returns (query_id, chunk_id, source, expansion_type, similarity)."""
    spark = chunks.sparkSession
    initial = batch_retrieve(
        chunks, nodes, mentions, triples, queries, mode=mode, top_k=top_k,
        id_col=id_col, query_col=query_col, chunk_index=chunk_index,
    ).persist()
    counts = initial.groupBy(id_col).count().collect()
    resolved = _MODE_MAP.get(mode, "hybrid")
    base = initial.select(
        id_col, "chunk_id", "source",
        F.lit(None).cast("string").alias("expansion_type"),
        F.col("score").alias("similarity"), F.lit(0).alias("branch"),
    )
    parts = [base]

    if resolved in ("entity_only", "hybrid"):
        per_chunk = Window.partitionBy(id_col, "chunk_id").orderBy(
            F.desc("importance"), "name"
        )
        seed_rows = (
            mentions.join(F.broadcast(initial.select(id_col, "chunk_id")), "chunk_id")
            .join(nodes.select("entity_id", "name", "importance"), "entity_id")
            .withColumn("rk", F.row_number().over(per_chunk))
            .filter(F.col("rk") <= 20)
            .select(id_col, "name")
            .distinct()
            .collect()
        )
        seeds_by_q: dict[str, list[str]] = {}
        for r in seed_rows:
            seeds_by_q.setdefault(r[id_col], []).append(r["name"])
        exp = _batch_decay_frame(
            triples, seeds_by_q, id_col, max_depth=min(expand_depth, 2),
            threshold=expansion_threshold,
        )
        ew = Window.partitionBy(id_col).orderBy(F.desc("similarity"), "chunk_id")
        ent_add = (
            mentions.join(nodes.select("entity_id", "name"), "entity_id")
            .join(exp, "name")
            .groupBy(id_col, "chunk_id")
            .agg(F.round(F.max("score"), 6).alias("similarity"))
            .withColumn("_rk", F.row_number().over(ew))
            .filter(F.col("_rk") <= max_expanded_chunks // 2)
            .select(
                id_col, "chunk_id", F.lit("entity_expansion").alias("source"),
                F.lit("entity_expansion").alias("expansion_type"),
                "similarity", F.lit(1).alias("branch"),
            )
        )
        parts.append(ent_add)

    if resolved in ("chunk_only", "hybrid"):
        sim_edges = chunk_similarity_edges_for(chunks)
        sw = Window.partitionBy(id_col).orderBy(F.desc("score"), "chunk_id")
        seeds_df = initial.select(
            id_col,
            F.col("chunk_id").alias("seed_id"),
            F.row_number().over(sw).alias("seed_rank"),
            F.col("score").alias("seed_score"),
        )
        rel = related_chunks(
            sim_edges, chunks, seeds_df.select(id_col, "seed_id", "seed_rank"),
            max_depth=min(expand_depth, 2), keys=[id_col],
        )
        per_seed = Window.partitionBy(id_col, "seed_id").orderBy(
            "distance", F.desc("similarity"), "chunk_id"
        )
        ninit = literal_frame(
            spark, [(r[id_col], r["count"]) for r in counts], f"{id_col} string, n_init long"
        )
        chunk_add = (
            rel.withColumn("rk", F.row_number().over(per_seed))
            .filter(F.col("rk") <= max_chunk_connections)
            .join(seeds_df.select(id_col, "seed_id", "seed_score"), [id_col, "seed_id"])
            .select(
                id_col, "chunk_id", "seed_rank", "distance",
                F.round(
                    F.col("seed_score") / (F.col("distance") + 1), 6
                ).alias("similarity"),
            )
            .withColumn(
                "occ",
                F.row_number().over(
                    Window.partitionBy(id_col, "chunk_id").orderBy(
                        "seed_rank", "distance", F.desc("similarity")
                    )
                ),
            )
            .filter(F.col("occ") == 1)
            .withColumn(
                "pos",
                F.row_number().over(
                    Window.partitionBy(id_col).orderBy(
                        "seed_rank", "distance", F.desc("similarity"), "chunk_id"
                    )
                ),
            )
            .join(F.broadcast(ninit), id_col)
            .filter(F.col("pos") <= max_chunk_connections * F.col("n_init"))
            .select(
                id_col, "chunk_id", F.lit("chunk_expansion").alias("source"),
                F.lit("chunk_similarity").alias("expansion_type"),
                "similarity", F.lit(2).alias("branch"),
            )
        )
        parts.append(chunk_add)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    first = Window.partitionBy(id_col, "chunk_id").orderBy("branch")
    cap = Window.partitionBy(id_col).orderBy(F.desc("similarity"), "chunk_id")
    return (
        out.withColumn("occ", F.row_number().over(first))
        .filter(F.col("occ") == 1)
        .filter(F.col("similarity") >= expansion_threshold)
        .withColumn("_rk", F.row_number().over(cap))
        .filter(F.col("_rk") <= max_expanded_chunks)
        .select(id_col, "chunk_id", "source", "expansion_type", "similarity")
    )


def chunk_similarity_edges_for(chunks: DataFrame) -> DataFrame:
    """The stored J1 edge set used by chunk-graph traversals, built once
    per chunks table (``session.driver_cached``) and local-checkpointed,
    so a caller's ``unpersist()`` cannot evict it and every request
    after the first reads the checkpoint instead of re-running the
    per-document kNN. Lives here so query-side callers don't import
    graph_ops (circular)."""
    from .graph_ops import chunk_similarity_edges

    return driver_cached(
        chunks,
        "j1",
        lambda: chunk_similarity_edges(chunks, threshold=0.5, k=3).localCheckpoint(eager=True),
    )


class _ServingState(NamedTuple):
    """Driver copy of what ``graph_rag_query``'s reasoning and sources
    nodes read from one (chunks, nodes, mentions) table set."""

    adj: dict  # chunk_id -> [(chunk_id, similarity)], the J1 edges both ways
    doc_of: dict  # chunk_id -> doc_id
    doc_chunks: dict  # doc_id -> [chunk_id]
    content: dict  # chunk_id -> content
    entities: dict  # chunk_id -> [(entity_id, name, importance)], (importance DESC, name) order


def _serving_state(chunks: DataFrame, index: _RetrievalIndex, sim_edges: DataFrame):
    """The ``_ServingState`` over ``index``'s mention rows and the
    (src, dst, similarity) edges ``sim_edges``, or None when chunks or
    edges are over ``_DRIVER_BEAM_MAX_ROWS`` rows (LIMIT-guarded
    collects), a chunk id is null or repeated, or the UTF-8 bytes of the
    content or of the edge rows exceed the session's broadcast
    threshold."""
    cap = _DRIVER_BEAM_MAX_ROWS
    rows = chunks.select("chunk_id", "doc_id", "content").limit(cap + 1).collect()
    edges = sim_edges.select("src", "dst", "similarity").limit(cap + 1).collect()
    if len(rows) > cap or len(edges) > cap:
        return None
    ids = {r[0] for r in rows}
    if None in ids or len(ids) < len(rows):
        return None
    content_bytes = sum(len(r[2].encode()) for r in rows if r[2] is not None)
    edge_bytes = sum(len(a.encode()) + len(b.encode()) + 8 for a, b, _s in edges)
    if max(content_bytes, edge_bytes) > broadcast_threshold(chunks.sparkSession):
        return None
    adj: dict[str, list] = {}
    for a, b, s in edges:
        adj.setdefault(a, []).append((b, s))
        adj.setdefault(b, []).append((a, s))
    doc_chunks: dict[str, list] = {}
    for c, d, _t in rows:
        if d is not None:
            doc_chunks.setdefault(d, []).append(c)
    entities = {
        c: sorted(es, key=lambda e: (_desc_key(e[2]), e[1] is not None, e[1] or ""))
        for c, es in index.by_chunk.items()
    }
    return _ServingState(
        adj, {r[0]: r[1] for r in rows}, doc_chunks, {r[0]: r[2] for r in rows}, entities
    )


def serving_state(chunks: DataFrame, nodes: DataFrame, mentions: DataFrame):
    """The cached ``_ServingState`` of a table set (one
    ``session.driver_cached`` entry, filled on the first request), or
    None when the retrieval index or the state declines: the caller then
    runs the DataFrame bodies."""

    def build():
        index = _driver_retrieval_index(chunks, nodes, mentions)
        if index is None:
            return None
        return _serving_state(chunks, index, chunk_similarity_edges_for(chunks))

    return driver_cached((chunks, nodes, mentions), "serving_state", build)


def top_entities(nodes: DataFrame, k: int = 10) -> DataFrame:
    """T4 (core/graph_db.py:1051-1067)."""
    return nodes.orderBy(F.desc("importance"), "name").limit(k)


def related_chunks(
    sim_edges: DataFrame,
    chunks: DataFrame,
    seeds: DataFrame,
    max_depth: int = 2,
    keys: list[str] | None = None,
) -> DataFrame:
    """Chunk-graph traversal (core/graph_db.py:516-557): chunks related
    to each seed chunk through SIMILAR_TO (the stored J1 edge set,
    undirected) and HAS_CHUNK (doc -> chunk, i.e. same-document
    siblings) paths of length <= 2. Per related chunk and path shape:

    - depth 1: a direct SIMILAR_TO neighbor, similarity = edge score;
    - depth 2 via two SIMILAR_TO hops: similarity = mean of the two
      edge scores (the reference's reduce/size average), revisiting the
      seed excluded (a Neo4j path cannot reuse its first relationship);
    - depth 2 via the document (HAS_CHUNK up + down): no similarity
      scores on the path -> the reference's distance fallback, 0.2.

    Distinct (chunk, distance, similarity) rows, like the Cypher
    RETURN DISTINCT — the same chunk may legitimately appear with
    several similarities (different intermediate chunks).

    ``seeds``: (seed_id, seed_rank) frame — all seeds traverse in one
    relational job (three joins), no per-seed driver loop. Candidate
    volume is bounded by |seeds| x top-k fan-out, so downstream global
    windows stay small. ``keys`` (e.g. ['query_id']) carries grouping
    columns from ``seeds`` through every branch — the batch twin's
    whole-query-table traversal is the same three joins."""
    kc = list(keys or [])
    und = sim_edges.select("src", "dst", "similarity").unionByName(
        sim_edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "similarity"
        )
    )
    e1 = und.withColumnRenamed("src", "seed_id")
    s = seeds.select(*kc, "seed_id", "seed_rank")
    d1 = s.join(e1, "seed_id").select(
        *kc, "seed_id", "seed_rank", F.col("dst").alias("chunk_id"),
        F.lit(1).alias("distance"), F.col("similarity"),
    )
    parts = [d1]
    if max_depth >= 2:
        hop2 = (
            s.join(e1.select("seed_id", F.col("dst").alias("mid"), F.col("similarity").alias("s1")), "seed_id")
            .join(
                und.select(F.col("src").alias("mid"), F.col("dst").alias("chunk_id"), F.col("similarity").alias("s2")),
                "mid",
            )
            .filter(F.col("chunk_id") != F.col("seed_id"))
            .select(
                *kc, "seed_id", "seed_rank", "chunk_id",
                F.lit(2).alias("distance"),
                F.round((F.col("s1") + F.col("s2")) / 2.0, 6).alias("similarity"),
            )
        )
        cid = chunks.select("chunk_id", "doc_id")
        sib = (
            s.join(cid.withColumnRenamed("chunk_id", "seed_id"), "seed_id")
            .join(cid, "doc_id")
            .filter(F.col("chunk_id") != F.col("seed_id"))
            .select(
                *kc, "seed_id", "seed_rank", "chunk_id",
                F.lit(2).alias("distance"), F.lit(0.2).alias("similarity"),
            )
        )
        parts += [hop2, sib]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def graph_reasoning_enhance(
    retrieved: DataFrame,
    sim_edges: DataFrame,
    chunks: DataFrame,
    top_m: int = 3,
    cap: int = 10,
) -> DataFrame:
    """The reason_with_graph node (rag/nodes/graph_reasoning.py:13-94)
    as one declarative job: expand from the top ``top_m`` retrieved
    chunks via ``related_chunks``, append unseen related chunks in the
    reference's iteration order (seed rank, then distance ASC,
    similarity DESC), stop when the enhanced context reaches ``cap``.

    Documented divergence (repo convention): the reference's
    ``len >= 10`` break sits inside the inner loop, so each LATER seed
    may still append one chunk past the cap; here the cap is strict —
    exactly ``min(cap - n_retrieved, available)`` additions. Ties in
    (distance, similarity) order break by chunk_id (the reference
    leaves Neo4j's tie order unspecified).

    ``retrieved``: (chunk_id, rank) frame, rank 1 = best. Returns the
    retrieved rows (source='retrieved', related_to NULL) plus the
    appended rows (source='graph_expansion', related_to = the seed
    whose expansion added them), each with distance + similarity."""
    n_retrieved = retrieved.count()
    budget = max(0, cap - n_retrieved)
    seeds = (
        retrieved.orderBy("rank").limit(top_m)
        .select(F.col("chunk_id").alias("seed_id"), F.col("rank").alias("seed_rank"))
    )
    cands = (
        related_chunks(sim_edges, chunks, seeds)
        .join(retrieved.select("chunk_id"), "chunk_id", "left_anti")
    )
    order = [F.col("seed_rank"), F.col("distance"), F.desc("similarity"), F.col("chunk_id")]
    # first-occurrence dedup (the reference's seen-set), then the
    # sequential cap — both tiny windows over the bounded candidate set
    first = Window.partitionBy("chunk_id").orderBy(*order)
    seq = Window.orderBy(*order)
    added = (
        cands.withColumn("occ", F.row_number().over(first))
        .filter(F.col("occ") == 1)
        .withColumn("pos", F.row_number().over(seq))
        .filter(F.col("pos") <= budget)
        .select(
            "chunk_id",
            F.lit("graph_expansion").alias("source"),
            F.col("seed_id").alias("related_to"),
            "distance",
            F.round("similarity", 6).alias("similarity"),
        )
    )
    base = retrieved.select(
        "chunk_id",
        F.lit("retrieved").alias("source"),
        F.lit(None).cast("string").alias("related_to"),
        F.lit(0).alias("distance"),
        F.lit(None).cast("double").alias("similarity"),
    )
    return base.unionByName(added)


def driver_reasoning(state: _ServingState, retrieved: list, top_m: int = 3, cap: int = 10) -> list:
    """``graph_reasoning_enhance``'s appended rows as context rows
    (chunk_id, 'graph_expansion', similarity), from the serving state:
    the top ``top_m`` of the (chunk_id, source, score) ``retrieved`` rows
    in (score DESC, chunk_id) order expand with ``related_chunks``'
    rules (edge score; 2-hop mean, rounded, never back to the seed; 0.2
    for a same-document sibling), retrieved chunks are dropped, the
    first occurrence of each chunk in (seed rank, distance, similarity
    DESC, chunk_id) order is kept, up to ``cap - len(retrieved)`` rows.
    Same rows as the DataFrame body (pytest-asserted)."""
    budget = max(0, cap - len(retrieved))
    if not budget:
        return []
    ranked = sorted(retrieved, key=lambda r: (_desc_key(r[2]), r[0]))
    cands = set()
    for rank, (seed, _src, _score) in enumerate(ranked[:top_m], 1):
        for mid, s1 in state.adj.get(seed, ()):
            cands.add((rank, 1, s1, mid))
            for c, s2 in state.adj.get(mid, ()):
                if c != seed:
                    cands.add((rank, 2, _round6((s1 + s2) / 2.0), c))
        for c in state.doc_chunks.get(state.doc_of.get(seed), ()):
            if c != seed:
                cands.add((rank, 2, 0.2, c))
    seen = {r[0] for r in retrieved}
    out = []
    for _rank, _dist, sim, c in sorted(cands, key=lambda t: (t[0], t[1], _desc_key(t[2]), t[3])):
        if c not in seen:
            seen.add(c)
            out.append((c, "graph_expansion", _round6(sim)))
            if len(out) == budget:
                break
    return out


def batch_graph_reasoning_enhance(
    retrieved: DataFrame,
    sim_edges: DataFrame,
    chunks: DataFrame,
    top_m: int = 3,
    cap: int = 10,
    id_col: str = "query_id",
) -> DataFrame:
    """``graph_reasoning_enhance`` for a WHOLE query table — per query
    identical output (pytest-asserted), one set of jobs for all
    queries: the chunk-graph traversal runs once over the union of all
    queries' seeds (``related_chunks`` with keys=[query_id]), and the
    per-query budget (cap - n_retrieved), first-occurrence dedup, and
    strict sequential cap become query-partitioned windows instead of
    a driver round-trip per query.

    ``retrieved``: (query_id, chunk_id, rank), rank 1 = best per
    query. Returns the per-query enhanced frame keyed by query_id."""
    budgets = retrieved.groupBy(id_col).agg(
        F.greatest(F.lit(0), F.lit(cap) - F.count("*")).alias("_budget")
    )
    seeds = retrieved.filter(F.col("rank") <= top_m).select(
        id_col, F.col("chunk_id").alias("seed_id"), F.col("rank").alias("seed_rank")
    )
    cands = related_chunks(sim_edges, chunks, seeds, keys=[id_col]).join(
        retrieved.select(id_col, "chunk_id"), [id_col, "chunk_id"], "left_anti"
    )
    order = [F.col("seed_rank"), F.col("distance"), F.desc("similarity"), F.col("chunk_id")]
    first = Window.partitionBy(id_col, "chunk_id").orderBy(*order)
    seq = Window.partitionBy(id_col).orderBy(*order)
    added = (
        cands.withColumn("occ", F.row_number().over(first))
        .filter(F.col("occ") == 1)
        .withColumn("pos", F.row_number().over(seq))
        .join(F.broadcast(budgets), id_col)
        .filter(F.col("pos") <= F.col("_budget"))
        .select(
            id_col,
            "chunk_id",
            F.lit("graph_expansion").alias("source"),
            F.col("seed_id").alias("related_to"),
            "distance",
            F.round("similarity", 6).alias("similarity"),
        )
    )
    base = retrieved.select(
        id_col,
        "chunk_id",
        F.lit("retrieved").alias("source"),
        F.lit(None).cast("string").alias("related_to"),
        F.lit(0).alias("distance"),
        F.lit(None).cast("double").alias("similarity"),
    )
    return base.unionByName(added)


def chunks_in_order(chunks: DataFrame, doc_id: str) -> DataFrame:
    """T8 (core/graph_db.py:559-570)."""
    return chunks.filter(F.col("doc_id") == doc_id).orderBy("chunk_index")
