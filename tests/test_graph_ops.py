"""Graph maintenance/aggregation + query-side traversal operators."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from graphrag_spark import graph_ops, graph_query
from graphrag_spark.session import DRIVER_CACHE


@pytest.fixture(scope="module")
def kg(kg_out):
    # shared session-scoped build (conftest.kg_out) in this module's
    # dict shape
    return {k: kg_out[k] for k in ("chunks", "mentions", "nodes", "triples")}


def test_graph_stats(kg):
    row = graph_ops.graph_stats(kg["nodes"], kg["chunks"], kg["mentions"], kg["triples"]).collect()[0]
    assert row["n_entities"] > 0 and row["n_triples"] > 0
    assert row["n_chunks"] >= row["n_documents"]


def test_extraction_status(kg):
    st = graph_ops.extraction_status(kg["chunks"], kg["mentions"]).collect()
    assert st
    for r in st:
        assert 0 <= r["chunks_with_entities"] <= r["n_chunks"]


def test_doc_entity_rollup(kg):
    r = graph_ops.doc_entity_rollup(kg["mentions"], kg["chunks"]).limit(20).collect()
    assert r
    for row in r:
        assert row["n_mentions"] >= len(row["chunk_indexes"]) >= 1


def test_post_entity_chunk_filter(kg):
    before = kg["chunks"].count()
    after = graph_ops.post_entity_chunk_filter(kg["chunks"], kg["mentions"]).count()
    assert 0 < after <= before


def test_delete_cascade(kg, spark):
    doc = kg["chunks"].select("doc_id").first()["doc_id"]
    out = graph_ops.delete_documents([doc], kg["chunks"], kg["mentions"], kg["nodes"], kg["triples"])
    assert out["chunks"].filter(F.col("doc_id") == doc).count() == 0
    assert out["mentions"].filter(F.col("doc_id") == doc).count() == 0
    # no surviving entity references a chunk of the deleted doc
    leaked = out["nodes"].select(F.explode("source_chunks").alias("c")).filter(
        F.col("c").startswith(doc + "_chunk_")
    )
    assert leaked.count() == 0
    # triples reference only surviving entities
    names = {r["name"].upper() for r in out["nodes"].select("name").collect()}
    for r in out["triples"].select("subj", "obj").limit(200).collect():
        assert r["subj"].upper() in names and r["obj"].upper() in names


def test_chunk_similarity_edges(kg):
    edges = graph_ops.chunk_similarity_edges(kg["chunks"].limit(300), threshold=0.2, k=3)
    rows = edges.limit(50).collect()
    for r in rows:
        assert r["src"] != r["dst"]
        assert 0.2 <= r["similarity"] <= 1.000001


def test_entity_similarity_edges(kg):
    edges = graph_ops.entity_similarity_edges(kg["nodes"], threshold=0.3, k=3).limit(50).collect()
    for r in edges:
        assert r["src"] != r["dst"]


def test_expand_and_neighborhood(kg):
    seed = kg["triples"].select("subj").first()["subj"]
    reached = graph_query.expand_entities(kg["triples"], [seed], depth=2)
    rows = {r["name"]: r["depth"] for r in reached.collect()}
    assert rows[seed] == 0
    assert any(d == 1 for d in rows.values())
    nb = graph_query.neighborhood(kg["triples"], seed, hops=1).collect()
    assert nb
    names = set(rows)
    one_hop = {r["name"] for r in reached.filter("depth <= 1").collect()}
    for r in nb:
        assert r["src"] in one_hop and r["dst"] in one_hop


def test_beam_search(kg):
    seed = kg["triples"].select("subj").first()["subj"]
    paths = graph_query.beam_search_paths(kg["triples"], kg["nodes"], [seed], max_hops=2, beam_size=4)
    rows = paths.collect()
    assert rows
    for r in rows:
        assert r["path"][0] == seed
        assert len(set(r["path"])) == len(r["path"])  # no revisits
        assert len(r["path"]) <= 3


def test_beam_driver_fast_path_equals_distributed(kg, monkeypatch):
    """r6: the driver-adjacency beam fast path must be row-identical
    (paths, rounded scores, sorted support) to the distributed hop loop
    it short-circuits."""
    seeds = sorted(r["subj"] for r in kg["triples"].select("subj").distinct().limit(3).collect())

    def rows(df):
        return sorted(
            (tuple(r["path"]), r["path_score"], tuple(r["support"])) for r in df.collect()
        )

    fast = rows(
        graph_query.beam_search_paths(
            kg["triples"], kg["nodes"], seeds, max_hops=2, beam_size=5, with_support=True
        )
    )
    monkeypatch.setattr(graph_query, "_DRIVER_BEAM_MAX_ROWS", 0)
    DRIVER_CACHE.clear()
    slow = rows(
        graph_query.beam_search_paths(
            kg["triples"], kg["nodes"], seeds, max_hops=2, beam_size=5, with_support=True
        )
    )
    # two queries through one over-cap hop loop: each query's rows equal
    # its own single-query call
    by_q = {"q1": seeds[:1], "q2": seeds[1:]}
    seed_df = kg["triples"].sparkSession.createDataFrame(
        [(q, s) for q, ss in by_q.items() for s in ss], "query_id string, name string"
    )
    batch = graph_query.batch_beam_search_paths(
        kg["triples"], kg["nodes"], seed_df, max_hops=2, beam_size=5
    )
    for q, ss in by_q.items():
        single = rows(
            graph_query.beam_search_paths(
                kg["triples"], kg["nodes"], ss, max_hops=2, beam_size=5, with_support=True
            )
        )
        assert single and rows(batch.filter(F.col("query_id") == q)) == single
    DRIVER_CACHE.clear()
    assert fast and fast == slow


def test_fulltext_search(kg):
    # pick a word we know exists
    word = "partnership"
    hits = graph_query.fulltext_search(kg["chunks"], word, top_k=5).collect()
    assert len(hits) <= 5
    if hits:
        content = {r["chunk_id"] for r in hits}
        sample = kg["chunks"].filter(F.col("chunk_id").isin(list(content))).collect()
        for r in sample:
            assert word in r["content"].lower()


def test_top_entities_and_order(kg):
    top = graph_query.top_entities(kg["nodes"], k=5).collect()
    assert len(top) == 5
    assert [r["importance"] for r in top] == sorted((r["importance"] for r in top), reverse=True)
    doc = kg["chunks"].select("doc_id").first()["doc_id"]
    ordered = graph_query.chunks_in_order(kg["chunks"], doc).collect()
    assert [r["chunk_index"] for r in ordered] == list(range(len(ordered)))


def _py_decay_expansion(edges, seeds, max_depth=2, max_conn=20, threshold=0.1):
    """Pure-Python trace of the deterministic G6 loop (reference
    rag/retriever.py:256-344 with the documented frontier-order
    divergence: frontier capped by (score desc, name asc))."""
    from collections import defaultdict

    adj = defaultdict(list)
    for s, d, st in edges:
        adj[s].append((d, st))
        adj[d].append((s, st))
    scores = {s: 1.0 for s in seeds}
    frontier = dict(scores)
    for depth in range(max_depth):
        f = sorted(frontier.items(), key=lambda kv: (-kv[1], kv[0]))[:max_conn]
        decay = 0.7 ** (depth + 1)
        cand = {}
        for name, _sc in f:
            rels = sorted(adj.get(name, []), key=lambda x: (-x[1], x[0]))[:max_conn]
            for dst, st in rels:
                if st >= threshold:
                    cand[dst] = max(cand.get(dst, 0.0), st * decay)
        new = {n: c for n, c in cand.items() if n not in scores}
        for n, c in cand.items():
            scores[n] = max(scores.get(n, 0.0), c)
        frontier = new
        if len(scores) > 3 * max_conn:
            break
    top = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[: 2 * max_conn]
    return [(n, round(s, 6)) for n, s in top]


def test_strength_decay_expansion_matches_trace(kg):
    triples = kg["triples"]
    seeds = [r["subj"] for r in triples.orderBy(F.desc("strength"), "subj").limit(2).collect()]
    got = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(triples, seeds, max_depth=2).collect()
    ]
    edges = [
        (r["subj"], r["obj"], r["strength"])
        for r in triples.select("subj", "obj", "strength").collect()
    ]
    want = _py_decay_expansion(edges, seeds, max_depth=2)
    assert got == want
    # seeds always survive the final trim with full score
    assert all((s, 1.0) in got for s in seeds)


def test_hybrid_merge_golden(spark):
    c = spark.createDataFrame(
        [("k1", 0.9), ("k2", 0.5), ("k3", 0.8)], "chunk_id string, similarity double"
    )
    e = spark.createDataFrame(
        [("k2", 0.7), ("k4", 0.4)], "chunk_id string, similarity double"
    )
    rows = {r["chunk_id"]: r for r in graph_query.hybrid_merge(c, e).collect()}
    assert rows["k1"]["source"] == "chunk_based" and rows["k1"]["hybrid_score"] == 0.9
    # both paths: min(1, (0.5 + 0.7) * 0.8) = 0.96
    assert rows["k2"]["source"] == "hybrid" and abs(rows["k2"]["hybrid_score"] - 0.96) < 1e-9
    assert rows["k3"]["source"] == "chunk_based"
    assert rows["k4"]["source"] == "entity_based" and rows["k4"]["hybrid_score"] == 0.4
    # cap at 1.0
    c2 = spark.createDataFrame([("x", 0.9)], "chunk_id string, similarity double")
    e2 = spark.createDataFrame([("x", 0.9)], "chunk_id string, similarity double")
    assert graph_query.hybrid_merge(c2, e2).collect()[0]["hybrid_score"] == 1.0


def test_multi_hop_retrieval(kg):
    """Composed path-based retrieval: rows reference real chunks,
    scores are bounded and sorted, provenance holds (every returned
    chunk supports at least one traversed triple), and the whole job
    is deterministic."""
    qrow = kg["chunks"].orderBy("chunk_id").select("embedding").first()
    out = graph_query.multi_hop_retrieval(
        kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"], list(qrow[0])
    )
    rows = out.collect()
    assert rows, "no path-based results"
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    chunk_ids = {r["chunk_id"] for r in rows}
    valid = {r["chunk_id"] for r in kg["chunks"].select("chunk_id").collect()}
    assert chunk_ids <= valid
    # provenance: returned chunks appear in some triple's source_chunks
    import pyspark.sql.functions as F2
    sup = {
        r["c"]
        for r in kg["triples"].select(F2.explode("source_chunks").alias("c")).distinct().collect()
    }
    assert chunk_ids <= sup
    # determinism
    rows2 = graph_query.multi_hop_retrieval(
        kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"], list(qrow[0])
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]


def test_batch_multi_hop_matches_per_query(kg, spark):
    """Round 5 (r4 VERDICT item 4): the hop-batched beam + keyed path
    scoring must reproduce multi_hop_retrieval per query — same beam
    order, same path/support sets, same score formula — for queries
    with overlapping and disjoint seed sets."""
    top = [
        r["name"]
        for r in kg["nodes"].orderBy(F.desc("importance"), "name").limit(6).collect()
    ]
    seed_sets = {"q1": top[:3], "q2": top[2:6], "q3": top[:1]}
    qrows = kg["chunks"].orderBy("chunk_id").select("embedding").limit(3).collect()
    qvec_by_q = {
        q: [float(x) for x in qrows[i][0]] for i, q in enumerate(sorted(seed_sets))
    }
    qvecs = spark.createDataFrame(
        [(q, v) for q, v in qvec_by_q.items()], "query_id string, qvec array<double>"
    )
    seed_df = spark.createDataFrame(
        [(q, s) for q, ss in seed_sets.items() for s in ss],
        "query_id string, name string",
    )
    got: dict[str, set] = {}
    for r in graph_query.batch_multi_hop_retrieval(
        kg["chunks"], kg["nodes"], kg["triples"], qvecs, seed_df
    ).collect():
        got.setdefault(r["query_id"], set()).add((r["chunk_id"], r["similarity"]))
    for q, seeds in seed_sets.items():
        want = {
            (r["chunk_id"], r["similarity"])
            for r in graph_query.multi_hop_retrieval(
                kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"],
                qvec_by_q[q], seeds=seeds,
            ).collect()
        }
        assert got.get(q, set()) == want, q


def test_hybrid_merge_3way_golden(spark):
    c = spark.createDataFrame([("k1", 0.9), ("k2", 0.5)], "chunk_id string, similarity double")
    e = spark.createDataFrame([("k2", 0.7), ("k3", 0.4)], "chunk_id string, similarity double")
    p = spark.createDataFrame([("k2", 0.6), ("k4", 0.3)], "chunk_id string, similarity double")
    rows = {r["chunk_id"]: r for r in graph_query.hybrid_merge_3way(c, e, p).collect()}
    # k2: two-way boost min(1,(0.5+0.7)*0.8)=0.96, then path boost
    # min(1,(0.96+0.6)*0.7)=1.0 (capped via the 0.7 product = 1.092 -> 1.0)
    assert rows["k2"]["source"] == "hybrid_with_paths"
    assert abs(rows["k2"]["hybrid_score"] - 1.0) < 1e-9
    assert rows["k1"]["source"] == "chunk_based" and rows["k1"]["hybrid_score"] == 0.9
    assert rows["k3"]["source"] == "entity_based"
    assert rows["k4"]["source"] == "path_based" and rows["k4"]["hybrid_score"] == 0.3


def test_hybrid_retrieval_end_to_end(kg):
    """The full LLM-free hybrid retrieval over stored tables: analyzes
    the query, runs all three modes, merges with the boost formulas."""
    out = graph_query.hybrid_retrieval(
        kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"],
        "explain the relationship between the partnership and the rollout",
        top_k=10,
    )
    rows = out.collect()
    assert 0 < len(rows) <= 10
    assert all(0.0 <= r["hybrid_score"] <= 1.0 for r in rows)
    sources = {r["source"] for r in rows}
    assert sources <= {"chunk_based", "entity_based", "hybrid", "path_based", "hybrid_with_paths"}
    sims = [r["hybrid_score"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    # an analytical relationship query recommends multi-hop -> some
    # non-chunk source must appear
    assert sources - {"chunk_based"}, sources


def test_fulltext_indexed_matches_scan(kg):
    """The materialized inverted index must rank exactly like the
    scan path for word-shaped queries (incl. duplicate query terms,
    which double-count in both)."""
    postings = graph_query.build_fulltext_postings(kg["chunks"])
    for q in ("partnership rollout", "partnership partnership", "the merge"):
        scan = graph_query.fulltext_search(kg["chunks"], q, top_k=10).collect()
        idx = graph_query.fulltext_search_indexed(postings, q, top_k=10).collect()
        assert [tuple(r) for r in scan] == [tuple(r) for r in idx], q


def test_fulltext_indexed_touches_only_query_terms(kg):
    """Plan shape: the indexed path joins a broadcast term list — the
    per-query work is a semi-join on the queried terms, not a regexp
    scan of every chunk's content."""
    postings = graph_query.build_fulltext_postings(kg["chunks"])
    plan = (
        graph_query.fulltext_search_indexed(postings, "partnership", top_k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_fulltext_persisted_index_prunes_partitions(kg, tmp_path):
    """Persisted index: query scans only the queried terms' tbucket
    partitions (partition pruning visible in the plan) and ranks
    identically to the scan path."""
    import contextlib
    import io

    path = str(tmp_path / "ft_index")
    postings = graph_query.build_fulltext_postings(kg["chunks"])
    graph_query.write_fulltext_index(postings, path, n_buckets=16)

    spark = kg["chunks"].sparkSession
    q = "partnership rollout"
    got = graph_query.fulltext_search_index_path(spark, path, q, top_k=10)
    scan = graph_query.fulltext_search(kg["chunks"], q, top_k=10)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in scan.collect()]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain()
    plan = buf.getvalue()
    assert "tbucket" in plan


def test_related_chunks_handcrafted(spark):
    """Reference semantics on a graph small enough to verify by hand
    (graph_db.py:516-557): c1-c2 (0.9), c2-c3 (0.8) SIMILAR_TO; c1,c4
    share doc dA; c3 in dB alone.

    From c1: c2 at d1 (0.9); c3 at d2 via c2 ((0.9+0.8)/2=0.85);
    c4 at d2 sibling fallback (0.2); c1 itself never returned."""
    edges = spark.createDataFrame(
        [("c1", "c2", 0.9), ("c2", "c3", 0.8)], "src string, dst string, similarity double"
    )
    chunks = spark.createDataFrame(
        [("c1", "dA"), ("c4", "dA"), ("c2", "dB"), ("c3", "dB")],
        "chunk_id string, doc_id string",
    )
    seeds = spark.createDataFrame([("c1", 1)], "seed_id string, seed_rank int")
    got = {
        (r["chunk_id"], r["distance"]): r["similarity"]
        for r in graph_query.related_chunks(edges, chunks, seeds).collect()
    }
    assert got == {("c2", 1): 0.9, ("c3", 2): 0.85, ("c4", 2): 0.2}


def test_graph_reasoning_enhance_cap_and_seen_set(spark):
    """Seen-set: already-retrieved chunks never re-append; first
    occurrence wins across seeds; strict cap = cap - n_retrieved."""
    # ring of similarities around r1/r2 seeds
    edges = spark.createDataFrame(
        [("r1", "x1", 0.9), ("r1", "x2", 0.7), ("r2", "x1", 0.95),
         ("r2", "r1", 0.5), ("x1", "x3", 0.6)],
        "src string, dst string, similarity double",
    )
    chunks = spark.createDataFrame(
        [(c, "d1") for c in ("r1", "r2", "x1", "x2", "x3")],
        "chunk_id string, doc_id string",
    )
    retrieved = spark.createDataFrame(
        [("r1", 1), ("r2", 2)], "chunk_id string, rank int"
    )
    out = graph_query.graph_reasoning_enhance(
        retrieved, edges, chunks, top_m=3, cap=4
    ).collect()
    by_id = {r["chunk_id"]: r for r in out}
    assert {r["chunk_id"] for r in out if r["source"] == "retrieved"} == {"r1", "r2"}
    added = [r for r in out if r["source"] == "graph_expansion"]
    # budget = 4 - 2 = 2; seed r1's candidates in order: x1 (d1 0.9),
    # x2 (d1 0.7), ... -> x1 and x2 win; x1 attributed to r1 (first
    # occurrence), never re-added for seed r2 despite its 0.95 edge
    assert sorted(r["chunk_id"] for r in added) == ["x1", "x2"]
    assert by_id["x1"]["related_to"] == "r1" and by_id["x1"]["similarity"] == 0.9
    assert by_id["x2"]["related_to"] == "r1"


def test_graph_reasoning_enhance_on_kg(kg):
    """Integration: enhancement over the real J1 edge set returns the
    retrieved rows plus <= cap - n unseen expansion rows."""
    edges = graph_ops.chunk_similarity_edges(kg["chunks"], threshold=0.3, k=3)
    retrieved = (
        kg["chunks"].orderBy("chunk_id").limit(3)
        .select("chunk_id", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("chunk_id")
        ).alias("rank"))
    )
    out = graph_query.graph_reasoning_enhance(retrieved, edges, kg["chunks"]).collect()
    n_ret = sum(1 for r in out if r["source"] == "retrieved")
    n_add = sum(1 for r in out if r["source"] == "graph_expansion")
    assert n_ret == 3 and n_add <= 7
    ids = [r["chunk_id"] for r in out]
    assert len(ids) == len(set(ids))


def test_entity_fulltext_search(kg):
    """Entities whose name contains a query term rank above non-
    matching ones; non-matching entities are absent."""
    name = kg["nodes"].orderBy(F.desc("importance")).first()["name"]
    term = max(name.split(), key=len)
    got = graph_query.entity_fulltext_search(kg["nodes"], term, top_k=5).collect()
    assert got, f"no entity matched {term!r}"
    assert all(r["score"] > 0 for r in got)
    scores = [r["score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_retrieval_mode_dispatch(kg):
    """All four public modes return ranked chunk rows with the right
    source tag; unknown mode returns empty (reference error path);
    comparative queries widen top_k (+5 cap 12)."""
    args = (kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"])
    chunk = graph_query.retrieve(*args, "what is partnership", mode="chunk_only").collect()
    assert len(chunk) == 5 and all(r["source"] == "chunk_based" for r in chunk)

    ent = graph_query.retrieve(*args, "partnership details", mode="entity_only").collect()
    assert all(r["source"] == "entity_based" for r in ent)
    assert len(ent) <= 5

    hyb = graph_query.retrieve(*args, "what is partnership", mode="hybrid").collect()
    assert 0 < len(hyb) <= 10

    # comparative -> requires_multiple_sources, so the FIRST rule fires
    # (+3 cap 10), exactly like the reference's elif chain: 5 -> 8
    comp = graph_query.retrieve(*args, "compare partnership versus rollout", mode="chunk_only").collect()
    assert len(comp) == 8

    assert graph_query.retrieve(*args, "x", mode="bogus").collect() == []


def test_adjusted_top_k_rules():
    aj = graph_query.adjusted_top_k
    assert aj(5, {"complexity": "complex"}) == 8
    assert aj(8, {"requires_multiple_sources": True}) == 10
    assert aj(5, {"query_type": "comparative"}) == 10
    assert aj(9, {"query_type": "comparative"}) == 12
    # complex wins over comparative (the reference's elif chain)
    assert aj(5, {"complexity": "complex", "query_type": "comparative"}) == 8
    assert aj(5, {}) == 5


def test_retrieve_with_graph_expansion(kg):
    """Composition invariants: initial rows survive with their
    retrieval score; expansion rows are tagged, scored under their
    sources (chunk branch: source_score/(distance+1)), above the 0.1
    floor, and deduped against the initial set."""
    args = (kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"])
    out = graph_query.retrieve_with_graph_expansion(
        *args, "what is partnership", mode="hybrid", top_k=3
    ).collect()
    ids = [r["chunk_id"] for r in out]
    assert len(ids) == len(set(ids))
    initial = [r for r in out if r["expansion_type"] is None]
    expanded = [r for r in out if r["expansion_type"] is not None]
    assert 0 < len(initial) <= 3
    assert expanded, "expansion added nothing on a connected corpus"
    assert {r["expansion_type"] for r in expanded} <= {"entity_expansion", "chunk_similarity"}
    assert all(r["similarity"] >= 0.1 for r in out)

    # chunk_only mode only does chunk-similarity expansion
    co = graph_query.retrieve_with_graph_expansion(
        *args, "what is partnership", mode="chunk_only", top_k=3
    ).collect()
    assert {r["expansion_type"] for r in co if r["expansion_type"]} <= {"chunk_similarity"}


def test_decay_expansion_via_adjacency_index(kg):
    """Round 4: the materialized entity-adjacency index serves each
    expansion hop identically to the on-the-fly edge-frame window."""
    triples = kg["triples"]
    seeds = [r["subj"] for r in triples.orderBy(F.desc("strength"), "subj").limit(2).collect()]
    adj = graph_query.build_entity_adjacency(triples, max_connections=20)
    direct = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(triples, seeds, max_depth=2).collect()
    ]
    via_index = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(
            triples, seeds, max_depth=2, adjacency=adj
        ).collect()
    ]
    assert direct == via_index
    # the index itself is bounded per entity and ranked by strength
    import pyspark.sql.functions as _F

    over = adj.groupBy("src").count().filter(_F.col("count") > 20).count()
    assert over == 0


def _expand_both_ways(monkeypatch, spark, edges, seeds):
    """(driver route, forced over-cap route) results of the decay
    expansion on one synthetic graph — the equality harness for the
    shared hop loop's early-stop and trim bookkeeping. Each route runs
    with and without the adjacency index; those pairs are asserted
    equal inline."""
    triples = spark.createDataFrame(edges, "subj string, obj string, strength double")
    adj = graph_query.build_entity_adjacency(triples, max_connections=20)

    def both():
        plain = [
            (r["name"], r["score"])
            for r in graph_query.expand_with_strength_decay(triples, seeds).collect()
        ]
        via_adj = [
            (r["name"], r["score"])
            for r in graph_query.expand_with_strength_decay(
                triples, seeds, adjacency=adj
            ).collect()
        ]
        assert plain == via_adj
        return plain

    driver = both()
    monkeypatch.setattr(graph_query, "_DRIVER_BEAM_MAX_ROWS", 0)
    return driver, both()


def test_decay_expansion_early_stop_gate(spark, monkeypatch):
    """The early-stop rule (stop after depth 1 when |scores| > 3*cap)
    holds on both routes. Engineered graph: 4 seeds x 20 distinct
    neighbors -> 84 scored names after hop 1 (> 60), so hop 2 must NOT
    run — each neighbor's strong (0.9) second-level edge would
    otherwise outrank the 0.35 hop-1 scores inside the top-40 trim."""
    edges = []
    for i in range(4):
        for j in range(20):
            edges.append((f"s{i}", f"n{i}{j:02d}", 0.5))
            edges.append((f"n{i}{j:02d}", f"m{i}{j:02d}", 0.9))
    driver, over_cap = _expand_both_ways(monkeypatch, spark, edges, [f"s{i}" for i in range(4)])
    assert driver == over_cap
    assert not [n for n, _ in over_cap if n.startswith("m")]
    assert all((f"s{i}", 1.0) in over_cap for i in range(4))


def test_decay_expansion_second_hop_and_trim(spark, monkeypatch):
    """Complement of the gate test: 1 seed x 20 neighbors stays under
    the early-stop bound, so hop 2 DOES run — second-level nodes score
    0.9*0.49 and the 41-name result trims to 2*cap=40 identically on
    both routes (incl. the seed's max-merge against its own hop-2
    back-edge)."""
    edges = []
    for j in range(20):
        edges.append(("s1", f"n{j:02d}", 0.5))
        edges.append((f"n{j:02d}", f"m{j:02d}", 0.9))
    driver, over_cap = _expand_both_ways(monkeypatch, spark, edges, ["s1"])
    assert driver == over_cap
    assert len(over_cap) == 40
    assert ("s1", 1.0) in over_cap
    assert ("m00", round(0.9 * 0.49, 6)) in over_cap


def test_driver_cache_keys_on_plan(spark, tmp_path):
    """The driver adjacency cache keys on the frame's plan as well as
    its files: a filtered view of the same Parquet files must not be
    served the unfiltered frame's adjacency (c is reachable only
    through the filtered-out b-c edge)."""
    path = str(tmp_path / "triples")
    spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.2), ("a", "d", 0.5)],
        "subj string, obj string, strength double",
    ).write.parquet(path)
    t = spark.read.parquet(path)
    full = {r["name"] for r in graph_query.expand_with_strength_decay(t, ["a"]).collect()}
    strong = {
        r["name"]
        for r in graph_query.expand_with_strength_decay(t.filter("strength > 0.4"), ["a"]).collect()
    }
    DRIVER_CACHE.clear()
    assert "c" in full
    assert strong == {"a", "b", "d"}


def test_driver_cache_unpersists_replaced_broadcast(spark, tmp_path):
    """One entry per tag: a new key replaces the entry and releases the
    value it held. A broadcast is unpersisted, never destroyed (lazy
    frames may still read it); a persisted DataFrame is unpersisted; a
    local checkpoint loses its blocks."""
    from pyspark import Broadcast

    from graphrag_spark.session import driver_cached

    class Probe(Broadcast):
        def __init__(self):
            self.unpersisted = False

        def unpersist(self, blocking=False):
            self.unpersisted = True

    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    t = spark.read.parquet(path)
    first = driver_cached(t, "probe", Probe)
    assert driver_cached(t, "probe", Probe) is first
    second = driver_cached(t.filter("id > 0"), "probe", Probe)
    DRIVER_CACHE.pop("probe")
    assert second is not first and first.unpersisted and not second.unpersisted

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cached = spark.range(4).persist()
    cached.count()
    assert driver_cached(t, "frame", lambda: cached) is cached
    ck = spark.range(5).localCheckpoint(eager=True)
    ck_rdd = ck._jdf.queryExecution().analyzed().rdd().id()
    assert driver_cached(t.filter("id > 0"), "frame", lambda: ck) is ck
    level = cached.storageLevel
    assert not (level.useMemory or level.useDisk)
    assert ck_rdd in persistent_rdds()
    driver_cached(t, "frame", lambda: None)
    DRIVER_CACHE.pop("frame")
    assert ck_rdd not in persistent_rdds()


def test_driver_cache_hits_persisted_table(spark, tmp_path):
    """A frame persisted before its first action keys on the files of its
    analyzed plan, so the second call hits; a rewrite of the files
    misses. (``inputFiles()`` reads the optimized plan, an
    InMemoryRelation with no files, so such a frame used to rebuild on
    every call.)"""
    from graphrag_spark.session import driver_cached

    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    t = spark.read.parquet(path).persist()
    first = driver_cached(t, "probe", build)
    t.count()
    hit = driver_cached(t, "probe", build)
    spark.range(5).write.mode("overwrite").parquet(path)
    t2 = spark.read.parquet(path).persist()
    rewritten = driver_cached(t2, "probe", build)
    DRIVER_CACHE.pop("probe", None)
    t.unpersist()
    t2.unpersist()
    assert hit is first
    assert rewritten is not first and len(builds) == 2


def test_j1_edges_built_once_per_chunks_table(kg):
    """The J1 edge set is cached per chunks table as a local checkpoint:
    a caller that persists and unpersists the frame it got (the traced
    benchmark chain does) cannot evict it."""
    e1 = graph_query.chunk_similarity_edges_for(kg["chunks"])
    e1.persist()
    n = e1.count()
    e1.unpersist()
    e2 = graph_query.chunk_similarity_edges_for(kg["chunks"])
    assert e2 is e1 and e2.count() == n > 0


def test_round6_matches_spark_round(spark):
    """``_round6`` (the driver twin of ``F.round(x, 6)``) equals Spark's
    round bit for bit, on both Spark evaluation paths (folded on the
    driver over a local relation, and generated code in tasks): random
    doubles, decimal ties at the 7th digit and their float neighbours,
    large and tiny magnitudes, signed zeros, NaN, infinities and null."""
    import math

    import numpy as np

    from graphrag_spark.session import literal_frame

    rng = np.random.RandomState(7)
    ties = [(k + 0.5) / 1e6 for k in rng.randint(-(10**6), 10**6, 2000)]
    vals = (
        list(rng.uniform(-1, 1, 3000))
        + ties
        + [np.nextafter(x, 2.0) for x in ties]
        + [np.nextafter(x, -2.0) for x in ties]
        + list(rng.uniform(-1e9, 1e9, 500))
        + list(10.0 ** rng.uniform(-12, 12, 500))
        + [0.0, -0.0, 5e-7, -5e-7, 2.5e-7, 1e-7, 0.5, 1.0, 1e300, 5e-324, 8.41e21,
           2.82879384806159e17, math.inf, -math.inf, math.nan]
    )
    rows = [(i, float(v)) for i, v in enumerate(vals)] + [(len(vals), None)]
    df = literal_frame(spark, rows, "i int, x double")
    want = [repr(graph_query._round6(x)) for _i, x in rows]
    for frame in (df, df.repartition(4)):
        got = {r["i"]: repr(r["r"]) for r in frame.select("i", F.round("x", 6).alias("r")).collect()}
        assert [got[i] for i, _x in rows] == want


def test_hybrid_driver_route_equals_dataframe_route(kg, monkeypatch):
    """Under the cap ``hybrid_retrieval`` runs on the driver index;
    forced over it (cap 0) the DataFrame body runs. Both give the same
    rows in the same order for an analytical query (with a path side),
    a comparative and a factual one."""
    args = (kg["chunks"], kg["nodes"], kg["mentions"], kg["triples"])
    queries = (
        "explain the relationship between the partnership and the rollout",
        "compare partnership versus rollout",
        "what is partnership",
    )

    def run():
        return [
            [tuple(r) for r in graph_query.hybrid_retrieval(*args, q, top_k=10).collect()]
            for q in queries
        ]

    DRIVER_CACHE.clear()
    driver = run()
    assert graph_query._driver_retrieval_index(kg["chunks"], kg["nodes"], kg["mentions"])
    monkeypatch.setattr(graph_query, "_DRIVER_BEAM_MAX_ROWS", 0)
    DRIVER_CACHE.clear()
    over_cap = run()
    DRIVER_CACHE.clear()
    assert all(driver) and driver == over_cap
    assert {r[1] for r in driver[0]} & {"path_based", "hybrid_with_paths"}


def test_decay_driver_fast_path_equals_distributed(kg, monkeypatch):
    """r6: the cached-driver-adjacency expansion must equal the
    distributed edge-frame loop row for row on the kg corpus."""
    triples = kg["triples"]
    seeds = [r["subj"] for r in triples.orderBy(F.desc("strength"), "subj").limit(3).collect()]
    fast = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(triples, seeds, max_depth=2).collect()
    ]
    monkeypatch.setattr(graph_query, "_DRIVER_BEAM_MAX_ROWS", 0)
    DRIVER_CACHE.clear()
    slow = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(triples, seeds, max_depth=2).collect()
    ]
    # two queries through one over-cap hop loop: each query's rows equal
    # its own single-query call
    by_q = {"q1": seeds[:1], "q2": seeds[1:]}
    batch = graph_query._batch_decay_frame(triples, by_q, "query_id")
    for q, ss in by_q.items():
        single = [
            (r["name"], r["score"])
            for r in graph_query.expand_with_strength_decay(triples, ss, max_depth=2).collect()
        ]
        got = [
            (r["name"], r["score"])
            for r in batch.filter(F.col("query_id") == q).orderBy(F.desc("score"), "name").collect()
        ]
        assert single and got == single
    DRIVER_CACHE.clear()
    assert fast and fast == slow


def test_adjacency_cap_validated(kg):
    """Round 5 (r4 ADVICE): an adjacency index built with a smaller cap
    than the expansion's max_entity_connections would silently truncate
    every hop — the mismatch must raise, and a disk-loaded index (which
    loses the builder's attribute) can re-attach its cap."""
    triples = kg["triples"]
    seeds = [r["subj"] for r in triples.orderBy(F.desc("strength"), "subj").limit(2).collect()]
    small = graph_query.build_entity_adjacency(triples, max_connections=5)
    with pytest.raises(ValueError, match="max_connections=5"):
        graph_query.expand_with_strength_decay(triples, seeds, adjacency=small)

    # disk round trip drops the attribute; attach_adjacency_cap restores
    # the contract and the validated index serves identically
    full = graph_query.build_entity_adjacency(triples, max_connections=20)
    bare = triples.sparkSession.createDataFrame(full.collect(), full.schema)
    assert getattr(bare, "_graphrag_adj_cap", None) is None
    reattached = graph_query.attach_adjacency_cap(bare, 20)
    direct = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(triples, seeds).collect()
    ]
    via = [
        (r["name"], r["score"])
        for r in graph_query.expand_with_strength_decay(
            triples, seeds, adjacency=reattached
        ).collect()
    ]
    assert direct == via
