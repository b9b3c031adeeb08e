"""The benchmark's workloads: ``checkpoint`` and ``serve``.

A workload function takes a ``Run`` and returns its metric values.
The traced form (``run.tracer`` set, event log on) makes the same calls
in the same order, each layer call inside a span with its own Spark
job group, and adds the values only a trace can give; ``run.py`` then
folds the event log into the per-layer metrics. Where the program
defers several layers to one set of jobs (``graph_rag_query``), the
traced serve run makes, in place of the timed requests, a copy of the
node chain that forces each node in its own span.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from . import inputs
from .eventlog import GroupStats
from .tracing import Tracer

ROOT = Path(__file__).resolve().parent.parent
CHECKPOINT_DOCS = 150
SERVE_DOCS = 300
# one stored graph serves every seed (the seed picks the queries): a
# graph per seed would add a whole checkpoint build to every serve run
SERVE_GRAPH_SEED = 0
SERVE_BATCH = 8
# traced serve runs the node chain once per retrieval route: graph
# expansion (comparative) and the plain dispatcher (factual)
CHAIN_CLASSES = ("comparative", "factual")
SETUP_REPEATS = 3
CORPUS_FILES = 8
CHECKPOINT_STAGES = ("chunks", "extracted", "entities", "cmap", "nodes", "mentions", "triples")
SERVE_TABLES = ("chunks", "nodes", "mentions", "triples")
SERVE_NODES = (
    "query_analysis.analyze", "graph_rag.retrieve", "graph_query.sim_edges",
    "graph_query.reason", "generation.sources",
)
BATCH_NODES = (
    "graph_rag.batch_retrieve", "graph_query.batch_reason",
    "generation.batch_sources", "token_budget.batches",
)
MIN_PR = 0.95


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: Path  # scratch of this run, removed at exit
    cache: Path  # inputs kept across runs
    session_s: float = 0.0  # wall of the session start, part of setup_s
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            log(f"check failed: {what}")

    @property
    def setup_repeats(self) -> int:
        """A traced run prints no ``setup_s``: it sets up once."""
        return SETUP_REPEATS if self.tracer is None else 1

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stored_mb(dirs) -> float:
    """Bytes of the data files under ``dirs`` (checksums and markers excluded)."""
    total = 0
    for d in dirs:
        for p in Path(d).rglob("*"):
            if p.is_file() and not p.name.startswith((".", "_")):
                total += p.stat().st_size
    return total / 1e6


def triple_pr(triples_df, oracle: set) -> tuple[float, float]:
    from graphrag_spark.oracle.refport import precision_recall, triple_keys

    ours = triple_keys([r.asDict() for r in triples_df.select("subj", "pred", "obj").collect()])
    return precision_recall(ours, oracle)


def _check_pr(run: Run, p: float, r: float) -> None:
    run.check(p >= MIN_PR and r >= MIN_PR, f"triple P/R {p:.4f}/{r:.4f} below {MIN_PR}")


def _check_traced(run: Run, groups: dict[str, GroupStats], names, jobless=()) -> None:
    """Every layer ran under its span and, unless pure Python, ran Spark
    jobs in its group: a renamed span or a bypassed wrapper would
    otherwise print as a layer that costs nothing."""
    counts = run.tracer.count_by_name()
    for name in names:
        run.check(counts.get(name, 0) > 0, f"no span {name}")
        if name not in jobless:
            run.check(groups.get(name, GroupStats()).jobs > 0, f"no Spark job in group {name}")


# --------------------------------------------------------------- checkpoint


def _setup_corpus(run: Run, n_docs: int) -> tuple[float, Path]:
    """Generate and write the seeded corpus SETUP_REPEATS times; the
    median, after the session start, is ``setup_s`` and the last copy
    is the input."""
    walls = []
    for i in range(run.setup_repeats):
        path = run.work / f"corpus{i}"
        t0 = time.perf_counter()
        inputs.write_corpus(inputs.span_docs(run.seed, n_docs), path, CORPUS_FILES)
        walls.append(time.perf_counter() - t0)
    return run.session_s + statistics.median(walls), path


@contextmanager
def _stage_spans(run: Run):
    """Trace each ``materialize.write_table`` call — KGPipeline makes one
    per stage — as span ``pipeline.<stage>``."""
    if run.tracer is None:
        yield
        return
    import graphrag_spark.materialize as materialize

    original = materialize.write_table

    def traced(df, path, *args, **kwargs):
        with run.span(f"pipeline.{Path(path).name}"):
            return original(df, path, *args, **kwargs)

    materialize.write_table = traced
    try:
        yield
    finally:
        materialize.write_table = original


def checkpoint(run: Run) -> dict[str, float]:
    """``KGPipeline.run(resume=False)`` into a fresh work dir, triples
    forced: ``latency_s``, the first pipeline run of the process, as a
    spark-submit user pays it. Then ``KGPipeline.run(resume=True)`` on
    the same dir until the run has measured ``seconds`` (at least once);
    every resume must reuse all stages. Traced, KGPipeline's work
    outside the stage writes falls in ``pipeline.lineage``. The oracle
    (pure Python, cached by seed) runs after the timed work."""
    from graphrag_spark.pipeline import KGPipeline

    setup_s, corpus = _setup_corpus(run, CHECKPOINT_DOCS)
    wd = run.work / "kg"

    def fresh():
        with run.span("pipeline.lineage"), _stage_spans(run):
            return KGPipeline(run.spark, str(corpus), str(wd)).run(resume=False)["triples"].count()

    latency_s, n_triples = _timed(fresh)
    run.check(n_triples > 0, "checkpoint committed no triples")
    resumes: list[float] = []
    while not resumes or latency_s + sum(resumes) < run.seconds:
        pipe = KGPipeline(run.spark, str(corpus), str(wd))
        with run.span("pipeline.resume"):
            wall, n = _timed(lambda: pipe.run(resume=True)["triples"].count())
        resumes.append(wall)
        run.check(n == n_triples and not pipe.stage_times, "resume recomputed a stage")
    log(f"checkpoint {latency_s:.2f}s ({n_triples} triples), resume " + " ".join(f"{w:.2f}" for w in resumes))
    oracle = inputs.oracle_keys(run.cache, run.seed, CHECKPOINT_DOCS)
    with run.span("check"):
        p, r = triple_pr(run.spark.read.parquet(str(wd / "triples")), oracle)
    _check_pr(run, p, r)
    values = {
        "setup_s": setup_s,
        "latency_s": latency_s,
        "stored_mb": stored_mb(wd / s for s in CHECKPOINT_STAGES),
        "triple_precision": p,
        "triple_recall": r,
    }
    if run.tracer is not None:
        # against latency_s of an untraced run: the tracing overhead
        values["trace.latency_s"] = latency_s
        values.update(_checkpoint_ratios(run, wd, n_triples))
    return values


def _checkpoint_ratios(run: Run, wd: Path, n_triples: int) -> dict[str, float]:
    """Useful-outcome ratios, counted from the committed tables after the
    timed work: triples per windowed co-occurrence pair (the rel rows
    ``extraction.rels_from_occurrences`` derives from the committed
    occurrences) and the share of entities the alias dictionary linked."""
    from graphrag_spark.extraction import rels_from_occurrences

    spark = run.spark
    with run.span("check"):
        n_pairs = rels_from_occurrences(spark.read.parquet(str(wd / "extracted"))).count()
        ents = spark.read.parquet(str(wd / "entities"))
        n_ents = ents.count()
        n_hits = ents.filter("dictionary_hit").count()
    return {
        "materialize.triples.pair_yield": n_triples / max(n_pairs, 1),
        "linking.link_hit_ratio": n_hits / max(n_ents, 1),
    }


def checkpoint_layers(run: Run, groups: dict[str, GroupStats]) -> dict[str, float]:
    tr = run.tracer
    _check_traced(run, groups, [f"pipeline.{s}" for s in CHECKPOINT_STAGES] + ["pipeline.resume"])
    walls = tr.wall_by_name()
    out: dict[str, float] = {}
    for stage in CHECKPOINT_STAGES:
        name = f"pipeline.{stage}"
        g = groups.get(name, GroupStats())
        out.update({
            f"{name}.wall_s": walls.get(name, 0.0),
            f"{name}.cpu_s": g.cpu_s,
            f"{name}.gc_s": g.gc_s,
            f"{name}.shuffle_read_bytes": g.shuffle_read_bytes,
            f"{name}.shuffle_write_bytes": g.shuffle_write_bytes,
            f"{name}.spill_bytes": g.spill_bytes,
            f"{name}.bytes_written": g.bytes_written,
            f"{name}.rows_out": g.records_written,
            f"{name}.jobs": g.jobs,
        })
        if stage in ("chunks", "extracted"):
            out.update({
                f"{name}.py_sent_bytes": g.py_sent_bytes,
                f"{name}.py_returned_bytes": g.py_returned_bytes,
                f"{name}.py_run_s": g.py_run_s,
            })
    stage_wall = sum(walls.get(f"pipeline.{s}", 0.0) for s in CHECKPOINT_STAGES)
    n_resumes = max(tr.count_by_name().get("pipeline.resume", 0), 1)
    out["pipeline.lineage_s"] = walls.get("pipeline.lineage", 0.0) - stage_wall
    out["pipeline.lineage_jobs"] = groups.get("pipeline.lineage", GroupStats()).jobs
    out["pipeline.resume_s"] = walls.get("pipeline.resume", 0.0) / n_resumes
    out["pipeline.resume_jobs"] = groups.get("pipeline.resume", GroupStats()).jobs / n_resumes
    return out


# -------------------------------------------------------------------- serve


def program_digest() -> str:
    """Hash of the program's sources and of the corpus generator: the
    stored graph is the output of the code under test, so each version
    builds and checks its own."""
    h = hashlib.sha256()
    files = sorted(
        p for p in (ROOT / "graphrag_spark").rglob("*")
        if p.is_file() and "__pycache__" not in p.parts
    )
    for p in files + [ROOT / "perfbench" / "inputs.py"]:
        h.update(p.relative_to(ROOT).as_posix().encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def serve_graph_dir(cache: Path) -> Path:
    return cache / f"graph-s{SERVE_GRAPH_SEED}-n{SERVE_DOCS}-{program_digest()}"


def build_serve_graph(run: Run) -> None:
    """Commit the stored graph — KGPipeline's tables over SERVE_DOCS
    documents — and its triple P/R against the oracle. ``run.py`` calls
    this in a process of its own, so a serving process starts as cold
    whether or not it had to build the graph first."""
    from graphrag_spark.pipeline import KGPipeline

    final = serve_graph_dir(run.cache)
    tmp = run.work / final.name
    docs = inputs.span_docs(SERVE_GRAPH_SEED, SERVE_DOCS)
    inputs.write_corpus(docs, tmp / "corpus", CORPUS_FILES)
    out = KGPipeline(run.spark, str(tmp / "corpus"), str(tmp / "kg")).run(resume=False)
    p, r = triple_pr(out["triples"], inputs.oracle_keys(run.cache, SERVE_GRAPH_SEED, SERVE_DOCS))
    (tmp / "quality.json").write_text(json.dumps({"triple_precision": p, "triple_recall": r}))
    tmp.replace(final)


def _load_graph(spark, kg: Path) -> list:
    tables = []
    for name in SERVE_TABLES:
        df = spark.read.parquet(str(kg / name)).persist()
        df.count()
        tables.append(df)
    return tables


def serve(run: Run) -> dict[str, float]:
    """Closed loop, one client: whole cycles of the seeded comparative /
    analytical / factual requests until the run has measured
    ``seconds``, so every class counts equally at any speed.
    ``latency_s`` is the median request latency. The first request of
    the process also pays Python-worker start and JIT; the comparative
    one, slowest warm, takes it, so the median stays a warm latency.
    Traced, the node chain runs instead, once per CHAIN_CLASSES query,
    then one batch of SERVE_BATCH seeded queries: the timed requests
    too would take a traced run past the time a run may take on a
    slow host."""
    graph = serve_graph_dir(run.cache)
    kg_dir = graph / "kg"
    walls, kg = [], None
    for _ in range(run.setup_repeats):
        if kg is not None:
            for df in kg:
                df.unpersist()
        w, kg = _timed(lambda: _load_graph(run.spark, kg_dir))
        walls.append(w)
    setup_s = run.session_s + statistics.median(walls)
    quality = json.loads((graph / "quality.json").read_text())
    _check_pr(run, quality["triple_precision"], quality["triple_recall"])

    mix = inputs.query_mix(run.seed, len(inputs.QUERY_TEMPLATES) + SERVE_BATCH)
    cycle, batch = mix[:len(inputs.QUERY_TEMPLATES)], mix[len(inputs.QUERY_TEMPLATES):]
    values = {
        "setup_s": setup_s,
        "stored_mb": stored_mb(kg_dir / t for t in SERVE_TABLES),
        **quality,
    }
    if run.tracer is not None:
        for qtype, query in cycle:
            if qtype in CHAIN_CLASSES:
                _node_chain(run, kg, query)
        values["serve.batch_qps"] = SERVE_BATCH / _traced_batch(run, kg, batch)
        return values
    walls = []
    while len(walls) % len(cycle) or sum(walls) < run.seconds:
        walls.append(_request(run, kg, cycle[len(walls) % len(cycle)][1]))
    log("requests " + " ".join(f"{w:.2f}" for w in walls))
    values["latency_s"] = statistics.median(walls)
    return values


def _request(run: Run, kg: list, query: str) -> float:
    """One ``graph_rag_query`` request, forced through its sources."""
    from graphrag_spark.graph_rag import graph_rag_query

    def go():
        out = graph_rag_query(*kg, query, top_k=5)
        rows = out["sources"].collect()
        out["retrieved"].unpersist()
        return rows

    wall, rows = _timed(go)
    run.check(len(rows) > 0, f"no sources for {query!r}")
    return wall


def _node_chain(run: Run, kg: list, query: str) -> None:
    """``graph_rag_query``'s node chain, in its order, each node forced
    under its own span. A copy of that function, to be kept in step
    with it: the real one defers retrieval and the J1 edge build to one
    job set, which no job group can split. Here the J1 edge set is
    persisted and forced in ``graph_query.sim_edges`` so the reason
    node does not re-run it; the chain's total is therefore not a
    request latency."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from graphrag_spark import graph_query
    from graphrag_spark.generation import prepare_sources, response_metadata
    from graphrag_spark.graph_rag import retrieve_documents
    from graphrag_spark.query_analysis import py_analyze_query, py_detect_follow_up

    chunks, nodes, mentions, triples = kg
    with run.span("query_analysis.analyze"):
        analysis = py_analyze_query(query)
        analysis.update(py_detect_follow_up(query))
    with run.span("graph_rag.retrieve"):
        retrieved = retrieve_documents(chunks, nodes, mentions, triples, query, top_k=5).persist()
        retrieved.count()
    with run.span("graph_query.sim_edges"):
        sim_edges = graph_query.chunk_similarity_edges_for(chunks).persist()
        sim_edges.count()
    with run.span("graph_query.reason"):
        ranked = retrieved.select(
            "chunk_id",
            F.row_number().over(Window.orderBy(F.desc("score"), "chunk_id")).alias("rank"),
        )
        enhanced = graph_query.graph_reasoning_enhance(ranked, sim_edges, chunks)
        context = retrieved.unionByName(
            enhanced.filter(F.col("source") == "graph_expansion").select(
                "chunk_id", F.lit("graph_expansion").alias("source"),
                F.col("similarity").alias("score"),
            )
        ).localCheckpoint(eager=True)
    with run.span("generation.sources"):
        rows = prepare_sources(context, chunks, mentions, nodes).collect()
        response_metadata(context, analysis)
    retrieved.unpersist()
    sim_edges.unpersist()
    run.check(len(rows) > 0, f"no sources for {query!r} in the node chain")


def _traced_batch(run: Run, kg: list, queries: list[tuple[str, str]]) -> float:
    """``batch_graph_rag_query``'s node chain, each node forced."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from graphrag_spark import graph_query
    from graphrag_spark.generation import prepare_sources
    from graphrag_spark.graph_rag import batch_retrieve_documents
    from graphrag_spark.query_analysis import analyze_queries
    from graphrag_spark.token_budget import token_batches

    chunks, nodes, mentions, triples = kg
    qdf = run.spark.createDataFrame(
        [(f"q{i}", q) for i, (_t, q) in enumerate(queries)], "query_id string, query string"
    )
    t0 = time.perf_counter()
    with run.span("graph_rag.batch_retrieve"):
        analysis = analyze_queries(qdf, "query")
        retrieved = batch_retrieve_documents(
            chunks, nodes, mentions, triples, qdf, top_k=5
        ).localCheckpoint(eager=True)
    with run.span("graph_query.batch_reason"):
        rw = Window.partitionBy("query_id").orderBy(F.desc("score"), "chunk_id")
        ranked = retrieved.select("query_id", "chunk_id", F.row_number().over(rw).alias("rank"))
        sim_edges = graph_query.chunk_similarity_edges_for(chunks)
        enhanced = graph_query.batch_graph_reasoning_enhance(ranked, sim_edges, chunks, id_col="query_id")
        context = retrieved.unionByName(
            enhanced.filter(F.col("source") == "graph_expansion").select(
                "query_id", "chunk_id", F.lit("graph_expansion").alias("source"),
                F.col("similarity").alias("score"),
            )
        ).localCheckpoint(eager=True)
    with run.span("generation.batch_sources"):
        sources = prepare_sources(context, chunks, mentions, nodes, keys=["query_id"]).collect()
        metadata = (
            analysis.select("query_id", "query_type", "complexity")
            .join(
                context.filter(F.col("score") > 0.0).groupBy("query_id").agg(F.count("*").alias("chunks_used")),
                "query_id", "left",
            )
            .collect()
        )
    with run.span("token_budget.batches"):
        cw = Window.partitionBy("query_id").orderBy(F.desc("score"), "chunk_id")
        n_batches = token_batches(
            context.withColumn("chunk_index", F.row_number().over(cw) - 1)
            .join(chunks.select("chunk_id", "content"), "chunk_id")
            .join(qdf, "query_id")
            .select("query_id", "query", "chunk_index", "content")
        ).count()
    wall = time.perf_counter() - t0
    asked = {f"q{i}" for i in range(len(queries))}
    run.check({r["query_id"] for r in sources} == asked, "batch query without sources")
    run.check(len(metadata) == len(queries), "batch metadata rows != queries")
    run.check(n_batches > 0, "batch produced no token batches")
    return wall


def serve_layers(run: Run, groups: dict[str, GroupStats]) -> dict[str, float]:
    tr = run.tracer
    _check_traced(run, groups, SERVE_NODES + BATCH_NODES,
                  jobless=("query_analysis.analyze",))  # pure Python
    walls = tr.wall_by_name()
    counts = tr.count_by_name()
    n_chains = max(counts.get("graph_rag.retrieve", 0), 1)
    out: dict[str, float] = {}
    for name in SERVE_NODES:  # per-request means
        g = groups.get(name, GroupStats())
        out[f"{name}.wall_s"] = walls.get(name, 0.0) / n_chains
        out[f"{name}.jobs"] = g.jobs / n_chains
        out[f"{name}.cpu_s"] = g.cpu_s / n_chains
    for name in BATCH_NODES:  # one batch
        g = groups.get(name, GroupStats())
        out[f"{name}.wall_s"] = walls.get(name, 0.0)
        out[f"{name}.jobs"] = g.jobs
        out[f"{name}.cpu_s"] = g.cpu_s
    out["serve.jobs_per_query"] = sum(groups.get(n, GroupStats()).jobs for n in SERVE_NODES) / n_chains
    return out
