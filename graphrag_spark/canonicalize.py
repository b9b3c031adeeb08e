"""Canonicalization: connected components over alias/exact-key edges.

The reference's only build-time canonicalization is exact-key merge
(core/entity_extraction.py:552-557) plus soft aliasing through
SIMILAR_TO edges (core/graph_db.py:343-425). Per the north star we
extend this into true canonicalization: connected components over the
union of exact-key edges, alias-dictionary edges, and (optionally)
high-similarity edges.

Two execution strategies, auto-selected by edge count:

1. **Driver union-find** (``n_edges <= driver_max_edges``): the CC
   graph here is *vocabulary-bounded* — distinct surface forms and
   alias targets, O(10^4..10^6) regardless of corpus size — so, like
   the driver-materialized broadcast maps elsewhere in the pipeline,
   it is collected once (a single LIMIT-guarded job) and solved with
   path-compressed union-find in microseconds. This removes the
   iterative loop's per-iteration job barriers entirely: on an
   amplified corpus they are pure *serial* wall-time that Amdahl's law
   charges against scaling efficiency (BASELINE.md round-3 analysis),
   and on a real cluster they are driver round-trips that no executor
   count amortizes. The returned labels frame is a driver-created
   literal, so downstream joins against it broadcast without
   re-executing any subtree.

2. **Distributed label propagation** (above the bound, e.g. an
   open-vocabulary extractor at corpus scale): a DataFrame-only loop
   (no GraphFrames, no RDDs). Per iteration: propagate neighbor labels
   along (symmetrized) edges, take the per-node min via an (optionally
   salted two-phase) aggregation so hub components don't funnel
   through single reducers (SURVEY.md §4 item 2), then pointer-double
   (jump to the label's own label) for O(log diameter) convergence.
   Convergence detection is FUSED into the iteration: because labels
   are monotone non-increasing and edges are symmetric, "no node saw a
   neighbor label below its own" implies labels are constant within
   every component (for edge (u,v): l(u) <= l(v) and l(v) <= l(u)) and
   pointer doubling is then the identity — so a per-row
   ``min(neighbor) < own`` flag, scanned from the just-checkpointed
   result (no extra join, no extra shuffle), is an exact convergence
   test. Each iteration ``localCheckpoint()``s to cut the growing
   lineage (SURVEY.md §4 item 1); shuffles are sized to the component
   graph, not the corpus, by an explicit partition count on every
   exchange: the session's ``spark.sql.shuffle.partitions`` is never
   changed, since a stage planned on another thread would pick it up.

Both paths produce identical output (component = min reachable node
id; UTF-8 binary string order equals Python's code-point order) and
both are covered by the networkx-oracle tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from .session import literal_frame

CC_SALT_BUCKETS = 16
MAX_ITERATIONS = 25

# Below this many edges the graph is collected and solved driver-side
# (one job); above it, the distributed loop runs. 2M edges ≈ tens of
# MB on the driver — same ceiling philosophy as the surface-map
# materialization guard (normalize._MAX_SURFACE_MAP_ROWS).
DRIVER_CC_MAX_EDGES = 2_000_000

# Below this many edges the salted two-phase reduce is pure overhead
# (an extra shuffle per iteration on a graph that fits in a handful of
# partitions); above it, hub components would otherwise funnel all
# their messages through single reducers.
SALT_MIN_EDGES = 1_000_000


def _two_phase_min(df: DataFrame, key: str, value: str, salt_buckets: int, parts: int) -> DataFrame:
    """groupBy(key).min(value) over ``parts`` hash partitions of key,
    salted (two-phase) when salt_buckets>1."""
    if salt_buckets > 1:
        df = (
            df.withColumn("salt", F.pmod(F.xxhash64(key, value), F.lit(salt_buckets)).cast("int"))
            .repartition(parts, key, "salt")
            .groupBy(key, "salt")
            .agg(F.min(value).alias(value))
        )
    return df.repartition(parts, key).groupBy(key).agg(F.min(value).alias(value))


def _union_find_labels(edge_rows: list[tuple]) -> list[tuple]:
    """Path-compressed, size-united union-find over collected edges ->
    sorted [(node, min_reachable_node)]."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    rep_min: dict = {}
    for n in parent:
        r = find(n)
        m = rep_min.get(r)
        if m is None or n < m:
            rep_min[r] = n
    return sorted((n, rep_min[find(n)]) for n in parent)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    salt_buckets: int = CC_SALT_BUCKETS,
    max_iterations: int = MAX_ITERATIONS,
    cc_partitions: int | None = None,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """edges(src, dst) -> (node, component) where component = min node id
    reachable. Deterministic for any input order.

    ``driver_max_edges`` gates the driver union-find fast path (0
    disables it — tests use this to force the distributed loop).
    ``cc_partitions`` sizes the loop's shuffles to the *component
    graph* (distinct surfaces/aliases — vocabulary-bounded), not the
    corpus; auto-sized from the edge count when not given."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()

    spark = edges.sparkSession
    node_type = edges.schema[src].dataType
    label_schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("component", node_type)]
    )

    if driver_max_edges > 0:
        # LIMIT-guarded collect: one job decides the route AND fetches
        # the edges when small (no separate count, no checkpoint)
        head = e.limit(driver_max_edges + 1).collect()
        if len(head) <= driver_max_edges:
            labels = _union_find_labels([(r[0], r[1]) for r in head])
            return literal_frame(spark, labels, label_schema)
        e = e.localCheckpoint(eager=True)  # the big path reuses the scan
    else:
        e = e.localCheckpoint(eager=True)

    n_edges = 2 * e.count()  # both directions: a bound on the symmetric edge count
    if cc_partitions is None:
        cc_partitions = max(2, min(256, n_edges // 100_000 + 2))
    if n_edges < SALT_MIN_EDGES and salt_buckets == CC_SALT_BUCKETS:
        # vocabulary-sized graph: skip the extra phase (an explicit
        # salt_buckets argument is honored — tests force the salted path)
        salt_buckets = 1

    # hash-partitioned by src, the distinct needs no second exchange
    bidir = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(cc_partitions, "src")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        bidir.select(F.col("src").alias("node"))
        .union(bidir.select(F.col("dst").alias("node")))
        .repartition(cc_partitions, "node")
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iterations):
        # per-node min over neighbor labels (edges are symmetric, so
        # every node receives at least one message)
        by_node = labels.repartition(cc_partitions, "node")
        nbr = _two_phase_min(
            bidir.join(by_node, bidir.src == by_node.node)
            .select(F.col("dst").alias("node"), F.col("component")),
            "node", "component", salt_buckets, cc_partitions,
        ).withColumnRenamed("component", "nbr_min")
        merged = (
            by_node.join(nbr, "node")
            .select(
                "node",
                F.least("component", "nbr_min").alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("chg"),
            )
        )
        # pointer doubling: jump to the label's own label (<= label,
        # since labels are monotone non-increasing) -> O(log diameter)
        # iterations instead of O(diameter)
        lbl2 = merged.select(
            F.col("node").alias("cnode"), F.col("component").alias("ccomp")
        ).repartition(cc_partitions, "cnode")
        new_labels = (
            merged.repartition(cc_partitions, "component")
            .join(lbl2, merged.component == lbl2.cnode, "left")
            .select("node", F.coalesce("ccomp", "component").alias("component"), "chg")
            .localCheckpoint(eager=True)
        )
        labels = new_labels.drop("chg")
        # convergence: no neighbor-min beat an own label anywhere
        # (then doubling was the identity too — see module docstring).
        # Scans the just-checkpointed partitions: no join, no shuffle.
        if new_labels.filter("chg").limit(1).count() == 0:
            break
    return labels.select("node", "component")
