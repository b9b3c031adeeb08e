"""Connected-components (driver union-find fast path AND distributed
label-propagation loop) vs networkx oracle (SURVEY.md §5.2 item 5) —
chains, stars (hub skew), cliques, singleton-free random graphs."""

from __future__ import annotations

import networkx as nx
import numpy as np
import pytest

from graphrag_spark.canonicalize import connected_components

# driver_max_edges=default -> union-find fast path (graphs here are
# tiny); driver_max_edges=0 -> the distributed loop, exactly the path
# a past-the-bound open-vocabulary graph takes
BOTH_PATHS = pytest.mark.parametrize(
    "cc_kwargs",
    [{}, {"driver_max_edges": 0}],
    ids=["driver_union_find", "distributed_loop"],
)


def _check(spark, edges: list[tuple[str, str]], cc_kwargs: dict):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, **cc_kwargs).collect()
    }
    g = nx.Graph()
    g.add_edges_from(edges)
    for comp in nx.connected_components(g):
        labels = {got[n] for n in comp}
        assert len(labels) == 1, f"component split: {comp} -> {labels}"
        assert labels == {min(comp)}, f"label should be min node id: {comp}"
    assert set(got) == set(g.nodes)


@BOTH_PATHS
def test_chain(spark, cc_kwargs):
    _check(spark, [(f"n{i:03d}", f"n{i+1:03d}") for i in range(30)], cc_kwargs)


@BOTH_PATHS
def test_star_hub(spark, cc_kwargs):
    # hub-skew star: one hub connected to 500 leaves
    _check(spark, [("hub", f"leaf{i:04d}") for i in range(500)], cc_kwargs)


@BOTH_PATHS
def test_disjoint_cliques(spark, cc_kwargs):
    edges = []
    for c in range(5):
        nodes = [f"c{c}_{i}" for i in range(6)]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]]
    _check(spark, edges, cc_kwargs)


@BOTH_PATHS
def test_random_graph(spark, cc_kwargs):
    rng = np.random.RandomState(7)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (nodes[int(rng.randint(len(nodes)))], nodes[int(rng.randint(len(nodes)))])
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, cc_kwargs)


@BOTH_PATHS
def test_two_stars_bridged(spark, cc_kwargs):
    edges = [("a_hub", f"a{i}") for i in range(50)]
    edges += [("b_hub", f"b{i}") for i in range(50)]
    edges += [("a_hub", "b_hub")]
    _check(spark, edges, cc_kwargs)


def test_salted_path_forced(spark):
    """Explicit salt_buckets forces the two-phase reduce even on small
    graphs (the size gate only applies to the default), so the salted
    code path stays covered: star hub vs networkx."""
    edges = [("hub", f"leaf{i:04d}") for i in range(300)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, salt_buckets=8, driver_max_edges=0
        ).collect()
    }
    assert set(got.values()) == {"hub"}
    assert len(got) == 301


def test_paths_agree(spark):
    """Driver union-find and distributed loop produce identical labels
    on the same graph (diameter > 2 so the loop actually iterates)."""
    rng = np.random.RandomState(11)
    edges = [(f"p{i:03d}", f"p{i+1:03d}") for i in range(0, 60, 2)]  # chains
    nodes = [f"q{i:03d}" for i in range(80)]
    edges += [
        (nodes[int(rng.randint(80))], nodes[int(rng.randint(80))]) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = sorted(map(tuple, connected_components(df).collect()))
    loop = sorted(map(tuple, connected_components(df, driver_max_edges=0).collect()))
    assert fast == loop


def test_distributed_loop_leaves_session_conf(spark, monkeypatch):
    """The distributed loop sizes its shuffles with explicit partition
    counts: it sets no session conf (a stage planned concurrently
    would see it) and gives the union-find labels."""
    from pyspark.sql.conf import RuntimeConfig

    edges = [("hub", f"leaf{i:03d}") for i in range(40)]
    edges += [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(30)]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = sorted(map(tuple, connected_components(df).collect()))
    before = spark.conf.get("spark.sql.shuffle.partitions")

    def no_set(self, key, value):
        raise AssertionError(f"session conf set: {key}={value}")

    monkeypatch.setattr(RuntimeConfig, "set", no_set)
    for salt in (1, 4):
        got = connected_components(df, driver_max_edges=0, salt_buckets=salt, cc_partitions=3)
        assert sorted(map(tuple, got.collect())) == want
    monkeypatch.undo()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
