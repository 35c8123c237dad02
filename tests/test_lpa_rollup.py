"""Label-propagation communities + taxonomy rollup (operators/graph.py):
golden values on hand-checkable graphs and parity against independent
pure-Python recomputes of the same deterministic rules."""

import pytest

from dug_spark.operators import graph


def _py_lpa(pairs, iterations=5):
    """Independent recompute: synchronous rounds, min-label ties."""
    adj = {}
    for s, d in pairs:
        if s == d or s is None or d is None:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    label = {v: v for v in adj}
    for _ in range(iterations):
        new = {}
        for v, nbrs in adj.items():
            votes = {}
            for u in nbrs:
                votes[label[u]] = votes.get(label[u], 0) + 1
            new[v] = min(votes, key=lambda lb: (-votes[lb], lb))
        label = new
    return label


def _labels(df):
    return {r["node"]: r["label"] for r in df.collect()}


@pytest.fixture
def edges_df(spark):
    def make(pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    return make


def test_lpa_two_cliques_with_bridge(spark, edges_df):
    # two triangles joined by one bridge edge: canonical two-community case
    pairs = [
        ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
        ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
        ("a3", "b1"),
    ]
    got = _labels(graph.label_propagation(edges_df(pairs), iterations=5))
    exp = _py_lpa(pairs, iterations=5)
    assert got == exp
    # the two triangle cores end in distinct communities
    assert got["a1"] == got["a2"] and got["b2"] == got["b3"]
    assert got["a1"] != got["b2"]


def test_lpa_matches_python_on_tree(spark, edges_df):
    pairs = [(f"n{i}", f"n{i // 2}") for i in range(1, 32)]
    got = _labels(graph.label_propagation(edges_df(pairs), iterations=4))
    assert got == _py_lpa(pairs, iterations=4)


def test_lpa_ignores_self_loops_and_direction(spark, edges_df):
    pairs = [("a", "b"), ("b", "a"), ("a", "a"), ("c", "b")]
    got = _labels(graph.label_propagation(edges_df(pairs), iterations=3))
    assert got == _py_lpa(pairs, iterations=3)
    assert set(got) == {"a", "b", "c"}


def test_lpa_shuffle_join_parity(spark, edges_df):
    pairs = [(f"n{i}", f"n{(i * 7) % 13}") for i in range(1, 13)]
    a = _labels(graph.label_propagation(edges_df(pairs), iterations=3))
    b = _labels(
        graph.label_propagation(
            edges_df(pairs), iterations=3, broadcast_labels=False
        )
    )
    assert a == b


def _py_rollup(pairs, counts):
    # closure by BFS per node (small test graphs)
    children = {}
    for c, p in pairs:
        children.setdefault(p, set()).add(c)
    nodes = {s for s, _ in pairs} | {d for _, d in pairs} | set(counts)
    out = {}
    for v in nodes:
        seen, frontier = set(), children.get(v, set())
        while frontier:
            seen |= frontier
            frontier = {
                g for c in frontier for g in children.get(c, set())
            } - seen
        own = counts.get(v, 0)
        out[v] = (own, len(seen), own + sum(counts.get(d, 0) for d in seen))
    return out


def test_rollup_binary_tree(spark, edges_df):
    pairs = [(f"n{i}", f"n{i // 2}") for i in range(2, 16)]
    counts = {f"n{i}": i for i in range(1, 16)}
    cdf = spark.createDataFrame(list(counts.items()), "node string, n long")
    got = {
        r["node"]: (r["own"], r["n_desc"], r["subtree"])
        for r in graph.taxonomy_rollup(edges_df(pairs), cdf).collect()
    }
    assert got == _py_rollup(pairs, counts)
    # root subtree = total mass
    assert got["n1"][2] == sum(counts.values())


def test_rollup_diamond_counts_once(spark, edges_df):
    # d → b, d → c, b → a, c → a: a must count d ONCE
    pairs = [("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")]
    counts = {"a": 1, "b": 1, "c": 1, "d": 10}
    cdf = spark.createDataFrame(list(counts.items()), "node string, n long")
    got = {
        r["node"]: (r["own"], r["n_desc"], r["subtree"])
        for r in graph.taxonomy_rollup(edges_df(pairs), cdf).collect()
    }
    assert got["a"] == (1, 3, 13)
    assert got == _py_rollup(pairs, counts)


def test_rollup_node_without_count_and_count_without_edge(spark, edges_df):
    pairs = [("b", "a")]
    cdf = spark.createDataFrame([("b", 5), ("z", 7)], "node string, n long")
    got = {
        r["node"]: (r["own"], r["n_desc"], r["subtree"])
        for r in graph.taxonomy_rollup(edges_df(pairs), cdf).collect()
    }
    assert got["a"] == (0, 1, 5)   # no own count, child b rolls up
    assert got["b"] == (5, 0, 5)
    assert got["z"] == (7, 0, 7)   # isolated counted node still emitted
