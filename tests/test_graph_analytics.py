"""Triangle counting / clustering coefficient (graph.triangle_counts) and
NPMI co-mention weighting (triples.co_mention_npmi): golden values on
hand-checkable graphs plus pure-Python mirrors on larger inputs."""

import math
from itertools import combinations

import pytest

from dug_spark.operators import graph
from dug_spark.operators import triples as triples_op


def _tri_rows(df):
    return {
        r["node"]: (r["degree"], r["triangles"], r["clustering"])
        for r in df.collect()
    }


def _py_triangles(pairs):
    adj = {}
    edges = set()
    for a, b in pairs:
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        if (lo, hi) in edges:
            continue
        edges.add((lo, hi))
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    tri = {v: 0 for v in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    out = {}
    for v in adj:
        d = len(adj[v])
        cc = 2.0 * tri[v] / (d * (d - 1)) if d >= 2 else 0.0
        out[v] = (d, tri[v], round(cc, 6))
    return out


@pytest.fixture
def edges_df(spark):
    def make(pairs):
        return spark.createDataFrame(pairs, "src string, dst string")

    return make


def test_single_triangle(spark, edges_df):
    got = _tri_rows(graph.triangle_counts(edges_df([("a", "b"), ("b", "c"), ("c", "a")])))
    assert got == {"a": (2, 1, 1.0), "b": (2, 1, 1.0), "c": (2, 1, 1.0)}


def test_k4_every_node_in_three_triangles(spark, edges_df):
    pairs = [(a, b) for a, b in combinations("abcd", 2)]
    got = _tri_rows(graph.triangle_counts(edges_df(pairs)))
    assert all(got[v] == (3, 3, 1.0) for v in "abcd")


def test_star_has_no_triangles(spark, edges_df):
    pairs = [("hub", f"leaf{i}") for i in range(5)]
    got = _tri_rows(graph.triangle_counts(edges_df(pairs)))
    assert got["hub"] == (5, 0, 0.0)
    assert got["leaf0"] == (1, 0, 0.0)


def test_direction_parallel_edges_and_self_loops_ignored(spark, edges_df):
    pairs = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
             ("b", "c"), ("a", "c")]
    got = _tri_rows(graph.triangle_counts(edges_df(pairs)))
    assert got == _py_triangles(pairs)


def test_triangles_match_python_mirror_on_dense_graph(spark, edges_df):
    # deterministic pseudo-random graph, includes high-degree hub
    nodes = [f"n{i:02d}" for i in range(24)]
    pairs = [("hub", v) for v in nodes]
    pairs += [
        (nodes[i], nodes[(i * 7 + 3) % 24])
        for i in range(24)
    ]
    pairs += [(nodes[i], nodes[(i + 1) % 24]) for i in range(0, 24, 2)]
    got = _tri_rows(graph.triangle_counts(edges_df(pairs)))
    assert got == _py_triangles(pairs)


# ---------------------------------------------------------------------------
# NPMI co-mention weighting


def _npmi_mirror(docs):
    """docs: list of concept sets (one per document)."""
    n = len([d for d in docs if d])
    marg = {}
    for d in docs:
        for c in set(d):
            marg[c] = marg.get(c, 0) + 1
    co = {}
    for d in docs:
        for a, b in combinations(sorted(set(d)), 2):
            co[(a, b)] = co.get((a, b), 0) + 1
    out = {}
    for (a, b), cxy in co.items():
        pmi = math.log(cxy * n / (marg[a] * marg[b]))
        den = math.log(n / cxy)
        out[(a, b)] = (cxy, 1.0 if den == 0 else round(pmi / den, 5))
    return out


def _mentions_df(spark, docs):
    rows = [
        (f"doc{i}", c)
        for i, d in enumerate(docs)
        for c in d
    ]
    return spark.createDataFrame(rows, "element_id string, curie string")


def test_npmi_always_together_is_one(spark):
    docs = [{"X:1", "Y:2"}, {"X:1", "Y:2"}]
    got = {
        (r["src"], r["dst"]): (r["n_co"], r["npmi"])
        for r in triples_op.co_mention_npmi(_mentions_df(spark, docs)).collect()
    }
    assert got == {("X:1", "Y:2"): (2, 1.0)}


def test_npmi_independent_pair_near_zero(spark):
    # a co-occurs with b in 1 of 4 docs; marginals 2/4 each → pmi = 0
    docs = [{"a", "b"}, {"a", "c"}, {"b", "d"}, {"c", "d"}]
    got = {
        (r["src"], r["dst"]): r["npmi"]
        for r in triples_op.co_mention_npmi(_mentions_df(spark, docs)).collect()
    }
    assert got[("a", "b")] == pytest.approx(0.0, abs=1e-9)


def test_npmi_matches_python_mirror(spark):
    docs = [
        {"a", "b", "c"},
        {"a", "b"},
        {"b", "c", "d"},
        {"a", "d"},
        {"c"},
        {"a", "b", "d"},
    ]
    got = {
        (r["src"], r["dst"]): (r["n_co"], r["npmi"])
        for r in triples_op.co_mention_npmi(_mentions_df(spark, docs)).collect()
    }
    exp = _npmi_mirror(docs)
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert got[k][1] == pytest.approx(exp[k][1], abs=2e-5)


def test_npmi_dup_mentions_count_once_and_fanout_cap(spark):
    rows = [("d0", "a"), ("d0", "a"), ("d0", "b")]
    df = _mentions_df(spark, [])
    df = df.sparkSession.createDataFrame(rows, "element_id string, curie string")
    got = triples_op.co_mention_npmi(df).collect()
    assert len(got) == 1 and got[0]["n_co"] == 1
    # cap: a doc over the concept fan-out bound contributes nothing
    wide = [(f"d1", f"c{i}") for i in range(70)]
    df2 = df.sparkSession.createDataFrame(
        rows + wide, "element_id string, curie string"
    )
    got2 = triples_op.co_mention_npmi(df2, max_concepts_per_doc=64).collect()
    assert {(r["src"], r["dst"]) for r in got2} == {("a", "b")}
