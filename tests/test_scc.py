"""Strongly connected components (graph.strongly_connected_components)
vs the iterative-Tarjan mirror (pyoracle.scc_rows)."""

from dug_spark.functions import pyoracle as po
from dug_spark.operators import graph


def _run(spark, pairs):
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted(
        map(tuple, graph.strongly_connected_components(df).collect())
    )
    want = po.scc_rows(pairs)
    assert got == want, (got, want)
    return dict(got)


def test_two_sccs_and_tendrils(spark):
    # {a,b} and {c,d} cycles, bridge b->c, tendril d->e
    sccs = _run(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "d"), ("d", "c"), ("d", "e")],
    )
    assert sccs["a"] == sccs["b"] == "a"
    assert sccs["c"] == sccs["d"] == "c"
    assert sccs["e"] == "e"


def test_dag_is_all_singletons(spark):
    sccs = _run(spark, [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")])
    assert sorted(sccs.values()) == ["a", "b", "c", "d"]


def test_one_big_cycle(spark):
    n = 12
    pairs = [(f"n{i:02d}", f"n{(i + 1) % n:02d}") for i in range(n)]
    sccs = _run(spark, pairs)
    assert set(sccs.values()) == {"n00"}


def test_self_loop_is_singleton(spark):
    sccs = _run(spark, [("a", "a"), ("a", "b"), ("b", "c"), ("c", "b")])
    assert sccs["a"] == "a" and sccs["b"] == sccs["c"] == "b"


def test_bowtie(spark):
    """Broder-style bowtie: IN -> CORE (3-cycle) -> OUT."""
    pairs = [
        ("in1", "c1"), ("in2", "c1"),
        ("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
        ("c2", "out1"), ("out1", "out2"),
    ]
    sccs = _run(spark, pairs)
    assert sccs["c1"] == sccs["c2"] == sccs["c3"] == "c1"
    for n in ("in1", "in2", "out1", "out2"):
        assert sccs[n] == n


def test_nested_same_color_sccs(spark):
    """Two SCCs in ONE forward-color class (a reaches everything): the
    backward confirm must separate them across outer rounds."""
    pairs = [
        ("a", "b"), ("b", "a"),      # SCC {a,b}
        ("b", "x"), ("x", "y"), ("y", "x"),  # SCC {x,y}, colored by a
    ]
    sccs = _run(spark, pairs)
    assert sccs["a"] == sccs["b"] == "a"
    assert sccs["x"] == sccs["y"] == "x"


def test_web_host_graph_matches_mirror(spark, sf_dir):
    doc_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    pairs = po.web_edges_py(doc_ids)
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted(map(tuple, graph.strongly_connected_components(df).collect()))
    assert got == po.scc_rows(pairs)
