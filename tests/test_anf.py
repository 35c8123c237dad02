"""Approximate neighborhood function (graph.neighborhood_function) vs
the bit-exact FM mirror (pyoracle.anf_rows)."""

from dug_spark.functions import pyoracle as po
from dug_spark.operators import graph


def _run(spark, pairs, hops=3):
    df = spark.createDataFrame(pairs, "src string, dst string")
    got = sorted(map(tuple, graph.neighborhood_function(df, hops=hops).collect()))
    want = sorted(po.anf_rows(pairs, hops=hops))
    assert got == want, (got[:4], want[:4])
    return got


def test_cycle_matches_mirror(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")])


def test_estimates_monotone_in_hop(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    rows = _run(spark, pairs, hops=4)
    by_node = {}
    for node, hop, s, est in rows:
        by_node.setdefault(node, []).append((hop, s))
    for node, seq in by_node.items():
        ss = [s for _h, s in sorted(seq)]
        assert ss == sorted(ss), f"{node}: FM statistic must be monotone in hop"


def test_sink_saturates_at_self(spark):
    # f has no out-edges: its sketch never grows past its own bit
    pairs = [("a", "b"), ("b", "f")]
    rows = _run(spark, pairs, hops=3)
    f_rows = [(h, s) for n, h, s, _e in rows if n == "f"]
    assert len({s for _h, s in f_rows}) == 1


def test_clique_reaches_everything_in_one_hop(spark):
    ns = ["a", "b", "c", "d"]
    pairs = [(x, y) for x in ns for y in ns if x != y]
    rows = _run(spark, pairs, hops=2)
    one = {n: s for n, h, s, _e in rows if h == 1}
    two = {n: s for n, h, s, _e in rows if h == 2}
    assert one == two  # saturated at hop 1


def test_effective_reach_orders_center_vs_leaf(spark):
    """Star center reaches n nodes in 1 hop; leaves reach only the
    center — the hop-1 FM statistic must rank center above every leaf."""
    pairs = [("hub", f"l{i}") for i in range(12)] + [
        (f"l{i}", "hub") for i in range(12)
    ]
    rows = _run(spark, pairs, hops=1)
    stats = {n: s for n, h, s, _e in rows}
    assert all(stats["hub"] >= stats[f"l{i}"] for i in range(12))
