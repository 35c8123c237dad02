"""Incremental component merge (canonicalize.merge_components)."""

import random

from dug_spark.operators import canonicalize


def _solve(spark, pairs):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    return canonicalize.connected_components_star(edges)


def _merge(spark, labels, pairs):
    inc = spark.createDataFrame(pairs, "src string, dst string")
    return {
        (r.id, r.comp)
        for r in canonicalize.merge_components(labels, inc).collect()
    }


def test_merge_equals_full_resolve_on_random_splits(spark):
    rng = random.Random(11)
    n = 50
    all_pairs = [
        (f"n{rng.randrange(n):02d}", f"n{rng.randrange(n):02d}")
        for _ in range(60)
    ]
    all_pairs = [(a, b) for a, b in all_pairs if a != b]
    for cut in (10, 30, 50):
        base, inc = all_pairs[:cut], all_pairs[cut:]
        labels = _solve(spark, base)
        got = _merge(spark, labels, inc)
        want = {(r.id, r.comp) for r in _solve(spark, all_pairs).collect()}
        assert got == want, f"cut {cut}"


def test_merge_bridges_two_old_components_and_adds_new_nodes(spark):
    labels = _solve(spark, [("a", "b"), ("x", "y")])
    # new node chain q-r bridging nothing, plus b-x bridging the comps
    got = _merge(spark, labels, [("q", "r"), ("b", "x")])
    assert got == {
        ("a", "a"), ("b", "a"), ("x", "a"), ("y", "a"),
        ("q", "q"), ("r", "q"),
    }


def test_merge_new_node_becomes_component_min(spark):
    labels = _solve(spark, [("m", "n")])
    # new node 'a0' smaller than every old member joins the component:
    # the merged comp id must be the new global min
    got = _merge(spark, labels, [("a0", "n")])
    assert got == {("m", "a0"), ("n", "a0"), ("a0", "a0")}


def test_empty_increment_is_identity(spark):
    labels = _solve(spark, [("a", "b"), ("x", "y")])
    inc = spark.createDataFrame([], "src string, dst string")
    got = {
        (r.id, r.comp)
        for r in canonicalize.merge_components(labels, inc).collect()
    }
    assert got == {(r.id, r.comp) for r in labels.collect()}


def test_redundant_increment_changes_nothing(spark):
    base = [("a", "b"), ("b", "c")]
    labels = _solve(spark, base)
    got = _merge(spark, labels, [("a", "c")])  # already same component
    assert got == {("a", "a"), ("b", "a"), ("c", "a")}


def test_cc_driver_path_matches_distributed(spark):
    """The small-graph driver fast path must reproduce the distributed
    min-propagation fixpoint exactly — including on an UN-symmetrized
    edge list, where propagation is directed (src→dst only)."""
    from dug_spark.operators import canonicalize

    edges = [
        ("a", "b"), ("b", "c"),          # chain
        ("x", "z"), ("y", "z"),          # two sources into one sink
        ("m", "m2"), ("m2", "m"),        # 2-cycle
        ("q", "q"),                      # self-loop
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {
        (r["id"], r["comp"])
        for r in canonicalize.connected_components(df).collect()
    }
    slow = {
        (r["id"], r["comp"])
        for r in canonicalize.connected_components(
            df, driver_cutoff_edges=0
        ).collect()
    }
    assert fast == slow
