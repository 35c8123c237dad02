"""BGP matcher (bgp.match_bgp) vs a brute-force pure-Python binder, and
bounded_reachability vs a hop-limited BFS mirror, its laziness and its
job count."""

import itertools
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dug_spark.operators import bgp
from dug_spark.plans.snapshots import SnapshotTable

TRIPLES = [
    ("d1", "HAS_CONCEPT", "c1"),
    ("d1", "HAS_CONCEPT", "c2"),
    ("d2", "HAS_CONCEPT", "c2"),
    ("d2", "HAS_CONCEPT", "c3"),
    ("d3", "HAS_CONCEPT", "c1"),
    ("c1", "biolink:subclass_of", "p1"),
    ("c2", "biolink:subclass_of", "p1"),
    ("c3", "biolink:subclass_of", "p2"),
    ("c1", "co_mentioned_with", "c2"),
    ("c2", "co_mentioned_with", "c3"),
    ("x", "loops_to", "x"),
]


def _df(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def _brute(patterns, distinct=True):
    """Enumerate all assignments of triples to patterns; keep consistent
    variable bindings."""
    vars_all = sorted(
        {t[1:] for p in patterns for t in p if t.startswith("?")}
    )
    out = []
    for combo in itertools.product(TRIPLES, repeat=len(patterns)):
        env = {}
        ok = True
        for (s, pr, o), pat in zip(combo, patterns):
            for val, term in zip((s, pr, o), pat):
                if term.startswith("?"):
                    v = term[1:]
                    if env.setdefault(v, val) != val:
                        ok = False
                        break
                elif val != term:
                    ok = False
                    break
            if not ok:
                break
        if ok:
            out.append(tuple(env[v] for v in vars_all))
    return set(out) if distinct else sorted(out)


def _run(spark, patterns, **kw):
    df = bgp.match_bgp(_df(spark), patterns, **kw)
    assert df.columns == sorted(df.columns)  # deterministic var order
    return {tuple(r) for r in df.collect()}


def test_single_pattern_const_pred(spark):
    pats = [("?s", "HAS_CONCEPT", "?o")]
    assert _run(spark, pats) == _brute(pats)


def test_chain_two_hop(spark):
    pats = [("?doc", "HAS_CONCEPT", "?c"), ("?c", "biolink:subclass_of", "?p")]
    assert _run(spark, pats) == _brute(pats)


def test_star_and_edge(spark):
    pats = [
        ("?doc", "HAS_CONCEPT", "?a"),
        ("?doc", "HAS_CONCEPT", "?b"),
        ("?a", "co_mentioned_with", "?b"),
    ]
    assert _run(spark, pats) == _brute(pats)


def test_bound_entity_broadcast_path(spark):
    pats = [("?doc", "HAS_CONCEPT", "c2"), ("?doc", "HAS_CONCEPT", "?other")]
    assert _run(spark, pats) == _brute(pats)


def test_repeated_var_within_pattern(spark):
    pats = [("?n", "loops_to", "?n")]
    assert _run(spark, pats) == {("x",)}


def test_bag_semantics(spark):
    # d1/d2 each prove (?doc HAS_CONCEPT c2) once -> 2 rows either way,
    # but a var-free projection duplicate shape: use two-pattern proof
    pats = [("?doc", "HAS_CONCEPT", "?c")]
    rows = bgp.match_bgp(_df(spark), pats, distinct=False).collect()
    assert len(rows) == len(_brute(pats, distinct=False))


def test_product_rejected_and_opt_in(spark):
    pats = [("?a", "HAS_CONCEPT", "?b"), ("?x", "loops_to", "?y")]
    with pytest.raises(ValueError, match="disconnected"):
        bgp.match_bgp(_df(spark), pats)
    assert _run(spark, pats, allow_product=True) == _brute(pats)


def test_constant_only_pattern_rejected(spark):
    with pytest.raises(ValueError, match="constant-only"):
        bgp.match_bgp(_df(spark), [("d1", "HAS_CONCEPT", "c1")])


def test_empty_patterns_rejected(spark):
    with pytest.raises(ValueError, match="empty"):
        bgp.match_bgp(_df(spark), [])


# ---------------------------------------------------------------- k-hop

EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
    ("b", "e"), ("e", "f"),
    ("z", "z"),  # self loop
]


def _bfs(seed, k):
    adj = {}
    for s, d in EDGES:
        adj.setdefault(s, set()).add(d)
    out, frontier, seen = {}, {seed}, {seed}
    for hop in range(1, k + 1):
        frontier = {m for n in frontier for m in adj.get(n, ())} - seen
        for m in frontier:
            out[(seed, m)] = hop
        seen |= frontier
    return out


@pytest.mark.parametrize("k", [1, 2, 3, 10])
def test_bounded_reachability(spark, k):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("z",)], "seed string")
    got = {
        (r["seed"], r["node"]): r["hops"]
        for r in bgp.bounded_reachability(e, seeds, k).collect()
    }
    want = {**_bfs("a", k), **_bfs("z", k)}
    assert got == want


def test_bounded_reachability_excludes_seed(spark):
    # first-reach semantics: the seed is visited at hop 0, so coming back
    # around the 4-cycle does NOT re-report it (and hop 0 isn't emitted)
    e = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "seed string")
    got = bgp.bounded_reachability(e, seeds, 6).collect()
    assert not [r for r in got if r["node"] == "a"]
    assert {r["node"] for r in got} == {"b", "c", "d", "e", "f"}


def test_bounded_reachability_bad_hops(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "seed string")
    with pytest.raises(ValueError):
        bgp.bounded_reachability(e, seeds, 0)


@contextmanager
def _jobs(spark, group):
    """Yields a list that holds, after the block, the block's job count
    (read from Spark's status store once the listener bus is drained)."""
    sc = spark.sparkContext
    out = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _plan_nodes(df):
    return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())


def test_bounded_reachability_is_one_lazy_linear_plan(spark):
    """Building the query runs no job (the per-hop localCheckpoint and
    isEmpty probe ran several before any action), and the plan grows
    linearly in max_hops: an anti-join loop that reads the previous hop
    twice would grow as 2^k."""
    e = spark.createDataFrame(EDGES, "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("z",)], "seed string")
    with _jobs(spark, "reach_build") as n:
        five = bgp.bounded_reachability(e, seeds, 5)
        ten = bgp.bounded_reachability(e, seeds, 10)
    assert n == [0]
    assert _plan_nodes(ten) <= 2.5 * _plan_nodes(five)


def test_bounded_reachability_over_snapshot_delta_job_count(spark, tmp_path):
    """A 2-hop reach over a merge-on-read snapshot with one pending
    delta, as a served KG answers it: 5 jobs on the local test session
    (broadcast of the tombstone suffix, broadcast of the edges, one
    aggregate shuffle per hop, the result).  The per-hop checkpoint loop
    ran 21."""
    docs = {f"d{i}": {f"c{(i * j) % 7}" for j in (1, 2, 3)} for i in range(12)}
    t = SnapshotTable(str(tmp_path / "kg"))

    def triples(ds):
        return spark.createDataFrame(
            [(d, "HAS_CONCEPT", c) for d in ds for c in sorted(docs[d])],
            "subj string, pred string, obj string")

    t.overwrite(triples(sorted(docs)), partition_by=["pred"])
    docs["d3"] = {"c6", "c9"}
    docs["d5"] = set()
    t.delta(triples(["d3"]),
            spark.createDataFrame([("d3",), ("d5",)], "subj string"),
            partition_by=["pred"])

    snap = t.read(spark).select("subj", "obj")
    edges = snap.select(F.col("obj").alias("src"), F.col("subj").alias("dst")).unionByName(
        snap.select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    seeds = spark.createDataFrame([("c3",)], "seed string")
    with _jobs(spark, "reach_2hop") as n:
        got = {r["node"]: r["hops"]
               for r in bgp.bounded_reachability(edges, seeds, 2).collect()}
    want = {d: 1 for d, cs in docs.items() if "c3" in cs}
    want.update({c: 2 for d in list(want) for c in docs[d] if c != "c3"})
    assert got == want
    assert "d3" not in got and "d5" not in got  # their c3 rows are tombstoned
    assert n[0] <= 5, n


# ------------------------------------------------- cost-based ordering

def test_order_patterns_cheapest_first_connected():
    metas = [({"a", "b"}, 1000.0), ({"b", "c"}, 10.0), ({"c", "d"}, 500.0)]
    # cheapest (1) first; then the cheaper of the two connected (2); 0 last
    assert bgp._order_patterns(metas, False) == [1, 2, 0]


def test_order_patterns_stays_connected_even_if_dearer():
    # cheapest remaining (idx 2, est 5) shares no var with the bound set
    # until idx 1 joins — the planner must not jump to it early
    metas = [({"a"}, 1.0), ({"a", "b"}, 1000.0), ({"b"}, 5.0)]
    assert bgp._order_patterns(metas, False) == [0, 1, 2]


def test_estimate_rare_pred_beats_more_constants():
    stats = {"rare": 10, "common": 10_000_000}
    rare = bgp._estimate(("?x", "rare", "?y"), 1, stats)
    common_bound = bgp._estimate(("?x", "common", "K"), 2, stats)
    assert rare < common_bound  # 10 < 10M/100


def test_pred_stats_and_stats_mode_equal_results(spark):
    df = _df(spark)
    stats = bgp.pred_stats(df)
    assert stats["HAS_CONCEPT"] == 5 and stats["biolink:subclass_of"] == 3
    pats = [
        ("?doc", "HAS_CONCEPT", "?a"),
        ("?doc", "HAS_CONCEPT", "?b"),
        ("?a", "co_mentioned_with", "?b"),
    ]
    plain = {tuple(r) for r in bgp.match_bgp(df, pats).collect()}
    with_stats = {
        tuple(r) for r in bgp.match_bgp(df, pats, stats=stats).collect()
    }
    assert plain == with_stats == _brute(pats)


def test_stats_mode_broadcast_threshold(spark):
    # everything under the threshold -> broadcast joins in the plan
    df = _df(spark)
    out = bgp.match_bgp(
        df,
        [("?d", "HAS_CONCEPT", "?c"), ("?c", "biolink:subclass_of", "?p")],
        stats=bgp.pred_stats(df),
        broadcast_max_rows=1000,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" in plan or "broadcast" in plan.lower()
