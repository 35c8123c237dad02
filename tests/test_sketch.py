"""KMV distinct sketch (operators/sketch.py) vs the pure-Python mirror."""

import random

import pytest
from pyspark.sql import functions as F

from dug_spark.functions import pyoracle as po
from dug_spark.operators import sketch

B = 64


def _vals(spark, rows):
    return spark.createDataFrame(rows, "grp string, v string")


@pytest.fixture(scope="module")
def corpus(spark):
    # two groups with very different cardinalities; deterministic values
    rows = [("a", f"tok{i % 500}") for i in range(2000)]
    rows += [("b", f"tok{i}") for i in range(5000)]
    return _vals(spark, rows)


def test_sketch_matches_python_mirror(spark, corpus):
    got = {
        (r["grp"], r["bucket"]): r["minh"]
        for r in sketch.kmv_sketch(corpus, ["grp"], "v", B).collect()
    }
    vals = {"a": [f"tok{i % 500}" for i in range(2000)],
            "b": [f"tok{i}" for i in range(5000)]}
    want = {}
    for g, vs in vals.items():
        for b, h in po._kmv_mins(vs, B).items():
            want[(g, b)] = h
    assert got == want


def test_estimate_matches_mirror_digit_for_digit(spark, corpus):
    est = {
        r["grp"]: (r["buckets_hit"], r["est_distinct"])
        for r in sketch.kmv_estimate(
            sketch.kmv_sketch(corpus, ["grp"], "v", B), ["grp"], B
        ).collect()
    }
    for g, vs in (
        ("a", [f"tok{i % 500}" for i in range(2000)]),
        ("b", [f"tok{i}" for i in range(5000)]),
    ):
        mins = po._kmv_mins(vs, B)
        assert est[g] == (len(mins), po._kmv_est(mins, B))


def test_estimate_accuracy_in_the_sketch_regime(spark, corpus):
    # relative error ~ 1/sqrt(B) = 12.5%; assert a loose 3-sigma bound
    est = {
        r["grp"]: r["est_distinct"]
        for r in sketch.kmv_estimate(
            sketch.kmv_sketch(corpus, ["grp"], "v", B), ["grp"], B
        ).collect()
    }
    assert abs(est["a"] - 500) / 500 < 0.4
    assert abs(est["b"] - 5000) / 5000 < 0.4


def test_merge_equals_sketch_of_union_exactly(spark):
    rng = random.Random(7)
    rows_a = [("g", f"u{rng.randrange(3000)}") for _ in range(4000)]
    rows_b = [("g", f"u{rng.randrange(3000, 5000)}") for _ in range(2000)]
    sa = sketch.kmv_sketch(_vals(spark, rows_a), ["grp"], "v", B)
    sb = sketch.kmv_sketch(_vals(spark, rows_b), ["grp"], "v", B)
    merged = {
        (r["grp"], r["bucket"]): r["minh"]
        for r in sketch.kmv_merge(sa, sb, ["grp"]).collect()
    }
    direct = {
        (r["grp"], r["bucket"]): r["minh"]
        for r in sketch.kmv_sketch(
            _vals(spark, rows_a + rows_b), ["grp"], "v", B
        ).collect()
    }
    assert merged == direct


def test_overlap_inclusion_exclusion(spark):
    # A = 0..2999, B = 2000..4999 -> |A∩B| = 1000, jaccard = 0.2
    rows_a = [("g", f"u{i}") for i in range(3000)]
    rows_b = [("g", f"u{i}") for i in range(2000, 5000)]
    sa = sketch.kmv_sketch(_vals(spark, rows_a), ["grp"], "v", B)
    sb = sketch.kmv_sketch(_vals(spark, rows_b), ["grp"], "v", B)
    row = sketch.kmv_overlap(sa, sb, ["grp"], B).collect()[0]
    assert abs(row["est_union"] - 5000) / 5000 < 0.4
    # intersection inherits both sides' error; very loose band
    assert 0 <= row["est_intersect"] < 3000
    assert 0.0 <= row["jaccard_est"] <= 1.0


def test_nulls_excluded_like_count_distinct(spark):
    df = spark.createDataFrame(
        [("g", "x"), ("g", None), ("g", "y")], "grp string, v string"
    )
    est = sketch.kmv_estimate(
        sketch.kmv_sketch(df, ["grp"], "v", B), ["grp"], B
    ).collect()[0]
    assert est["buckets_hit"] == 2  # x and y only


def test_sketch_plan_is_one_partial_aggregate(spark, corpus):
    plan = sketch.kmv_sketch(corpus, ["grp"], "v", B)._jdf.queryExecution().executedPlan().toString()
    # map-side combine: a partial_min before the single exchange
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan


# --- Misra-Gries heavy hitters -------------------------------------------


@pytest.fixture(scope="module")
def skewed(spark):
    # zipf-ish: key_0 x 3000, key_1 x 900, key_2 x 300, tail of 2000 singletons
    rows = [("key_0",)] * 3000 + [("key_1",)] * 900 + [("key_2",)] * 300
    rows += [(f"tail_{i}",) for i in range(2000)]
    rows += [(None,)] * 50  # NULL keys must be excluded
    random.Random(7).shuffle(rows)
    return spark.createDataFrame(rows, "k string").repartition(8)


def test_heavy_hitters_exact_vs_groupby(spark, skewed):
    got = {
        r["k"]: r["cnt"]
        for r in sketch.heavy_hitters(skewed, "k", min_count=250, k=64).collect()
    }
    want = {
        r["k"]: r["cnt"]
        for r in skewed.where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 250)
        .collect()
    }
    assert got == want == {"key_0": 3000, "key_1": 900, "key_2": 300}


def test_heavy_hitters_guarantee_violation_raises(spark, skewed):
    # n ~ 6200, k=8 -> n/(k+1) ~ 688 >= min_count=250: must refuse
    with pytest.raises(ValueError, match="MG guarantee"):
        sketch.heavy_hitters(skewed, "k", min_count=250, k=8)


def test_mg_summary_bounded_and_no_false_negatives(spark, skewed):
    k = 64
    s = sketch.mg_partition_summaries(skewed, "k", k)
    rows = s.collect()
    import collections

    per_part = collections.Counter()
    # sentinel rows carry partition totals; real rows are bounded by k.
    n = sum(r["lb"] for r in rows if r["k"] is None)
    assert n == 6200
    merged = collections.Counter()
    for r in rows:
        if r["k"] is not None:
            merged[r["k"]] += r["lb"]
    # MG bound: merged lower bound within n/(k+1) of truth for the hitters
    eps = n // (k + 1)
    for key, true in (("key_0", 3000), ("key_1", 900), ("key_2", 300)):
        assert merged[key] >= true - eps


def test_heavy_hitters_verify_is_broadcast_semi_join(spark, skewed):
    plan = sketch.heavy_hitters(
        skewed, "k", min_count=250, k=64
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


# --- Bloom filter ----------------------------------------------------------

NB, K = 1 << 12, 4


@pytest.fixture(scope="module")
def bloomsets(spark):
    build = [f"val{i}" for i in range(300)]
    probe = [f"val{i}" for i in range(150, 600)] + ["zzz", "yyy"]
    bdf = spark.createDataFrame([(v,) for v in build] + [(None,)], "v string")
    pdf = spark.createDataFrame([(v,) for v in probe], "v string")
    return build, probe, bdf, pdf


def test_bloom_matches_python_mirror(spark, bloomsets):
    build, probe, bdf, pdf = bloomsets
    words = sketch.bloom_words(sketch.bloom_build(bdf, "v", NB, K), NB)
    assert words == po.bloom_words_py(sorted(set(build)), NB, K)
    got = {
        r["v"]: r["might_contain"]
        for r in sketch.bloom_probe(pdf, "v", words, NB, K).collect()
    }
    want = {v: m for v, m, _p in po.bloom_rows(build, probe, NB, K)}
    assert got == want


def test_bloom_no_false_negatives_and_some_fps_reproduce(spark, bloomsets):
    build, probe, bdf, pdf = bloomsets
    rows = po.bloom_rows(build, probe, NB, K)
    assert all(m for _v, m, p in rows if p)  # present => might_contain
    # with 300 keys in 4096 bits the FP rate is real; the exact FP set is
    # deterministic — it IS the oracle surface, not noise
    fps = [v for v, m, p in rows if m and not p]
    assert fps == sorted(fps)


def test_bloom_merge_equals_union_build(spark, bloomsets):
    _b, _p, bdf, pdf = bloomsets
    a = sketch.bloom_build(bdf.limit(100), "v", NB, K)
    b = sketch.bloom_build(bdf.subtract(bdf.limit(100)), "v", NB, K)
    merged = {
        (r["word_idx"], r["word"])
        for r in sketch.bloom_merge(a, b).collect()
    }
    direct = {
        (r["word_idx"], r["word"])
        for r in sketch.bloom_build(bdf, "v", NB, K).collect()
    }
    assert merged == direct


def test_bloom_pandas_probe_equals_jvm(spark, bloomsets):
    build, _p, bdf, pdf = bloomsets
    words = sketch.bloom_words(sketch.bloom_build(bdf, "v", NB, K), NB)
    jvm = sketch.bloom_probe(pdf, "v", words, NB, K).collect()
    pnd = sketch.bloom_probe(pdf, "v", words, NB, K, use_pandas=True).collect()
    assert sorted(map(tuple, jvm)) == sorted(map(tuple, pnd))


def test_bloom_build_single_exchange(spark, bloomsets):
    _b, _p, bdf, _pdf = bloomsets
    plan = (
        sketch.bloom_build(bdf, "v", NB, K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1 and "bit_or" in plan


# ---------------------------------------------------------------------------
# Count-min sketch


@pytest.fixture(scope="module")
def cms_corpus(spark):
    # zipf-ish token stream: tok0 hot, long tail; deterministic
    rows = [("a", f"tok{i % 7}") for i in range(700)]
    rows += [("b", f"tail{i}") for i in range(300)]
    return _vals(spark, rows)


def test_cms_matches_python_mirror(spark, cms_corpus):
    vals = [r["v"] for r in cms_corpus.collect()]
    want = {t: (e, n) for t, e, n in po.cms_rows(vals, width=64, depth=4)}
    cms = sketch.cms_build(cms_corpus, "v", width=64, depth=4)
    probe = cms_corpus.groupBy(F.col("v")).agg(F.count(F.lit(1)).alias("true_n"))
    got = {
        r["v"]: (r["est"], r["true_n"])
        for r in sketch.cms_estimate(cms, probe, "v", width=64, depth=4).collect()
    }
    assert got == want


def test_cms_one_sided_and_exact_when_wide(spark, cms_corpus):
    # est >= true always; with width >> vocab the estimate is exact
    probe = cms_corpus.groupBy(F.col("v")).agg(F.count(F.lit(1)).alias("true_n"))
    narrow = sketch.cms_estimate(
        sketch.cms_build(cms_corpus, "v", width=64, depth=4),
        probe, "v", width=64, depth=4,
    ).collect()
    assert all(r["est"] >= r["true_n"] for r in narrow)
    wide = sketch.cms_estimate(
        sketch.cms_build(cms_corpus, "v", width=1 << 14, depth=4),
        probe, "v", width=1 << 14, depth=4,
    ).collect()
    assert all(r["est"] == r["true_n"] for r in wide)


def test_cms_merge_equals_union_build(spark, cms_corpus):
    a = cms_corpus.where(F.col("grp") == "a")
    b = cms_corpus.where(F.col("grp") == "b")
    merged = sketch.cms_merge(
        sketch.cms_build(a, "v", width=64, depth=4),
        sketch.cms_build(b, "v", width=64, depth=4),
    )
    union = sketch.cms_build(cms_corpus, "v", width=64, depth=4)
    asdict = lambda df: {(r["d"], r["w"]): r["n"] for r in df.collect()}
    assert asdict(merged) == asdict(union)


def test_cms_weighted_and_unseen_and_null(spark):
    df = spark.createDataFrame(
        [("x", 10), ("y", 5), ("x", 1)], "v string, wt long"
    )
    cms = sketch.cms_build(df, "v", width=32, depth=3, weight_col="wt")
    probe = spark.createDataFrame(
        [("x",), ("y",), ("zz_unseen",), (None,)], "v string"
    )
    got = {
        r["v"]: r["est"]
        for r in sketch.cms_estimate(cms, probe, "v", width=32, depth=3).collect()
    }
    assert got["x"] >= 11 and got["y"] >= 5
    # an unseen key can only overshoot via collisions, never undershoot 0
    assert got["zz_unseen"] >= 0
    assert got[None] == 0
