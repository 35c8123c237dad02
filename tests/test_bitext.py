"""Margin-based bitext mining (similarity.margin_bitext)."""

import math

from dug_spark.operators import similarity as sim


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _unit(angle, dim=4):
    v = [0.0] * dim
    v[0], v[1] = math.cos(angle), math.sin(angle)
    return v


def test_clean_translation_pairs_are_mined(spark):
    # three src vectors, each with one obvious near-duplicate in tgt and
    # distractors elsewhere: all three pairs must be mined mutually
    src = _emb(spark, [(i, _unit(0.5 * i)) for i in range(3)])
    tgt = _emb(
        spark,
        [(100 + i, _unit(0.5 * i + 0.01)) for i in range(3)]
        + [(200, _unit(2.0)), (201, _unit(2.5))],
    )
    got = {
        (r.src_id, r.tgt_id)
        for r in sim.margin_bitext(src, tgt, k=2, threshold=1.0).collect()
    }
    assert {(0, 100), (1, 101), (2, 102)} <= got


def test_mutual_is_subset_of_forward_only(spark):
    src = _emb(spark, [(i, _unit(0.3 * i)) for i in range(5)])
    tgt = _emb(spark, [(50 + i, _unit(0.21 * i + 0.05)) for i in range(5)])
    mutual = {
        (r.src_id, r.tgt_id)
        for r in sim.margin_bitext(src, tgt, k=2, mutual=True).collect()
    }
    fwd = {
        (r.src_id, r.tgt_id)
        for r in sim.margin_bitext(src, tgt, k=2, mutual=False).collect()
    }
    assert mutual <= fwd


def test_threshold_is_monotone(spark):
    src = _emb(spark, [(i, _unit(0.3 * i)) for i in range(4)])
    tgt = _emb(spark, [(50 + i, _unit(0.3 * i + 0.12)) for i in range(4)])
    lo = sim.margin_bitext(src, tgt, k=2, threshold=0.9).count()
    hi = sim.margin_bitext(src, tgt, k=2, threshold=1.05).count()
    assert hi <= lo


def test_hub_vector_is_demoted(spark):
    # tgt 999 is a hub: moderately close to EVERY src; tgt 100 is the
    # true match of src 0 only.  Raw cosine could prefer the hub for
    # some src; the margin criterion must still pair src 0 with 100
    # (the hub's denominator — its own avg-k neighborhood — is high).
    src = _emb(spark, [(0, _unit(0.0)), (1, _unit(1.2)), (2, _unit(2.4))])
    hub = _unit(1.2)  # equidistant-ish from all three src directions
    tgt = _emb(
        spark,
        [(100, _unit(0.02)), (101, _unit(1.18)), (102, _unit(2.42)), (999, hub)],
    )
    pairs = {
        (r.src_id, r.tgt_id)
        for r in sim.margin_bitext(src, tgt, k=3, threshold=0.0, mutual=True).collect()
    }
    assert (0, 100) in pairs and (2, 102) in pairs
    assert (0, 999) not in pairs and (2, 999) not in pairs


def test_blocked_with_full_candidates_equals_exact(spark):
    from pyspark.sql import functions as F

    src = _emb(spark, [(i, _unit(0.3 * i)) for i in range(4)])
    tgt = _emb(spark, [(50 + i, _unit(0.3 * i + 0.07)) for i in range(4)])
    cands = (
        src.select(F.col("vec_id").alias("src_id"))
        .crossJoin(tgt.select(F.col("vec_id").alias("tgt_id")))
    )
    exact = {
        (r.src_id, r.tgt_id, r.margin)
        for r in sim.margin_bitext(src, tgt, k=2).collect()
    }
    blocked = {
        (r.src_id, r.tgt_id, r.margin)
        for r in sim.margin_bitext_blocked(src, tgt, cands, k=2).collect()
    }
    assert blocked == exact


def test_blocked_restricted_candidates_only_score_candidates(spark):
    src = _emb(spark, [(i, _unit(0.3 * i)) for i in range(4)])
    tgt = _emb(spark, [(50 + i, _unit(0.3 * i + 0.07)) for i in range(4)])
    cands = spark.createDataFrame(
        [(0, 50), (1, 51)], "src_id long, tgt_id long"
    )
    got = {
        (r.src_id, r.tgt_id)
        for r in sim.margin_bitext_blocked(
            src, tgt, cands, k=2, threshold=0.0
        ).collect()
    }
    assert got <= {(0, 50), (1, 51)}
    assert got  # the true pairs among candidates survive election
