"""Bit-identity of the vectorized cosine kernel (round-6 optimization).

`similarity._cos_pairs_udf` replaces the interpreted
aggregate/zip_with fold in the ANN re-rank paths; these tests pin the
claim that the numpy cumsum formulation produces the EXACT same doubles
(not merely close), so every oracle hash downstream is unchanged by
construction.
"""

from __future__ import annotations

import random

import pytest

from dug_spark.operators import similarity


@pytest.fixture(scope="module")
def spark():
    from dug_spark.session import get_spark

    return get_spark("test_similarity_vec", cores=4, shuffle_partitions=4)


def _pairs_df(spark, n=300, dim=17, seed=11):
    rng = random.Random(seed)
    rows = [
        (
            i,
            [rng.gauss(0, 1) * rng.choice([1e-6, 1.0, 1e6]) for _ in range(dim)],
            [rng.gauss(0, 1) for _ in range(dim)],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    )


def test_cos_udf_bit_identical_to_fold_expressions(spark):
    df = _pairs_df(spark)
    fold = (
        similarity._dot("a", "b")
        / (similarity._norm("a") * similarity._norm("b"))
    ).alias("cos")
    vec = similarity._cos_pairs_udf()("a", "b").alias("cos")
    got_fold = {r["id"]: r["cos"] for r in df.select("id", fold).collect()}
    got_vec = {r["id"]: r["cos"] for r in df.select("id", vec).collect()}
    assert got_fold == got_vec  # exact double equality, no tolerance


def test_cos_udf_matches_python_sequential_fold(spark):
    df = _pairs_df(spark, n=50, dim=64, seed=5)
    rows = df.collect()
    got = {
        r["id"]: r["cos"]
        for r in df.select(
            "id", similarity._cos_pairs_udf()("a", "b").alias("cos")
        ).collect()
    }
    import math

    for r in rows:
        acc = 0.0
        for x, y in zip(r["a"], r["b"]):
            acc = acc + x * y
        na = 0.0
        for x in r["a"]:
            na = na + x * x
        nb = 0.0
        for y in r["b"]:
            nb = nb + y * y
        expect = acc / (math.sqrt(na) * math.sqrt(nb))
        assert got[r["id"]] == expect
