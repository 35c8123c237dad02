"""Corpus profiling quantiles (textstats.corpus_profile)."""

import pytest

from dug_spark.operators import textstats as ts


def test_corpus_profile_exact_quantiles(spark):
    rows = [(i, "x" * n, "en") for i, n in enumerate([10, 20, 30, 40, 100])]
    rows += [(9, None, "de")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r["grp"]: r for r in ts.corpus_profile(df).collect()}
    en = got["en"]
    assert en["n_docs"] == 5 and en["total_chars"] == 200
    assert en["mean_chars"] == 40.0
    assert en["p50_chars"] == 30.0
    # p95 over [10,20,30,40,100]: rank 0.95*4 = 3.8 → 40 + 0.8*60 = 88
    assert en["p95_chars"] == pytest.approx(88.0)
    assert got["de"]["total_chars"] == 0 and got["de"]["p50_chars"] == 0.0
