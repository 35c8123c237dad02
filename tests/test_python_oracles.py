"""Validate the pure-Python recomputation oracles
(dug_spark/functions/pyoracle.py — XXH64 from the public spec + operator
recomputes) against the Spark operators at sf0.001.  The same module
generates the VALUES oracles __spark_entry__ hands to the driver's DuckDB
gate for the xxhash64/hyperplane query families."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dug_spark.functions import pyoracle as po
from dug_spark.operators import dedup, similarity

SF = "/root/testdata/sf0.001"
_M = (1 << 64) - 1


@pytest.fixture(scope="module")
def docs30(spark):
    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id") < 30)
        .select("doc_id", "text")
        .collect()
    )
    return [(r["doc_id"], r["text"]) for r in rows]


@pytest.fixture(scope="module")
def alldocs(spark):
    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    return [(r["doc_id"], r["text"]) for r in rows]


@pytest.fixture(scope="module")
def vecs(spark):
    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    return [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"]) for r in rows
    ]


def test_xxh64_matches_spark(spark):
    samples = ["", "a", "heart attack", "x" * 7, "y" * 37, "unicode ñé"]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in samples], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    }
    for s in samples:
        assert po.xxh64(s.encode("utf-8"), 42) == got[s], s


def test_xxh64_int_arg_chaining(spark):
    """Spark's multi-arg xxhash64 folds: seed 42 → hash(arg1) → that hash
    seeds hash(arg2); int args take the 4-byte path."""
    rows = (
        spark.createDataFrame([("heart attack",)], "s string")
        .select(*[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(4)])
        .collect()[0]
    )
    base = po.xxh64("heart attack".encode(), 42)
    for i in range(4):
        assert rows[f"h{i}"] == po.xxh64_chain_int(i, base)


def test_simhash_python_recompute(spark, docs30):
    df = spark.createDataFrame(docs30, "doc_id int, text string")
    got = {r["doc"]: r["simhash"] for r in dedup.simhash(df).collect()}
    for doc_id, text in docs30:
        assert got[doc_id] == po.simhash_value(text), doc_id


def test_simhash_near_duplicates_python_recompute(spark, docs30):
    df = spark.createDataFrame(docs30, "doc_id int, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(df, max_hamming=10, bands=8).collect()
    )
    assert got == po.simhash_pairs(docs30, max_hamming=10, bands=8)


def test_minhash_near_duplicates_python_recompute(spark, alldocs):
    df = spark.createDataFrame(alldocs, "doc_id int, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_near_duplicates(df).collect()
    )
    expect = po.minhash_pairs(alldocs)
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in expect]
    for (_, _, jg), (_, _, je) in zip(got, expect):
        assert abs(jg - je) < 1e-9


def test_lsh_topk_python_recompute(spark, vecs):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    got = [
        (r["q_id"], r["neighbor_id"], r["rk"], r["cos_sim"])
        for r in similarity.lsh_topk(q, emb, dim=64, k=3, bits=16, bands=8)
        .orderBy("q_id", "rk")
        .collect()
    ]
    flat = [(v, e) for v, e, _l in vecs]
    expect = po.lsh_topk(
        [(v, e) for v, e, _l in vecs if v < 10], flat, dim=64, k=3, bits=16, bands=8
    )
    assert got == expect


def test_ivf_topk_python_recompute(spark, vecs):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    got = [
        (r["q_id"], r["neighbor_id"], r["rk"], r["cos_sim"])
        for r in similarity.ivf_topk(q, emb, k=3).orderBy("q_id", "rk").collect()
    ]
    expect = po.ivf_topk([t for t in vecs if t[0] < 10], vecs, k=3)
    assert got == expect


def test_ivf_trained_topk_python_recompute(spark, vecs):
    """The TRAINED quantizer path is bit-reproducible (Lloyd means rounded
    to 6 decimals on both sides) so the full pipeline — deterministic
    seeds, Lloyd round, cell assignment, per-cell cosine top-k — matches
    the pure-Python recompute exactly.  This is the recompute that backs
    the driver's ann_ivf_trained VALUES oracle."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 10)
    got = [
        (r["q_id"], r["neighbor_id"], r["rk"], r["cos_sim"])
        for r in similarity.ivf_trained_topk(q, emb, k=3, k_cells=8, iters=1)
        .orderBy("q_id", "rk")
        .collect()
    ]
    flat = [(v, e) for v, e, _l in vecs]
    expect = po.ivf_trained_topk(
        [(v, e) for v, e, _l in vecs if v < 10], flat, k=3, k_cells=8, iters=1
    )
    assert got == expect
    # and with a second Lloyd round (re-assignment with rounded centroids)
    got2 = [
        (r["q_id"], r["neighbor_id"], r["rk"], r["cos_sim"])
        for r in similarity.ivf_trained_topk(q, emb, k=3, k_cells=4, iters=2)
        .orderBy("q_id", "rk")
        .collect()
    ]
    expect2 = po.ivf_trained_topk(
        [(v, e) for v, e, _l in vecs if v < 10], flat, k=3, k_cells=4, iters=2
    )
    assert got2 == expect2


def test_round_half_up_matches_spark(spark):
    """Dyadic doubles hit EXACT .xxxxxx5 ties where Java HALF_UP and
    Python's bankers rounding diverge — pyoracle must follow Spark."""
    samples = [1 / 128, 3 / 128, 0.0000005, 0.1234565, 0.9062505, 1 / 3]
    rows = (
        spark.createDataFrame([(x,) for x in samples], "x double")
        .select("x", F.round("x", 6).alias("r"))
        .collect()
    )
    got = {r["x"]: r["r"] for r in rows}
    for x in samples:
        assert po.round_half_up(x, 6) == got[x], x


def test_gopher_rows_python_recompute(spark, alldocs):
    """pyoracle.gopher_rows (independent rule recompute) agrees with the
    Spark gopher_quality operator on every sf0.001 document."""
    from dug_spark.operators import textstats

    df = spark.createDataFrame(alldocs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["doc_id"], r["dup_line_frac"], r["dup_3gram_frac"],
            r["top_word_frac"], r["g_word_count"], r["g_mean_word_len"],
            r["g_symbol_ratio"], r["g_bullet_lines"], r["g_ellipsis_lines"],
            r["g_alpha_words"], r["g_stopwords"], r["g_dup_lines"],
            r["g_top_word"], r["gopher_keep"],
        )
        for r in textstats.gopher_quality(df).collect()
    }
    want = {t[0]: t for t in po.gopher_rows(alldocs)}
    assert got == want


def test_c4_rows_python_recompute(spark, alldocs):
    """pyoracle.c4_rows agrees with the Spark c4_line_clean operator
    (projected to the contract-query stats) on every sf0.001 document."""
    from dug_spark.operators import textstats

    df = spark.createDataFrame(alldocs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["doc_id"], r["n_kept_lines"], r["c4_keep"], r["clean_len"])
        for r in textstats.c4_line_clean(df)
        .select("doc_id", "n_kept_lines", "c4_keep",
                F.length("clean_text").alias("clean_len"))
        .collect()
    }
    want = {t[0]: t for t in po.c4_rows(alldocs)}
    assert got == want


def test_curate_rows_python_recompute(spark, alldocs):
    """pyoracle.curate_rows (independent recompute of the FULL curation
    composition, incl. corpus-global line dedup and the exact-doc keeper
    election) agrees with operators.curate.curate_corpus on every sf0.001
    document plus crafted cross-doc duplicates."""
    from pyspark.sql import functions as F

    from dug_spark.operators.curate import curate_corpus

    crafted = [
        (900001, "A shared boilerplate line repeats here exactly today.\n"
                 "Unique first-document sentence sits right here now.\n"
                 "Mail bob@example.com about the 192.168.0.1 host today."),
        (900002, "A shared boilerplate line repeats here exactly today.\n"
                 "Unique second-document sentence sits right here now.\n"
                 "The closing line of this document ends properly too."),
        # exact duplicate pair (after curation) → one canonical copy
        (900003, "Exactly identical curated document body line one here.\n"
                 "Exactly identical curated document line number two here.\n"
                 "Exactly identical curated document line number three here."),
        (900004, "Exactly identical curated document body line one here.\n"
                 "Exactly identical curated document line number two here.\n"
                 "Exactly identical curated document line number three here."),
    ]
    docs = alldocs + crafted
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cur = curate_corpus(df).select(
        "doc_id", "c4_keep", "gopher_keep", "n_email", "n_ipv4", "n_phone",
        "pii_found", "n_lines_removed", "is_canonical_copy", "keep",
        F.coalesce(F.length("curated_text"), F.lit(-1)).alias("curated_len"),
    )
    got = {r["doc_id"]: tuple(r) for r in cur.collect()}
    want = {t[0]: t for t in po.curate_rows(docs)}
    assert got == want
    # the crafted cross-doc dup line was removed from exactly one of the
    # two docs (the keeper is the smaller (id, idx)); the exact-dup pair
    # elected exactly one canonical copy
    assert got[900001][7] == 0 and got[900002][7] == 1
    assert got[900003][8] and not got[900004][8]


def test_curate_rows_webified_python_recompute(spark, alldocs):
    """The webified curation path (the contract-query configuration:
    fixtures.webify_documents → curate_corpus vs pyoracle.curate_rows
    webify=True) agrees on every sf0.001 document, and the web shaping
    gives every stage non-degenerate work (some c4 survivors, shared-line
    dedup removals, PII hits)."""
    from pyspark.sql import functions as F

    from dug_spark import fixtures
    from dug_spark.operators.curate import curate_corpus

    df = fixtures.webify_documents(
        spark.createDataFrame(alldocs, "doc_id long, text string")
    )
    cur = curate_corpus(df).select(
        "doc_id", "c4_keep", "gopher_keep", "n_email", "n_ipv4", "n_phone",
        "pii_found", "n_lines_removed", "is_canonical_copy", "keep",
        F.coalesce(F.length("curated_text"), F.lit(-1)).alias("curated_len"),
    )
    got = {r["doc_id"]: tuple(r) for r in cur.collect()}
    want = {t[0]: t for t in po.curate_rows(alldocs, webify=True)}
    assert got == want
    vals = list(got.values())
    assert sum(1 for v in vals if v[1]) > 0          # some c4 survivors
    assert sum(v[7] for v in vals) > 0               # global dup lines removed
    assert sum(v[3] + v[4] for v in vals) > 0        # email+ip redactions
