"""Empty-input robustness: every major operator must return an empty (or
well-defined) result on empty corpus/dictionary/edges — not throw.
Empty partitions reach the Arrow UDFs as zero-row batches, which is also
the common case at 100 TB (filtered partitions)."""

import pytest
from pyspark.sql import functions as F

from dug_spark import fixtures, schemas
from dug_spark.operators import annotate, canonicalize, dedup, search, similarity
from dug_spark.operators import triples as triples_op
from dug_spark.pipeline import Pipeline


@pytest.fixture(scope="module")
def empty_corpus(spark):
    return spark.createDataFrame([], schemas.WEB_CORPUS)


def test_annotate_empty_corpus(spark, empty_corpus):
    out = annotate.annotate_mentions(empty_corpus, fixtures.vocab_dictionary(spark))
    assert out.count() == 0


def test_annotate_empty_dictionary(spark):
    corpus = fixtures.corpus_from_documents(spark, "/root/testdata/sf0.001")
    d = spark.createDataFrame([], schemas.TERM_DICTIONARY)
    assert annotate.annotate_mentions(corpus, d).count() == 0


def test_pipeline_empty_corpus(spark, empty_corpus):
    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
        kg_nodes=fixtures.vocab_kg_nodes(spark),
        expand_queries=fixtures.VOCAB_EXPAND_QUERIES,
        expand_prefixes=fixtures.VOCAB_EXPAND_PREFIXES,
        use_extracted_html=True,
    )
    res = pipe.run(empty_corpus)
    assert res.triples.count() == 0
    assert res.concepts.count() == 0
    assert res.kg_answers.count() == 0


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert canonicalize.connected_components(edges).count() == 0


def test_dedup_empty_docs(spark):
    docs = spark.createDataFrame([], "doc_id int, text string")
    assert dedup.exact_duplicates(docs).count() == 0
    assert dedup.shingle_jaccard_pairs(docs).count() == 0
    assert dedup.minhash_near_duplicates(docs).count() == 0
    assert dedup.simhash_near_duplicates(docs).count() == 0


def test_similarity_empty_sides(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.where(F.lit(False))
    assert similarity.brute_force_topk(none, emb, k=3).count() == 0
    assert similarity.lsh_topk(none, emb, dim=64, k=3).count() == 0
    assert similarity.brute_force_topk(emb.limit(2), none, k=3).count() == 0
    assert dedup.embedding_near_duplicates(none).count() == 0


def test_triples_empty_mentions(spark):
    m = spark.createDataFrame(
        [], "url string, element_id string, search_text string, curie string,"
        "label string, types array<string>, score double"
    )
    assert triples_op.build_triples(m, fixtures.vocab_kg_edges(spark)).count() == 0


def test_search_empty_tables(spark):
    concepts = spark.createDataFrame(
        [], "concept_id string, name string, description string, type string,"
        "search_terms array<string>, optional_terms array<string>"
    )
    res = search.search_concepts(concepts, "anything")
    assert res["hits"].count() == 0
    res2 = search.search_concepts(concepts, '"quoted" | wild*')
    assert res2["hits"].count() == 0
    kg = spark.createDataFrame(
        [], "doc_id string, concept_id string, search_targets array<string>,"
        "subject string, predicate string, object string"
    )
    assert search.search_kg(kg, "X:1", "query").count() == 0


# --- round-5 (cont. 6) operators ---------------------------------------------


def test_heavy_hitters_empty_corpus(spark):
    from dug_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([], "k string")
    # n=0 -> eps 0 < min_count: guarantee trivially holds, empty result
    assert heavy_hitters(df, "k", min_count=1, k=16).count() == 0


def test_weighted_sample_empty_and_all_invalid(spark):
    from dug_spark.operators.importance import weighted_sample_per_group

    empty = spark.createDataFrame([], "g string, id long, w double")
    assert weighted_sample_per_group(empty, "g", "id", 3, "w").count() == 0
    bad = spark.createDataFrame([("g", 1, -1.0), ("g", 2, None)],
                                "g string, id long, w double")
    assert weighted_sample_per_group(bad, "g", "id", 3, "w").count() == 0


def test_bloom_empty_build_rejects_everything(spark):
    from dug_spark.operators.sketch import bloom_build, bloom_probe, bloom_words

    empty = spark.createDataFrame([], "v string")
    words = bloom_words(bloom_build(empty, "v", 4096, 4), 4096)
    assert all(w == 0 for w in words)
    probe = spark.createDataFrame([("x",), (None,)], "v string")
    got = [r["might_contain"] for r in bloom_probe(probe, "v", words, 4096, 4).collect()]
    assert got == [False, False]


def test_minhash_incremental_empty_new_batch(spark):
    from dug_spark.operators import dedup as dd

    old = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    store = dd.minhash_signatures(old)
    empty = spark.createDataFrame([], "doc_id long, text string")
    matches, new_store = dd.minhash_incremental(empty, store)
    assert matches.count() == 0 and new_store.count() == 1


def test_kg_diff_and_ntriples_empty(spark):
    from dug_spark.operators.triples import kg_diff, to_ntriples

    t = spark.createDataFrame([], "subj string, pred string, obj string")
    assert kg_diff(t, t).count() == 0
    assert to_ntriples(t).count() == 0

