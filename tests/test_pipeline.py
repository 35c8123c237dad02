"""End-to-end pipeline on the deterministic synthetic corpus."""

from pyspark.sql import functions as F

from dug_spark import fixtures
from dug_spark.pipeline import Pipeline


def _pipeline(spark):
    return Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        synonyms=fixtures.synonyms(spark),
        kg_edges=fixtures.kg_edges(spark),
    )


def test_end_to_end_triples(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=48)
    res = _pipeline(spark).run(corpus)
    trips = res.triples.collect()
    assert len(trips) > 0
    preds = {t["pred"] for t in trips}
    assert "HAS_CONCEPT" in preds
    assert "biolink:subclass_of" in preds
    assert "co_mentioned_with" in preds
    # canonicalization happened: no mention-level curie that normalizes
    # away should appear as a triple object
    objs = {t["obj"] for t in trips if t["pred"] == "HAS_CONCEPT"}
    assert "UBERON:0015230" not in objs
    assert "HP:0001658" not in objs  # collapses into MONDO:0005068
    # lineage + partition metadata present on every row
    assert all(t["lineage"] is not None for t in trips)


def test_pipeline_html_path_matches_text_path(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=24)
    p_text = _pipeline(spark)
    p_html = _pipeline(spark)
    p_html.use_extracted_html = True
    t1 = {
        (t["subj"], t["pred"], t["obj"])
        for t in p_text.run(corpus).triples.collect()
    }
    t2 = {
        (t["subj"], t["pred"], t["obj"])
        for t in p_html.run(corpus).triples.collect()
    }
    # byte-identical extraction ⇒ identical triple sets
    assert t1 == t2


def test_fold_dimensions_equals_stepwise_chain(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=48)
    folded = _pipeline(spark)
    stepwise = _pipeline(spark)
    stepwise.fold_dimensions = False
    t_fold = {
        (t["subj"], t["pred"], t["obj"])
        for t in folded.run(corpus).triples.collect()
    }
    t_step = {
        (t["subj"], t["pred"], t["obj"])
        for t in stepwise.run(corpus).triples.collect()
    }
    assert t_fold == t_step
    # concepts agree too (name/type/search_terms come through the fold)
    c_fold = {
        (c["concept_id"], c["name"], c["type"], tuple(c["search_terms"]))
        for c in folded.run(corpus).concepts.collect()
    }
    c_step = {
        (c["concept_id"], c["name"], c["type"], tuple(c["search_terms"]))
        for c in stepwise.run(corpus).concepts.collect()
    }
    assert c_fold == c_step


def test_pipeline_filters_lang(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=24)
    res = _pipeline(spark).run(corpus)
    non_en = {
        r["url"] for r in corpus.where(F.col("lang") != "en").collect()
    }
    ments = {r["url"] for r in res.mentions.collect()}
    assert ments.isdisjoint(non_en)


def test_pipeline_determinism(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=24)
    a = {
        (t["subj"], t["pred"], t["obj"])
        for t in _pipeline(spark).run(corpus).triples.collect()
    }
    b = {
        (t["subj"], t["pred"], t["obj"])
        for t in _pipeline(spark).run(corpus).triples.collect()
    }
    assert a == b


def test_run_over_recrawl_join_runs_no_job(spark, tmp_path):
    """Planning a recrawl's change set (incremental_update's url-keyed
    hash-compare join, broadcast under AQE) runs no Spark job: the
    partition floor reads its count from the plan, where ``df.rdd``
    ran the join's broadcast stage, which the write then ran again; and
    build_triples plans its three families over one shared shuffle with
    no checkpoint (a localCheckpoint executes the input's adaptive stages
    when it is planned)."""
    path = str(tmp_path / "pages")
    fixtures.heart_corpus(spark, n_docs=24).write.parquet(path)
    prev = spark.read.parquet(path)
    new = prev.withColumn(
        "text", F.when(F.col("url").endswith("/3"), "heart attack").otherwise(F.col("text"))
    )
    h = F.xxhash64("text")
    changed = (
        new.withColumn("_h", h)
        .join(prev.select("url", h.alias("_h_prev")), "url", "left")
        .where(F.col("_h_prev").isNull() | (F.col("_h") != F.col("_h_prev")))
        .drop("_h", "_h_prev")
    )
    pipe = _pipeline(spark)
    pipe.run(prev)  # the dictionary fold runs its jobs once per pipeline
    sc = spark.sparkContext
    sc.setJobGroup("pipe_run", "pipe_run")
    try:
        pipe.run(changed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("pipe_run")) == []
    assert [r["url"] for r in changed.collect()] == ["https://example.org/doc/3"]


def test_pipeline_kg_expansion_wiring(spark):
    """crawler.py:71-95: the run expands mention concepts against the KG —
    optional_terms (A4) fill from answer-node names+synonyms, answers are
    materialized, qualifying nodes cast to elements (J9)."""
    from dug_spark import fixtures
    from dug_spark.operators import expand

    pipe = Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        kg_edges=fixtures.kg_edges(spark),
        kg_nodes=fixtures.kg_nodes(spark),
        expand_queries={**expand.DEFAULT_QUERIES, "pub": ("disease", "publication")},
    )
    res = pipe.run(fixtures.heart_corpus(spark))
    assert res.kg_answers is not None
    ans = res.kg_answers.collect()
    assert any(a["concept_id"] == "MONDO:0005068" for a in ans)
    conc = {r["concept_id"]: r for r in res.concepts.collect()}
    # MI expands to HP:0001658 (disease query) + UBERON:0000948 (anat):
    # optional_terms = sorted set of answer-node names ∪ synonyms
    mi_terms = conc["MONDO:0005068"]["optional_terms"]
    assert "heart" in mi_terms and "Myocardial infarction" in mi_terms
    assert mi_terms == sorted(set(mi_terms))
    # concepts with no KG answers keep empty optional_terms, not null
    assert all(r["optional_terms"] is not None for r in conc.values())
    # J9: the HEALCDE publication node becomes an element
    els = res.expanded_elements.collect()
    assert [e["element_id"] for e in els] == ["HEALCDE:Pain_CDE_v1.0.json"]


def test_pipeline_vocab_expansion_optional_terms(spark):
    """entry() flagship config: vocab KG expansion fills optional_terms."""
    from dug_spark import fixtures

    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
        kg_nodes=fixtures.vocab_kg_nodes(spark),
        expand_queries=fixtures.VOCAB_EXPAND_QUERIES,
        expand_prefixes=fixtures.VOCAB_EXPAND_PREFIXES,
        use_extracted_html=True,
    )
    corpus = fixtures.corpus_from_documents(spark, "/root/testdata/sf0.001")
    res = pipe.run(corpus)
    conc = {r["concept_id"]: r["optional_terms"] for r in res.concepts.collect()}
    # OP:0001 --related edge--> OP:0000 (relational operator + synonyms)
    assert conc["SYS:0001"] == ["hash join", "hash join operator"]
    assert conc["OP:0001"] == ["op", "relational algebra operator", "relational operator"]
