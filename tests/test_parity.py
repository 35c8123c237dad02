"""Differential parity: Spark pipeline triples vs an independent pure-Python
implementation of the reference semantics (annotate → normalize/greenlist →
canonicalize → triples).  BASELINE gate is P/R ≥ 0.95; equivalence here is
exact (P = R = 1.0)."""

from dug_spark import fixtures
from dug_spark.pipeline import Pipeline

GREENLIST = ["PATO", "CHEBI", "MONDO", "UBERON", "HP", "MESH", "UMLS"]


def _python_reference_triples(corpus_rows):
    """Reference-semantics oracle in plain Python (dict/set/union-find)."""
    # dictionary: term → [(curie, prior)]
    dict_entries = {}
    for term, curie, _label, _types, score in fixtures.HEART_DICTIONARY:
        dict_entries.setdefault(term, []).append((curie, score))
    norm = {c: p for (c, p, *_r) in fixtures.CURIE_NORM_ROWS}

    # union-find over equivalence edges (norm + equivalent_identifiers)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for c, p, _l, _d, _t, eq in fixtures.CURIE_NORM_ROWS:
        for other in [p] + list(eq):
            if other != c:
                union(c, other)
    # canonical = min preferred id in component, else min member
    preferred = set(norm.values())
    members = {}
    for node in list(parent):
        members.setdefault(find(node), []).append(node)
    canon = {}
    for root, mems in members.items():
        prefs = sorted(m for m in mems if m in preferred)
        target = prefs[0] if prefs else sorted(mems)[0]
        for m in mems:
            canon[m] = target

    def canonical(curie):
        # normalize first (reference), then component election
        c = norm.get(curie, curie)
        return canon.get(c, c)

    subclass_edges = [
        (s, o) for (_i, s, p, o, _pub) in fixtures.KG_EDGE_ROWS
        if p == "biolink:subclass_of"
    ]

    triples = set()
    all_doc_concepts = {}
    for url, text, lang in corpus_rows:
        if lang != "en":
            continue
        # preprocess (debreviator+stopwords), lowercase, word-boundary match
        t = text
        for k, v in {"bmi": "body mass index", "_": " "}.items():
            t = t.replace(k, v)
        t = " ".join(w for w in t.split() if w != "the").lower()
        padded = f" {t} "
        concepts = set()
        for term, entries in dict_entries.items():
            if f" {term} " in padded:
                for curie, prior in entries:
                    if prior < 0.8:  # link threshold
                        continue
                    c = curie
                    if c not in norm and c.split(":")[0] not in GREENLIST:
                        continue  # normalization failure, not greenlisted
                    concepts.add(canonical(c))
        for c in concepts:
            triples.add((url, "HAS_CONCEPT", c))
        all_doc_concepts[url] = concepts
    live = set().union(*all_doc_concepts.values()) if all_doc_concepts else set()
    for s, o in subclass_edges:
        if s in live:
            triples.add((s, "biolink:subclass_of", o))
    for url, cs in all_doc_concepts.items():
        cl = sorted(cs)
        for i in range(len(cl)):
            for j in range(i + 1, len(cl)):
                triples.add((cl[i], "co_mentioned_with", cl[j]))
    return triples


def test_pipeline_matches_python_reference(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=64)
    pipe = Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        synonyms=fixtures.synonyms(spark),
        kg_edges=fixtures.kg_edges(spark),
    )
    got = {
        (t["subj"], t["pred"], t["obj"])
        for t in pipe.run(corpus).triples.collect()
    }
    expected = _python_reference_triples(
        [(r["url"], r["text"], r["lang"]) for r in corpus.collect()]
    )
    missing = expected - got
    extra = got - expected
    precision = len(got & expected) / max(len(got), 1)
    recall = len(got & expected) / max(len(expected), 1)
    assert precision == 1.0 and recall == 1.0, (
        f"P={precision:.3f} R={recall:.3f} missing={sorted(missing)[:5]} "
        f"extra={sorted(extra)[:5]}"
    )


def test_expansion_optional_terms_parity(spark):
    """crawler.py:71-95 parity: concept optional_terms from KG expansion
    match an independent pure-Python expansion (template prefix gating,
    object-category check, name∪synonym aggregation, sorted-set)."""
    from dug_spark.operators import expand

    corpus = fixtures.heart_corpus(spark, n_docs=64)
    queries = {**expand.DEFAULT_QUERIES, "pub": ("disease", "publication")}
    pipe = Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        kg_edges=fixtures.kg_edges(spark),
        kg_nodes=fixtures.kg_nodes(spark),
        expand_queries=queries,
    )
    res = pipe.run(corpus)
    got = {r["concept_id"]: list(r["optional_terms"]) for r in res.concepts.collect()}

    # independent python expansion over the python-reference live concepts
    expected_triples = _python_reference_triples(
        [(r["url"], r["text"], r["lang"]) for r in corpus.collect()]
    )
    live = {o for (_s, p, o) in expected_triples if p == "HAS_CONCEPT"}
    node_cat = {i: cats for (i, _n, cats, _s) in fixtures.KG_NODE_ROWS}
    node_name = {i: n for (i, n, _c, _s) in fixtures.KG_NODE_ROWS}
    node_syn = {i: syns for (i, _n, _c, syns) in fixtures.KG_NODE_ROWS}
    expected = {}
    for c in live:
        if c == "CHEBI:17336":  # config.py:92 exclude list
            continue
        pfx = c.split(":")[0]
        terms: set[str] = set()
        for _qname, (src, objtype) in queries.items():
            if pfx not in expand.CURIE_PREFIXES.get(src, []):
                continue
            target = expand._SNAKE_TO_CLASS.get(objtype, objtype)
            for _i, s, _p, o, _pub in fixtures.KG_EDGE_ROWS:
                if s != c or o not in node_cat:
                    continue
                cats = node_cat[o]
                if any(cc.lower() == target.lower() for cc in cats) or objtype in cats:
                    terms.add(node_name[o])
                    terms.update(node_syn[o])
        expected[c] = sorted(terms)
    assert set(got) == live
    for c in live:
        assert got[c] == expected.get(c, []), c


def test_triple_pr_distributed_metric(spark):
    """The P/R gate evaluated as a Spark job (functions/metrics.py) —
    no collect of either side — must agree with the set arithmetic the
    parity test does driver-side, and report 1.0/1.0 for the pipeline
    vs the python reference on the heart corpus."""
    from dug_spark.functions.metrics import triple_pr

    corpus = fixtures.heart_corpus(spark, n_docs=32)
    pipe = Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        synonyms=fixtures.synonyms(spark),
        kg_edges=fixtures.kg_edges(spark),
    )
    got_df = pipe.run(corpus).triples
    ref_rows = _python_reference_triples(
        [(r["url"], r["text"], r["lang"]) for r in corpus.collect()]
    )
    ref_df = spark.createDataFrame(
        list(ref_rows), "subj string, pred string, obj string"
    )
    m = triple_pr(got_df, ref_df)
    assert m["precision"] == 1.0 and m["recall"] == 1.0, m
    assert m["n_hit"] == m["n_ref"] == len(ref_rows)
    # degraded case: drop one ref triple + add one bogus → both below 1
    some = ref_df.limit(1)
    m2 = triple_pr(
        got_df.select("subj", "pred", "obj").unionByName(
            spark.createDataFrame(
                [("x", "BOGUS", "y")], "subj string, pred string, obj string"
            )
        ),
        ref_df.exceptAll(some).unionByName(
            spark.createDataFrame(
                [("a", "ONLY_REF", "b")], "subj string, pred string, obj string"
            )
        ),
    )
    assert m2["precision"] < 1.0 and m2["recall"] < 1.0
