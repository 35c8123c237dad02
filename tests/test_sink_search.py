"""Sink MERGE semantics (S14-S16) + search surface (§3.2-3.3) tests."""

import pytest
from pyspark.sql import functions as F

from dug_spark.operators import search, sink
from dug_spark.operators.concepts import inherit_parent_concepts


def _elements(spark, rows):
    return spark.createDataFrame(
        rows, "element_id string, element_name string, identifiers array<string>"
    )


def test_merge_elements_unions_identifiers(spark, tmp_path):
    p = str(tmp_path / "elements")
    sink.merge_elements(spark, p, _elements(spark, [("e1", "one", ["A", "B"])]))
    out = sink.merge_elements(
        spark, p, _elements(spark, [("e1", "one-renamed", ["B", "C"]), ("e2", "two", ["D"])])
    )
    rows = {r["element_id"]: r for r in out.collect()}
    # S14/U2: union + dedupe on match (index.py:219-222); new doc wins rest
    assert sorted(rows["e1"]["identifiers"]) == ["A", "B", "C"]
    assert rows["e1"]["element_name"] == "one-renamed"
    assert rows["e2"]["identifiers"] == ["D"]


def test_insert_concepts_if_absent(spark, tmp_path):
    p = str(tmp_path / "concepts")
    c1 = spark.createDataFrame([("C:1", "first")], "concept_id string, name string")
    sink.insert_concepts_if_absent(spark, p, c1)
    c2 = spark.createDataFrame(
        [("C:1", "CHANGED"), ("C:2", "second")], "concept_id string, name string"
    )
    out = sink.insert_concepts_if_absent(spark, p, c2)
    rows = {r["concept_id"]: r["name"] for r in out.collect()}
    # S15: existing row wins (index.py:199-207 skips when id exists)
    assert rows == {"C:1": "first", "C:2": "second"}


def test_append_kg_answers_idempotent(spark, tmp_path):
    p = str(tmp_path / "kg")
    ans = spark.createDataFrame(
        [("C:1", "q1", "C:1_X_q1", "C:1", "rel", "X", ["x name"], ["x syn"])],
        "concept_id string, query_name string, answer_id string, subject string,"
        "predicate string, object string, node_names array<string>,"
        "node_synonyms array<string>",
    )
    n1 = sink.append_kg_answers(spark, p, ans).count()
    # (count before the second merge: the returned DataFrame is lazy over
    # the files the next merge atomically replaces — Iceberg snapshots
    # would version this; parquet dirs don't)
    out2 = sink.append_kg_answers(spark, p, ans)
    rows2 = out2.collect()
    assert n1 == len(rows2) == 1
    assert sorted(rows2[0]["search_targets"]) == ["x name", "x syn"]


def test_inherit_parent_concepts(spark):
    ec = spark.createDataFrame(
        [("e1", "TOPMED.TAG:7")], "element_id string, curie string"
    )
    ci = spark.createDataFrame(
        [("TOPMED.TAG:7", "MONDO:1"), ("MONDO:1", "MONDO:1")],
        "concept_id string, identifier_id string",
    )
    out = {(r["element_id"], r["curie"]) for r in inherit_parent_concepts(ec, ci).collect()}
    # J2: e1 inherits MONDO:1 because the tag's identifier is itself a concept
    assert out == {("e1", "TOPMED.TAG:7"), ("e1", "MONDO:1")}


def _concepts_table(spark):
    return spark.createDataFrame(
        [
            ("MONDO:1", "asthma", "a lung disease", "disease",
             ["asthma", "bronchial asthma"], ["wheeze"]),
            ("MONDO:2", "heart attack", "myocardial infarction", "disease",
             ["heart attack", "mi"], []),
            ("UBERON:1", "", "no name row", "anatomical entity", [], []),
        ],
        "concept_id string, name string, description string, type string,"
        "search_terms array<string>, optional_terms array<string>",
    )


def test_search_concepts_ranking_and_facets(spark):
    res = search.search_concepts(_concepts_table(spark), "asthma")
    hits = res["hits"].collect()
    # empty-name row filtered (F10); asthma conceptranked first
    assert hits[0]["concept_id"] == "MONDO:1"
    assert all(h["concept_id"] != "UBERON:1" for h in hits)
    facets = {r["type"]: r["n"] for r in res["concept_types"].collect()}
    assert facets.get("disease", 0) >= 1


def test_search_concepts_type_postfilter(spark):
    res = search.search_concepts(
        _concepts_table(spark), "disease", types=["disease"]
    )
    assert all(r["type"] == "disease" for r in res["hits"].collect())


def _variables_table(spark):
    return spark.createDataFrame(
        [
            ("v1", "asthma status", "has asthma", "dbGaP", "s1", "Study One",
             ["asthma attack"], ["MONDO:1"]),
            ("v2", "age", "age of participant", "dbGaP", "s1", "Study One",
             [], ["EFO:1"]),
        ],
        "element_id string, element_name string, element_desc string,"
        "data_type string, collection_id string, collection_name string,"
        "search_terms array<string>, identifiers array<string>",
    )


def test_search_variables_concept_filter(spark):
    v = _variables_table(spark)
    hits = search.search_variables(v, "asthma").collect()
    assert [h["element_id"] for h in hits] == ["v1"]
    # J10: concept membership must-match
    none = search.search_variables(v, "asthma", concept="EFO:1").collect()
    assert none == []


def test_group_variables_across_studies(spark):
    hits = spark.createDataFrame(
        [
            ("v1", "asthma status", "has asthma", "dbGaP", "s2", "Study Two"),
            ("v1", "asthma status", "has asthma", "dbGaP", "s1", "Study One"),
            ("v2", "age", "age of participant", "dbGaP", "s1", "Study One"),
        ],
        "element_id string, element_name string, element_desc string,"
        "data_type string, collection_id string, collection_name string",
    )
    out = {r["element_id"]: r for r in search.group_variables(hits).collect()}
    # J11/A13: one row per variable; studies consolidated and sorted
    assert len(out) == 2
    assert [s["collection_id"] for s in out["v1"]["studies"]] == ["s1", "s2"]
    assert [s["collection_id"] for s in out["v2"]["studies"]] == ["s1"]
    assert out["v1"]["element_name"] == "asthma status"


def test_facet_counts_exclude_own_filter(spark):
    v = _variables_table(spark)
    out = search.facet_counts(
        v, ["data_type", "collection_name"], {"data_type": ["dbgap"]}
    )
    # data_type facet ignores its own filter → both rows counted
    dt = {r["value"]: r["n"] for r in out["data_type"].collect()}
    assert dt == {"dbGaP": 2}
    cn = {r["value"]: r["n"] for r in out["collection_name"].collect()}
    assert cn == {"Study One": 2}


# ---------------------------------------------------------------------------
# Simple-query detection + simple_query_string semantics
# (async_search.py:220-230, 738-831)


def test_is_simple_query_detector():
    assert not search.is_simple_query("heart attack")
    for q in ['"heart attack"', "heart*", "+heart", "heart -attack"]:
        assert search.is_simple_query(q)


def test_parse_simple_query_groups():
    groups = search.parse_simple_query('"var 7" | error* -click plain')
    assert groups == [
        [("phrase", "var 7", False)],
        [("prefix", "error", False), ("term", "click", True), ("term", "plain", False)],
    ]


def _simple_concepts(spark):
    return spark.createDataFrame(
        [
            ("C:1", "asthma status", "patient has asthma", "disease", ["asthma attack"], []),
            ("C:2", "heart rate", "beats per minute", "measure", ["pulse"], []),
            ("C:3", "asthmatic cough", "cough description", "disease", [], []),
        ],
        "concept_id string, name string, description string, type string,"
        "search_terms array<string>, optional_terms array<string>",
    )


def test_search_concepts_simple_phrase(spark):
    # quoted phrase → simple path: only the exact word sequence matches
    res = search.search_concepts(_simple_concepts(spark), '"asthma status"')
    hits = [r["concept_id"] for r in res["hits"].collect()]
    assert hits == ["C:1"]


def test_search_concepts_simple_prefix_and_or(spark):
    res = search.search_concepts(_simple_concepts(spark), 'asthm* | pulse')
    got = {r["concept_id"]: r["score"] for r in res["hits"].collect()}
    # C:1 matches in name+description+search_terms (3), C:3 in name (1),
    # C:2 via pulse in search_terms (1)
    assert got == {"C:1": 3.0, "C:2": 1.0, "C:3": 1.0}


def test_search_variables_simple_negation(spark):
    v = _variables_table(spark)
    # default AND + NOT: asthma docs not mentioning 'attack' anywhere in
    # the matched field
    hits = search.search_variables(v, "asthma -status").collect()
    # v1 name 'asthma status' fails (has status); desc 'has asthma' passes
    assert [h["element_id"] for h in hits] == ["v1"]
    # query-time analysis (round 4): the stopword 'of' drops from the
    # phrase — '"asthma of"' is the phrase "asthma", which DOES match
    # (ES std_with_stopwords behavior); a stopword-ONLY phrase matches
    # nothing (the clause vanishes entirely)
    some = search.search_variables(v, '"asthma of"').collect()
    assert [h["element_id"] for h in some] == ["v1"]
    assert search.search_variables(v, '"the of"').collect() == []


# ---------------------------------------------------------------------------
# search_kg / search_study / search_program / agg_data_types /
# search_vars_unscored (async_search.py:91-110, 317-339, 400-533)


def _kg_docs(spark):
    return spark.createDataFrame(
        [
            ("MONDO:1_A_B", "MONDO:1", ["Myocardial infarction"], "A", "p", "B"),
            ("MONDO:1_A_C", "MONDO:1", ["heart", "chambered heart"], "A", "p", "C"),
            ("MONDO:2_A_D", "MONDO:2", ["heart"], "A", "p", "D"),
        ],
        "doc_id string, concept_id string, search_targets array<string>,"
        "subject string, predicate string, object string",
    )


def test_search_kg_concept_must_match(spark):
    out = search.search_kg(_kg_docs(spark), "MONDO:1", "heart infarction").collect()
    assert [r["doc_id"] for r in out] == ["MONDO:1_A_B", "MONDO:1_A_C"]
    assert all(r["score"] == 1.0 for r in out)
    # two-token hit outranks one-token hit
    out2 = search.search_kg(_kg_docs(spark), "MONDO:1", "chambered heart").collect()
    assert out2[0]["doc_id"] == "MONDO:1_A_C" and out2[0]["score"] == 2.0
    # no query match → empty
    assert search.search_kg(_kg_docs(spark), "MONDO:1", "zzz").collect() == []


def _study_vars(spark):
    return spark.createDataFrame(
        [
            ("v1", "age", "years", "dbGaP", "phs001", "Heart Study", "a1"),
            ("v2", "bmi", "kg/m2", "dbGaP", "phs001", "Heart Study", "a1"),
            ("v3", "fev1", "liters", "topmed", "phs002", "Lung Study", "a2"),
        ],
        "element_id string, element_name string, element_desc string,"
        "data_type string, collection_id string, collection_name string,"
        "collection_action string",
    )


def test_search_study_by_id_and_name(spark):
    v = _study_vars(spark)
    by_id = search.search_study(v, study_id="phs001").collect()
    assert [r["element_id"] for r in by_id] == ["v1", "v2"]
    by_name = search.search_study(v, study_name="lung").collect()
    assert [r["element_id"] for r in by_name] == ["v3"]
    both = search.search_study(v, study_id="phs001", study_name="lung").collect()
    assert both == []


def test_search_study_token_not_substring(spark):
    """ES `match` is token-level: study_1 must NOT match study_10..19
    (the substring-containment stand-in wrongly did)."""
    v = spark.createDataFrame(
        [
            ("v1", "study_1", "Study 1"),
            ("v2", "study_10", "Study 10"),
            ("v3", "study_19", "Study 19"),
        ],
        "element_id string, collection_id string, collection_name string",
    )
    out = search.search_study(v, study_id="study_1").collect()
    assert [r["element_id"] for r in out] == ["v1"]
    # multi-token query: ES match default OR — any query token may hit
    by_name = search.search_study(v, study_name="Study 10").collect()
    assert [r["element_id"] for r in by_name] == ["v1", "v2", "v3"]


def test_search_program_top_hit_per_collection(spark):
    v = _study_vars(spark)
    out = search.search_program(v).collect()
    assert [(r["collection_id"], r["collection_name"]) for r in out] == [
        ("phs001", "Heart Study"), ("phs002", "Lung Study"),
    ]
    filtered = search.search_program(v, program_name="TOPMED").collect()
    assert [r["collection_id"] for r in filtered] == ["phs002"]


def test_agg_data_types(spark):
    out = search.agg_data_types(_study_vars(spark)).collect()
    assert [(r["data_type"], r["n"]) for r in out] == [("dbGaP", 2), ("topmed", 1)]


def test_search_vars_unscored_returns_all_matches(spark):
    v = _variables_table(spark)
    out = search.search_vars_unscored(v, "asthma")
    assert "score" not in out.columns and "_score" not in out.columns
    assert [r["element_id"] for r in out.collect()] == ["v1"]
    gated = search.search_vars_unscored(v, "asthma", concept="MONDO:1").collect()
    assert [r["element_id"] for r in gated] == ["v1"]


def test_merge_elements_keeps_batch_only_columns(spark, tmp_path):
    p = str(tmp_path / "elements_evo")
    sink.merge_elements(spark, p, _elements(spark, [("e1", "one", ["A"])]))
    batch = _elements(spark, [("e2", "two", ["B"])]).withColumn(
        "new_col", F.lit("fresh")
    )
    out = sink.merge_elements(spark, p, batch)
    rows = {r["element_id"]: r for r in out.collect()}
    # schema evolution: the batch-only column survives the merge
    assert rows["e2"]["new_col"] == "fresh"
    assert rows["e1"]["new_col"] is None


def test_search_var_grouped_composed(spark):
    """/search_var_grouped (server.py:132-304): grouping, study-name
    filter semantics, exclude-own-filter facets with title-cased keys."""
    hits = spark.createDataFrame(
        [
            ("v1", "age", "d1", "dbgap", "s1", "Heart Study"),
            ("v1", "age", "d1", "dbgap", "s2", "Lung Study"),
            ("v2", "bmi", "d2", "dbgap", "s2", "Lung Study"),
            ("v3", "fev1", "d3", "topmed", "s2", "Lung Study"),
        ],
        "element_id string, element_name string, element_desc string,"
        "data_type string, collection_id string, collection_name string",
    )
    res = search.search_var_grouped(
        hits,
        filters={"study name": ["heart study"], "data_type": ["dbgap"]},
        facet_keys=["data_type", "study name"],
    )
    # only v1 is in Heart Study AND dbgap
    vars_ = res["variables"].collect()
    assert [r["element_id"] for r in vars_] == ["v1"]
    # v1 keeps BOTH its studies in the grouped row
    assert [s["collection_id"] for s in vars_[0]["studies"]] == ["s1", "s2"]
    # Data_Type facet excludes the data_type filter (study filter only):
    # variables in Heart Study = {v1} → Dbgap:1
    dt = {(r["key"], r["doc_count"]) for r in res["agg_counts"]["Data_Type"].collect()}
    assert dt == {("Dbgap", 1)}
    # Study Name facet excludes the study filter (dbgap only): v1 in 2
    # studies + v2 in Lung → Heart:1, Lung:2; sorted by name asc
    sn = [(r["key"], r["doc_count"]) for r in res["agg_counts"]["Study Name"].collect()]
    assert sn == [("Heart Study", 1), ("Lung Study", 2)]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed on the key -> sort-merge join
    with no Exchange in the physical plan (the shuffle a 100 TB
    element<->concept join would otherwise pay every run)."""
    ec = spark.createDataFrame(
        [(f"e{i}", f"C:{i % 7}") for i in range(100)],
        "element_id string, curie string",
    )
    co = spark.createDataFrame(
        [(f"C:{i}", f"name {i}") for i in range(7)], "curie string, name string"
    )
    sink.write_bucketed(ec, "t_ec", "curie", num_buckets=4, path=str(tmp_path / "ec"))
    sink.write_bucketed(co, "t_co", "curie", num_buckets=4, path=str(tmp_path / "co"))
    try:
        assert sink.bucketed_join_is_shuffle_free(spark, "t_ec", "t_co", "curie")
        joined = spark.table("t_ec").join(spark.table("t_co"), "curie")
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ec")
        spark.sql("DROP TABLE IF EXISTS t_co")


def test_reference_brain_golden(spark):
    """Golden parity vs the reference's canned 10-hit 'brain' ES response
    (tests/unit/test_async_search.py: brain_result_json +
    test_concepts_search): the canned hits are loaded from the reference
    file itself, fed through search_concepts, and checked for (a) the
    reference's result structure {hits, total_items, concept_types}
    (async_search.py:274-276), (b) full recall — every hit ES returned for
    'brain' also scores > 0 under the deterministic stand-in scorer, (c)
    the ES top-3 set preserved, (d) the type-count facet histogram of the
    response."""
    import json
    import pathlib

    ref = pathlib.Path("/root/reference/tests/unit/test_async_search.py")
    if not ref.exists():
        pytest.skip("reference checkout not available")
    blob = ref.read_text().split('brain_result_json = """', 1)[1]
    data = json.loads(blob[: blob.index('\n"""')])
    hits = [h["_source"] for h in data["hits"]["hits"]]
    assert len(hits) == 10
    df = spark.createDataFrame(
        [
            (h["id"], h["name"], h["description"], h["type"],
             h["search_terms"], h["optional_terms"])
            for h in hits
        ],
        "concept_id string, name string, description string, type string,"
        "search_terms array<string>, optional_terms array<string>",
    )
    res = search.search_concepts(df, "brain")
    assert set(res) == {"hits", "total_items", "concept_types"}
    out = res["hits"].collect()
    assert {r["concept_id"] for r in out} == {h["id"] for h in hits}
    es_top3 = [h["id"] for h in hits[:3]]
    assert {r["concept_id"] for r in out[:3]} == set(es_top3)
    assert res["total_items"].count() == 10
    facets = {r["type"]: r["n"] for r in res["concept_types"].collect()}
    assert facets == {"disease": 6, "anatomical entity": 4}
    # the reference simplifies the ES terms-agg to {key: doc_count}
    # (async_search.py:269-273) — same dict shape from the canned buckets
    buckets = data["aggregations"]["type-count"]["buckets"]
    concept_types = {b["key"]: b["doc_count"] for b in buckets}
    assert len(concept_types) == 9
    assert concept_types["anatomical entity"] == 10


def test_bm25_topk_hand_check(spark):
    """BM25 against a hand-computed mirror of the same formula, plus the
    plan shape: global top-k must be TakeOrderedAndProject (no full sort
    shuffle of the scored corpus)."""
    import math

    rows = [(1, "x y x"), (2, "x"), (3, "z z z z"), (4, "y y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = search.bm25_topk(df, "x", k=10).collect()
    n, avgdl, df_x = 4, 10 / 4, 2  # field lengths 3+1+4+2
    idf = math.log(1.0 + (n - df_x + 0.5) / (df_x + 0.5))

    def score(tf, dl):
        return round(idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)

    got = {r["id"]: r["score"] for r in out}
    assert set(got) == {1, 2}, "only docs containing a query token score"
    assert abs(got[1] - score(2, 3)) < 1e-9
    assert abs(got[2] - score(1, 1)) < 1e-9
    # doc 2: tf=1 but very short field -> length norm boosts it; ordering
    # is by the real formula, not naive tf
    assert [r["id"] for r in out] == sorted(got, key=lambda d: (-got[d], d))
    plan = search.bm25_topk(df, "x y", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    # multi-token: disjoint-vocabulary doc still excluded
    out2 = {r["id"] for r in search.bm25_topk(df, "x y", k=10).collect()}
    assert out2 == {1, 2, 4}


def test_bm25_empty_query_and_corpus(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert search.bm25_topk(df, "   ", k=5).collect() == []
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert search.bm25_topk(empty, "x", k=5).collect() == []


# ---------------------------------------------------------------------------
# std_with_stopwords analyzer + multi-field boosted BM25 (round 4)


def test_analyzer_stopword_goldens(spark):
    """Canned goldens for the shared std_with_stopwords analyzer (the
    reference declares it on every text field, index.py:87-117), plus
    Spark-column / pure-Python parity."""
    from pyspark.sql import functions as F

    from dug_spark.functions import analyzer

    cases = {
        "The heart of the matter": ["heart", "matter"],
        "A stroke IS NOT an attack": ["stroke", "attack"],
        "to be or not to be": [],          # all stopwords
        "  x1, y-2 .. Z3  ": ["x1", "y", "2", "z3"],
        "": [],
    }
    for text, want in cases.items():
        assert analyzer.analyze(text) == want, text
    df = spark.createDataFrame([(t,) for t in cases], "t string")
    got = {
        r["t"]: list(r["tk"])
        for r in df.select("t", analyzer.analyze_col(F.col("t")).alias("tk")).collect()
    }
    assert got == cases
    # stopwords=False keeps everything
    assert analyzer.analyze("the heart", stopwords=False) == ["the", "heart"]


def test_bm25_query_stopwords_ignored(spark):
    """Stopwords in the QUERY are removed by the analyzer: 'the x' scores
    exactly like 'x' (ES std_with_stopwords behavior), and document
    stopwords don't count toward field length."""
    rows = [(1, "x y x"), (2, "x"), (3, "z z z z"), (4, "y y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r["id"], r["score"]) for r in search.bm25_topk(df, "x", k=10).collect()}
    b = {(r["id"], r["score"]) for r in search.bm25_topk(df, "the x", k=10).collect()}
    assert a == b
    # 'the' padding in a doc is invisible: same dl, same scores
    rows2 = [(1, "the x the y the x"), (2, "x"), (3, "z z z z"), (4, "y the y")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    c = {(r["id"], r["score"]) for r in search.bm25_topk(df2, "x", k=10).collect()}
    assert a == c


def test_bm25_boosted_gates_and_empty_field(spark):
    """Phrase gate outranks scattered tokens at equal tf; and-gate fires
    only when every query token is present; a corpus-wide-empty field
    (optional_terms) contributes nothing (per-field docCount skip)."""
    from pyspark.sql import functions as F

    rows = [
        ("d1", "alpha beta", "pad pad pad"),   # exact phrase in name
        ("d2", "beta alpha", "pad pad pad"),   # both tokens, no phrase
        ("d3", "alpha gamma", "pad pad pad"),  # one token
    ]
    df = spark.createDataFrame(rows, "concept_id string, name string, other string")
    fields = [
        ("name", F.col("name"), [("phrase", 10.0), ("and", 4.0), ("or", 1.0)]),
        ("opt", F.lit(""), [("or", 1.0)]),  # empty corpus-wide
    ]
    out = search.bm25_boosted_topk(df, "alpha beta", fields, k=10).collect()
    got = {r["id"]: r["score"] for r in out}
    assert set(got) == {"d1", "d2", "d3"}
    # same per-field bm25 for d1/d2 (same tf/dl) but d1 carries the
    # phrase boost: 15×bm25 vs 5×bm25 = exactly 3×
    assert abs(got["d1"] / got["d2"] - 3.0) < 1e-6
    assert got["d2"] > got["d3"]
    # phrase gate requires ADJACENCY, not just both tokens
    out2 = search.bm25_boosted_topk(
        df, "alpha beta", [("name", F.col("name"), [("phrase", 1.0)])], k=10
    ).collect()
    # d2/d3 get multiplier 0 -> score 0 -> filtered; only d1 survives
    assert [r["id"] for r in out2] == ["d1"]


def test_search_variables_bm25_concept_filter(spark):
    """Variables wrapper: _get_var_query boosts + must-match identifier
    membership (async_search.py:730-736)."""
    rows = [
        ("v1", "blood pressure", "systolic reading", ["bp"], [], ["C1"]),
        ("v2", "pressure cuff", "device pressure", ["cuff"], [], ["C2"]),
        ("v3", "heart rate", "beats", ["hr"], [], ["C1"]),
    ]
    df = spark.createDataFrame(
        rows,
        "element_id string, element_name string, element_desc string, "
        "search_terms array<string>, optional_terms array<string>, "
        "identifiers array<string>",
    ).withColumn("data_type", F.lit("dbgap"))
    out = search.search_variables_bm25(df, "blood pressure", k=10).collect()
    assert [r["element_id"] for r in out][0] == "v1"  # phrase + and boosts
    assert {r["element_id"] for r in out} == {"v1", "v2"}
    out2 = search.search_variables_bm25(df, "pressure", concept="C2", k=10).collect()
    assert [r["element_id"] for r in out2] == ["v2"]


def test_bm25_boosted_plan_takeordered(spark):
    """The multi-field plan keeps the bm25_topk shape: map-side scoring +
    TakeOrderedAndProject — the scored corpus is never sort-shuffled."""
    from pyspark.sql import functions as F

    rows = [(str(i), f"tok{i} alpha beta") for i in range(50)]
    df = spark.createDataFrame(rows, "concept_id string, name string")
    plan = (
        search.bm25_boosted_topk(
            df, "alpha beta", [("name", F.col("name"), [("phrase", 2.0), ("or", 1.0)])],
            k=5,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan


# ---------------------------------------------------------------------------
# ES fuzziness (round 4): per-field edit-distance expansion + SynonymQuery
# blending — validated against an independent pure-Python recompute


def test_fuzzy_expand_terms_prefix_and_distance():
    """fuzziness=1, prefix_length=3 (the reference's match-clause
    parameters): expansion requires an EXACT 3-char prefix and ≤1 edit;
    the query token is always in its own group."""
    from dug_spark.functions import analyzer

    vocab = sorted(set(analyzer.analyze("spark spork sparks spring stark sparkly")))
    groups = search._expand_in_vocab(vocab, ["spark"], 1, 3)
    # spork fails the prefix (spo), spring fails (spr), stark fails (sta),
    # sparkly is 2 edits away
    assert groups == {"spark": ["spark", "sparks"]}
    # a query token absent from the vocabulary keeps its singleton group
    groups2 = search._expand_in_vocab(vocab, ["zzz"], 1, 3)
    assert groups2 == {"zzz": ["zzz"]}


def _py_fuzzy_bm25(rows, qtoks, groups, k1=1.2, b=0.75):
    """Independent recompute: SynonymQuery blending over analyzed docs."""
    import math

    from dug_spark.functions import analyzer

    toks = {i: analyzer.analyze(t) for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    df_t = {
        t: sum(1 for v in toks.values() if t in v)
        for g in groups.values()
        for t in g
    }
    scores = {}
    for i, v in toks.items():
        s = 0.0
        for q in qtoks:
            blend = max(df_t[t] for t in groups[q])
            idf = math.log(1.0 + (n - blend + 0.5) / (blend + 0.5))
            tf = float(sum(v.count(t) for t in groups[q]))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            scores[i] = round(s, 6)
    return scores


def test_bm25_fuzzy_matches_python_recompute(spark):
    rows = [
        (1, "spark jobs run fast"),
        (2, "sparks fly high tonight"),
        (3, "spark sparks spark engines"),
        (4, "other words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r["score"]
        for r in search.bm25_topk(df, "spark", k=10, fuzziness=1).collect()
    }
    expected = _py_fuzzy_bm25(rows, ["spark"], {"spark": ["spark", "sparks"]})
    assert out == expected
    # doc 2 (only the fuzzy form) scores, and fuzziness=0 excludes it
    assert 2 in out
    out0 = {
        r["id"] for r in search.bm25_topk(df, "spark", k=10, fuzziness=0).collect()
    }
    assert 2 not in out0 and {1, 3} <= out0


def test_bm25_boosted_fuzzy_and_gate(spark):
    """The operator=and clauses fire when every query token is matched
    ALLOWING fuzzy forms (ES match operator=and with fuzziness=1), and
    match_phrase stays exact."""
    rows = [
        ("d1", "sparks stream daily"),   # fuzzy 'spark' + exact 'stream'
        ("d2", "spark stream daily"),    # exact both (+ phrase)
        ("d3", "spark only here"),       # one token
    ]
    df = spark.createDataFrame(rows, "concept_id string, name string")
    fields = [("name", F.col("name"), [("phrase", 10.0), ("and", 4.0), ("or", 1.0)])]
    out = {
        r["id"]: r["score"]
        for r in search.bm25_boosted_topk(
            df, "spark stream", fields, k=10, fuzziness=1
        ).collect()
    }
    assert set(out) == {"d1", "d2", "d3"}
    # d2 carries the exact phrase (15×) and d1 the and-gate (5×); with the
    # same dl and blended stats, multiplier ordering must hold
    assert out["d2"] > out["d1"] > out["d3"]
    # without fuzziness the and-gate on d1 does NOT fire
    out0 = {
        r["id"]: r["score"]
        for r in search.bm25_boosted_topk(
            df, "spark stream", fields, k=10, fuzziness=0
        ).collect()
    }
    assert out0["d1"] < out["d1"]


def test_phrase_gate_not_across_array_elements(spark):
    """ES position_increment_gap: a phrase must NOT match across
    search_terms array elements — only within one element."""
    rows = [
        ("c1", "name one", "desc text", ["heart attack", "stroke risk"], [], "t"),
        ("c2", "name two", "desc text", ["attack stroke inside"], [], "t"),
    ]
    df = spark.createDataFrame(
        rows,
        "concept_id string, name string, description string, "
        "search_terms array<string>, optional_terms array<string>, type string",
    )
    out = {
        r["concept_id"]: r["score"]
        for r in search.search_concepts_bm25(df, "attack stroke", k=10).collect()
    }
    # identical joined-token stats for both, so any score gap is the gate:
    # c2 (phrase inside ONE element) must outrank c1 (phrase only across
    # the c1 element boundary: "...attack","stroke...")
    assert out["c2"] > out["c1"]


def test_fuzzy_cap_keeps_original_token():
    """max_expansions never evicts the distance-0 query token from its
    own group."""
    vocab = sorted([f"con{c}e" for c in "abcdefghij"] + ["cone"])
    groups = search._expand_in_vocab(vocab, ["cone"], 1, 3, max_expansions=3)
    assert "cone" in groups["cone"]
    assert len(groups["cone"]) == 3


def test_simple_negated_phrase_null_field(spark):
    """A purely-negated clause matches rows whose field is NULL (ES
    must_not semantics) — the coalesce regression guard."""
    rows = [("v1", None, "plain text", [], [], ["C1"])]
    df = spark.createDataFrame(
        rows,
        "element_id string, element_name string, element_desc string, "
        "search_terms array<string>, optional_terms array<string>, "
        "identifiers array<string>",
    ).withColumn("data_type", F.lit("d"))
    hits = search.search_variables(df, '-"heart attack" text').collect()
    assert [h["element_id"] for h in hits] == ["v1"]
