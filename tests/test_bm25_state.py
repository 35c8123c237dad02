"""BM25 per-index state (operators/search.py): built on the first query
against an index DataFrame, reused by every later one, released with it.

Jobs are counted per block under a job group, read back from Spark's
status store after the listener bus has delivered every event."""

import gc
import math
import os
import random
import shutil
import weakref
from contextlib import contextmanager

import pytest

from dug_spark.functions import analyzer
from dug_spark.operators import search

CONCEPT_SCHEMA = (
    "concept_id string, name string, description string, "
    "search_terms array<string>, optional_terms array<string>, type string"
)


@contextmanager
def _jobs(spark, group):
    """Yields a list that holds, after the block, the block's job count."""
    sc = spark.sparkContext
    out = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _concept_rows(n=40, seed=3):
    """Concepts over a small vocabulary with near-misses for fuzzy
    expansion; optional_terms is empty across the index."""
    rng = random.Random(seed)
    words = ["heart", "hearts", "attack", "blood", "pressure", "presure",
             "stroke", "risk", "factor", "disease", "reflex", "brien", "b"]
    rows = []
    for i in range(n):
        name = " ".join(rng.sample(words, 2)) + f" n{i % 7}"
        desc = " ".join(rng.choice(words) for _ in range(rng.randint(2, 6)))
        terms = [" ".join(rng.sample(words, 2)) for _ in range(rng.randint(0, 2))]
        rows.append((f"C{i:03d}", name, desc, terms, [], "disease"))
    return rows


def _hits(df):
    return [(r["concept_id"], r["name"], r["type"], r["score"]) for r in df.collect()]


def test_sql_literals_parse_the_same_in_both_parser_modes(spark):
    """Search splices only analyzer output ([a-z0-9 ]) into SQL text, so
    the escapedStringLiterals setting cannot change a result; anything
    else is refused instead of escaped."""
    with pytest.raises(ValueError):
        search._sql_str("o'b")
    with pytest.raises(ValueError):
        search._sql_str("a\\b")
    assert search._sql_str("heart attack") == "'heart attack'"
    rows = _concept_rows()
    query = "O'Brien reflex \\ {b}"
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    try:
        got = {}
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            idx = spark.createDataFrame(rows, CONCEPT_SCHEMA)
            got[mode] = _hits(search.search_concepts_bm25(idx, query, k=10))
    finally:
        spark.conf.set(key, old)
    assert got["false"], "the query's tokens occur in the index"
    assert got["false"] == got["true"]


def test_steady_state_search_runs_one_job(spark):
    """After the first query against an index DataFrame, a search is ONE
    Spark job: the map-side scoring scan ending in TakeOrderedAndProject
    (three before the state existed: a statistics aggregate, which
    adaptive execution runs as two jobs, plus the scan).  Measured here:
    the first, building call runs 4 jobs (adaptive execution fills the
    persisted base as its own job, then runs the vocabulary
    explode-aggregate as two, plus the scan), and a fuzziness=1 call runs
    1 as well: it expands query tokens in the vocabulary the state holds
    (seven before the state existed: one vocabulary scan per non-empty
    field — name, description, search_terms — plus the statistics and
    the scan)."""
    idx = spark.createDataFrame(_concept_rows(), CONCEPT_SCHEMA)
    search.search_concepts_bm25(idx, "heart attack", k=10).collect()
    with _jobs(spark, "bm25-steady") as n:
        hits = search.search_concepts_bm25(idx, "blood pressure", k=10).collect()
    assert hits
    assert n == [1]
    with _jobs(spark, "bm25-steady-fuzzy") as n:
        hits = search.search_concepts_bm25(idx, "presure", k=10, fuzziness=1).collect()
    assert hits
    assert n == [1]


def test_plain_bm25_reuses_the_state_one_job_per_query(spark):
    """bm25_topk scores through the same per-index state: after the first
    query against a DataFrame, each query is ONE Spark job, exact or
    fuzzy — no statistics aggregate and no vocabulary scan per query."""
    rng = random.Random(5)
    words = ["spark", "sparks", "window", "windows", "stream", "strean",
             "winter", "jobs", "fast"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 6))))
         for i in range(40)],
        "doc_id long, text string",
    )
    search.bm25_topk(docs, "spark window", k=5).collect()
    for fuzziness in (0, 1):
        with _jobs(spark, f"bm25-plain-{fuzziness}") as n:
            hits = search.bm25_topk(
                docs, "stream window", k=5, fuzziness=fuzziness
            ).collect()
        assert hits, fuzziness
        assert n == [1], fuzziness


def test_new_query_of_a_seen_shape_compiles_no_class(spark):
    """Query terms, phrase, idf and avgdl are bound as columns of a one-row
    generator, not spliced into the score as literals, so a query with a
    new text but a shape already served (two terms here) reuses the
    generated classes.  With literals every new text compiled 2."""
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    idx = spark.createDataFrame(_concept_rows(), CONCEPT_SCHEMA)
    search.search_concepts_bm25(idx, "heart attack", k=10).collect()
    for q in ("blood pressure", "stroke risk", "reflex factor"):
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        hits = search.search_concepts_bm25(idx, q, k=10).collect()
        assert hits, q
        assert codegen.METRIC_COMPILATION_TIME().getCount() - c0 == 0, q


def _scores(df):
    return {r["concept_id"]: r["score"] for r in df.collect()}


def _write(spark, rows, path):
    spark.createDataFrame(rows, CONCEPT_SCHEMA).coalesce(1).write.parquet(path)


def _hand_bm25_description(rows, token):
    """search_concepts_bm25 for a one-token query that occurs only in
    description: BM25 over description × (phrase 6 + and 3 + or 2)."""
    toks = {cid: analyzer.analyze(desc) for cid, _n, desc, _st, _ot, _t in rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / float(n)
    df_t = sum(1 for v in toks.values() if token in v)
    idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
    out = {}
    for cid, v in toks.items():
        tf = float(v.count(token))
        if tf:
            bm25 = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
            out[cid] = round(bm25 * 11.0, 6)
    return out


def test_rewritten_index_gets_fresh_state_and_state_is_released(spark, tmp_path):
    """A re-read of a rewritten path is a new DataFrame: it is scored with
    its own statistics, never the old ones (nor the old cached rows, which
    Spark's cache would match by plan semantics).  Once the index
    DataFrames are garbage-collected, their state entries are gone and
    the next search unpersists their persisted bases."""
    sc = spark.sparkContext
    gc.collect()
    # a built index whose steady-state searches run the queued releases
    keep = spark.createDataFrame(_concept_rows(), CONCEPT_SCHEMA)
    search.search_concepts_bm25(keep, "heart", k=5).collect()
    n_states = len(search._STATES)
    rdds_before = set(sc._jsc.getPersistentRDDs().keys())
    path = str(tmp_path / "index")
    old_rows = [
        (f"A{i}", f"name {i}", "zeta " * (i % 3 + 1) + "pad", [], [], "t")
        for i in range(6)
    ]
    new_rows = [
        (f"B{i}", f"name {i}", "zeta word" if i % 4 == 0 else "other words",
         [], [], "t")
        for i in range(9)
    ]
    _write(spark, old_rows, path)
    idx = spark.read.parquet(path)
    got_old = _scores(search.search_concepts_bm25(idx, "zeta", k=20))
    assert got_old == pytest.approx(
        _hand_bm25_description(old_rows, "zeta"), abs=1e-6
    )
    assert set(sc._jsc.getPersistentRDDs().keys()) - rdds_before

    # rewrite the path as another writer would: write aside, then swap
    _write(spark, new_rows, path + ".new")
    shutil.rmtree(path)
    os.rename(path + ".new", path)
    idx2 = spark.read.parquet(path)
    got = _scores(search.search_concepts_bm25(idx2, "zeta", k=20))
    expected = _hand_bm25_description(new_rows, "zeta")
    assert set(got) == {"B0", "B4", "B8"}
    assert got == pytest.approx(expected, abs=1e-6)

    refs = [weakref.ref(idx), weakref.ref(idx2)]
    del idx, idx2
    gc.collect()
    assert [r() for r in refs] == [None, None]
    assert len(search._STATES) == n_states
    search.search_concepts_bm25(keep, "blood", k=5).collect()
    assert not set(sc._jsc.getPersistentRDDs().keys()) - rdds_before


QUERY_STREAM = [
    ("heart attack", 0), ("heart", 0), ("heart attack", 0),
    ("blood pressure", 0), ("pressure blood", 0), ("the of and", 0),
    ("xylophone", 0), ("hart", 1), ("heart", 1), ("presure blod", 1),
    ("heart attack", 0), ("attack stroke", 0), ("stroke risk factor", 0),
    ("disease", 0), ("O'Brien reflex", 0), ("blood", 0), ("risk", 1),
    ("attack heart", 0), ("n3", 0), ("heart attack", 1), ("blood", 0),
]


def test_reused_state_matches_a_fresh_index_over_a_query_stream(spark):
    """One index object serves a stream of queries — repeated heads,
    multi-token, stopword-only, no indexed term, fuzziness 0 and 1, and a
    field (optional_terms) empty across the index.  Every result, scores
    included, equals what a fresh DataFrame over the same rows returns."""
    rows = _concept_rows()
    idx = spark.createDataFrame(rows, CONCEPT_SCHEMA)
    for query, fuzz in QUERY_STREAM:
        reused = _hits(search.search_concepts_bm25(idx, query, k=10, fuzziness=fuzz))
        fresh_idx = spark.createDataFrame(rows, CONCEPT_SCHEMA)
        fresh = _hits(search.search_concepts_bm25(fresh_idx, query, k=10, fuzziness=fuzz))
        assert reused == fresh, (query, fuzz)
        if query in ("the of and", "xylophone"):
            assert reused == []
        elif query == "heart attack":
            assert reused


def test_concept_search_shares_the_index_state(spark):
    """A concept-filtered variable search scores against the variables
    index's own state: its rows are the unfiltered search's rows of the
    concept's members (statistics stay the whole index's, as an ES filter
    leaves them), each such search runs one Spark job, and serving more
    concepts persists no further base."""
    rng = random.Random(11)
    words = ["blood", "pressure", "heart", "rate", "systolic", "cuff", "beats"]
    rows = [
        (f"V{i:02d}", " ".join(rng.sample(words, 2)),
         " ".join(rng.choice(words) for _ in range(rng.randint(1, 5))),
         [rng.choice(words)], [], rng.sample(["C1", "C2", "C3", "C4"], 2), "int")
        for i in range(30)
    ]
    idx = spark.createDataFrame(
        rows,
        "element_id string, element_name string, element_desc string, "
        "search_terms array<string>, optional_terms array<string>, "
        "identifiers array<string>, data_type string",
    )
    query = "blood pressure"
    full = search.search_variables_bm25(idx, query, k=100).collect()
    assert full
    sc = spark.sparkContext
    rdds_before = set(sc._jsc.getPersistentRDDs().keys())
    for concept in ["C1", "C2", "C3", "C4"]:
        with _jobs(spark, f"bm25-concept-{concept}") as n:
            got = search.search_variables_bm25(
                idx, query, concept=concept, k=5
            ).collect()
        assert n == [1]
        members = {r[0] for r in rows if concept in r[5]}
        want = [tuple(r) for r in full if r["element_id"] in members][:5]
        assert [tuple(r) for r in got] == want
    assert not set(sc._jsc.getPersistentRDDs().keys()) - rdds_before
