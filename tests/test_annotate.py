"""Golden tests ported from the reference annotator suite
(/root/reference/tests/unit/test_annotators.py)."""

import pytest
from pyspark.sql import functions as F

from dug_spark import fixtures, schemas
from dug_spark.functions.text import (
    extract_text_udf,
    ngram_jaccard,
    preprocess_text,
    sliding_window,
)
from dug_spark.operators import annotate, link


def test_heart_attack_yields_seven_identifiers(spark):
    # reference golden: annotate("heart attack") → 7 identifiers
    # (tests/unit/test_annotators.py:39)
    corpus = spark.createDataFrame(
        [("doc1", "have you ever had a heart attack", "en")],
        "url string, text string, lang string",
    )
    m = annotate.annotate_mentions(corpus, fixtures.heart_dictionary(spark))
    rows = m.collect()
    curies = {r["curie"] for r in rows}
    assert len(curies) == 8  # 7 golden + the sub-threshold XCO candidate
    kept = link.score_candidates(m, score_threshold=0.8, top_k=10)
    kept_curies = {r["curie"] for r in kept.collect()}
    assert kept_curies == {
        "UBERON:0015230",
        "UBERON:0007100",
        "UBERON:0015228",
        "ZFA:0000114",
        "UBERON:0000948",
        "MONDO:0005068",
        "HP:0001658",
    }


def test_search_text_spans(spark):
    corpus = spark.createDataFrame(
        [("doc1", "heart attack and asthma", "en")],
        "url string, text string, lang string",
    )
    m = annotate.annotate_mentions(corpus, fixtures.heart_dictionary(spark))
    by_curie = {r["curie"]: r["search_text"] for r in m.collect()}
    assert by_curie["MONDO:0005068"] == "heart attack"
    assert by_curie["UBERON:0000948"] == "heart"
    assert by_curie["MONDO:0004979"] == "asthma"


def test_preprocess_debreviator_and_stopwords():
    # monarch_annotator.py:155-176 semantics
    assert preprocess_text("bmi at the baseline") == "body mass index at baseline"
    assert preprocess_text("body_mass") == "body mass"


def test_preprocess_applies_before_match(spark):
    corpus = spark.createDataFrame(
        [("d1", "bmi recorded", "en")], "url string, text string, lang string"
    )
    m = annotate.annotate_mentions(corpus, fixtures.heart_dictionary(spark))
    assert {r["curie"] for r in m.collect()} == {"EFO:0004340"}


def test_sliding_window_short_text_single_chunk():
    assert sliding_window("a b c", 2000, 5) == ["a b c"]


def test_sliding_window_chunks_long_text():
    # reference docstring: 7653 chars / max 2000 / padding 5 → 4 chunks
    words = [f"w{i:03d}" for i in range(1200)]
    text = " ".join(words)  # 1200*5-1 = 5999 chars
    chunks = sliding_window(text, 2000, 5)
    assert all(len(c) <= 2000 for c in chunks)
    assert len(chunks) >= 3
    # overlap: each chunk after the first starts with words from the prior
    first_words = chunks[0].split()
    second_words = chunks[1].split()
    assert second_words[0] in first_words[-6:]
    # no word lost
    seen = set()
    for c in chunks:
        seen.update(c.split())
    assert seen == set(words)


def test_extract_text_byte_identical(spark):
    corpus = fixtures.heart_corpus(spark, n_docs=16)
    bad = corpus.withColumn("extracted", extract_text_udf(F.col("html"))).where(
        F.col("extracted") != F.col("text")
    )
    assert bad.count() == 0


def test_ngram_jaccard_bounds():
    assert ngram_jaccard("heart", "heart") == 1.0
    assert ngram_jaccard("heart", "zzzzz") == 0.0
    assert 0.0 < ngram_jaccard("heart attack", "heart") < 1.0


def test_overlapping_terms_both_match(spark):
    corpus = spark.createDataFrame(
        [("d1", "heart attack", "en")], "url string, text string, lang string"
    )
    m = annotate.annotate_mentions(corpus, fixtures.heart_dictionary(spark))
    spans = {r["search_text"] for r in m.collect()}
    assert spans == {"heart", "heart attack", "attack"}


def test_uppercase_dictionary_terms_match(spark):
    """The scan lowercases text; uppercase dictionary surface terms must
    still match (trie is keyed on lowercased terms, original kept)."""
    from dug_spark.operators import annotate

    corpus = spark.createDataFrame(
        [("u1", "patient had a heart attack yesterday")], "url string, text string"
    )
    d = spark.createDataFrame(
        [("Heart Attack", "MONDO:X", "heart attack", ["disease"], 0.9)],
        "term string, curie string, label string, types array<string>, score double",
    )
    rows = annotate.annotate_mentions(corpus, d, preprocess=False).collect()
    assert len(rows) == 1
    assert rows[0]["search_text"] == "Heart Attack"
    assert rows[0]["curie"] == "MONDO:X"


def test_annotator_registry(spark):
    """SURVEY §2.10: named annotator lookup with error-on-unknown
    (annotators/__init__.py:25-38) — 'monarch' = presence matching,
    'sapbert' = + candidate ranking with threshold/top-k."""
    import pytest as _pytest

    from dug_spark import fixtures
    from dug_spark.operators import AnnotatorNotFoundException, get_annotator

    corpus = fixtures.heart_corpus(spark, n_docs=8).where("lang = 'en'")
    d = fixtures.heart_dictionary(spark)
    monarch = get_annotator("MONARCH")(corpus, d)
    sapbert = get_annotator("sapbert")(corpus, d, score_threshold=0.8, top_k=10)
    n_m, n_s = monarch.count(), sapbert.count()
    assert n_m > 0
    # sapbert's threshold can only shrink the mention set
    assert 0 < n_s <= n_m
    with _pytest.raises(AnnotatorNotFoundException, match="Cannot find annotator"):
        get_annotator("llama")


def test_extract_text_col_matches_udf(spark):
    """The JVM extract_text_col must equal the pandas extract_text_udf
    byte-for-byte on the synthetic corpus (incl. multibyte text)."""
    from dug_spark.functions.text import extract_text_col, extract_text_udf

    rows = [
        (1, "plain ascii words"),
        (2, "καλημέρα ünïcodé 句子"),
        (3, ""),
        (4, "angle < bracket but not a tag? a<b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
            ),
            "utf-8",
        ).alias("html"),
    )
    got = df.select(
        "doc_id",
        extract_text_col(F.col("html")).alias("a"),
        extract_text_udf(F.col("html")).alias("b"),
    ).collect()
    for r in got:
        assert r["a"] == r["b"], (r["doc_id"], r["a"], r["b"])


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
def test_special_character_labels_round_trip(spark, escaped_literals):
    """Labels and CURIEs with braces, quotes and backslashes come back
    verbatim from the broadcast-trie scan under either SQL parser mode:
    dictionary strings travel as broadcast data and never enter SQL
    text, so ``spark.sql.parser.escapedStringLiterals`` cannot change
    them."""
    entries = [
        ("alpha", "CHEBI:9000001", "N-{2S}-amine", ["chemical"], 0.95),
        ("beta", "MONDO:9000002", "o'brien syndrome", ["disease"], 0.95),
        ("gamma", "HP:{9000003}", "reflex \\ type {b}", ["phenotype"], 0.95),
    ]
    conf = "spark.sql.parser.escapedStringLiterals"
    saved = spark.conf.get(conf, "false")
    spark.conf.set(conf, escaped_literals)
    try:
        d = spark.createDataFrame(entries, schema=schemas.TERM_DICTIONARY)
        corpus = spark.createDataFrame(
            [(f"u{i}", f"lorem {e[0]} ipsum") for i, e in enumerate(entries)],
            "url string, text string",
        )
        got = {
            (r["url"], r["curie"], r["label"])
            for r in annotate.annotate_mentions(corpus, d).collect()
        }
    finally:
        spark.conf.set(conf, saved)
    assert got == {(f"u{i}", e[1], e[2]) for i, e in enumerate(entries)}


@pytest.mark.parametrize("preprocess", [True, False])
def test_unicode_whitespace_tokenizes_like_str_split(spark, preprocess):
    """Text is tokenized with Python ``str.split()``, which also splits on
    no-break, em and information-separator spaces, for a dictionary of a
    handful of surfaces as for any other; a surface whose words are
    joined by anything but a plain space can never match a token run,
    and a null text has no tokens."""
    d = spark.createDataFrame(
        [
            ("heart attack", "MONDO:0005068", "heart attack", ["disease"], 0.9),
            ("x", "TEST:0000001", "x", ["thing"], 0.9),
            ("a\u00a0b", "TEST:0000002", "a b", ["thing"], 0.9),
        ],
        schema=schemas.TERM_DICTIONARY,
    )
    corpus = spark.createDataFrame(
        [
            ("nbsp", "heart\u00a0attack"),
            ("emsp", "heart\u2003attack"),
            ("fs", "heart\x1cattack"),
            ("em_x", "x\u2003x"),
            ("nbsp_surface", "see a\u00a0b now"),
            ("null", None),
        ],
        "url string, text string",
    )
    got = {
        (r["url"], r["search_text"], r["curie"])
        for r in annotate.annotate_mentions(
            corpus, d, preprocess=preprocess
        ).collect()
    }
    assert got == {
        ("nbsp", "heart attack", "MONDO:0005068"),
        ("emsp", "heart attack", "MONDO:0005068"),
        ("fs", "heart attack", "MONDO:0005068"),
        ("em_x", "x", "TEST:0000001"),
    }
