"""Deterministic synthetic inputs — seeded, no external data.

Two families:

1. **Reference-golden fixtures** porting the mock-service shapes from the
   reference test suite (/root/reference/tests/unit/conftest.py:50-215),
   including the golden fact that annotating "heart attack" yields exactly
   7 identifiers (tests/unit/test_annotators.py:39).  Used by pytest.

2. **Testdata-derived corpus**: a `(url, warc_ts, html, text, lang)` table
   synthesized deterministically from the driver's read-only
   ``documents.parquet`` (BASELINE.json input_hint shape), plus a term
   dictionary over that corpus's closed 30-word vocabulary.  Used by the
   oracle-checked queries and the bench.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas

# ---------------------------------------------------------------------------
# 1a. The reference mock annotator dictionary: "heart attack" → 7 identifiers
# (tests/unit/conftest.py:50-145).  term = surface span the NER service
# matched; score = dictionary prior used by the link scorer.
HEART_DICTIONARY = [
    ("heart", "UBERON:0015230", "dorsal vessel heart", ["anatomical entity"], 0.85),
    ("heart", "UBERON:0007100", "primary circulatory organ", ["anatomical entity"], 0.90),
    ("heart", "UBERON:0015228", "circulatory organ", ["anatomical entity"], 0.85),
    ("heart", "ZFA:0000114", "heart", ["anatomical entity"], 0.82),
    ("heart", "UBERON:0000948", "heart", ["anatomical entity"], 0.95),
    ("heart attack", "MONDO:0005068", "myocardial infarction (disease)", ["disease"], 0.95),
    ("heart attack", "HP:0001658", "Myocardial infarction", ["phenotype", "quality"], 0.90),
    ("asthma", "MONDO:0004979", "asthma", ["disease"], 0.95),
    ("lung", "UBERON:0002048", "lung", ["anatomical entity"], 0.95),
    ("body mass index", "EFO:0004340", "body mass index", ["phenotype"], 0.92),
    ("aspirin", "CHEBI:15365", "acetylsalicylic acid", ["chemical entity"], 0.95),
    # below the 0.8 link threshold (sapbert_annotator.py:310-319) → dropped
    ("attack", "XCO:0000001", "attack (ambiguous)", ["activity"], 0.40),
]

# Normalization rows (conftest.py:152-192 shape).  Includes: identity rows,
# a row normalizing to a *different* preferred id, an equivalence cluster
# spanning ≥3 CURIEs (exercises connected components), and deliberately
# missing CURIEs (ZFA:0000114 → greenlist path, monarch_annotator.py:62-74).
CURIE_NORM_ROWS = [
    ("UBERON:0007100", "UBERON:0007100", "primary circulatory organ", "", "anatomical entity",
     ["UBERON:0007100"]),
    ("UBERON:0000948", "UBERON:0000948", "heart", "", "anatomical entity",
     ["UBERON:0000948", "ZFA:0000114", "XAO:0000064"]),
    ("UBERON:0015230", "UBERON:0000948", "heart", "", "anatomical entity",
     ["UBERON:0015230", "UBERON:0000948"]),
    ("UBERON:0015228", "UBERON:0015228", "circulatory organ", "", "anatomical entity",
     ["UBERON:0015228"]),
    ("MONDO:0005068", "MONDO:0005068", "myocardial infarction", "", "disease",
     ["MONDO:0005068", "UMLS:C0027051", "MESH:D009203"]),
    ("HP:0001658", "MONDO:0005068", "myocardial infarction", "", "disease",
     ["HP:0001658", "MONDO:0005068"]),
    ("MONDO:0004979", "MONDO:0004979", "asthma", "", "disease",
     ["MONDO:0004979", "UMLS:C0004096"]),
    ("UBERON:0002048", "UBERON:0002048", "lung", "", "anatomical entity",
     ["UBERON:0002048"]),
    ("EFO:0004340", "EFO:0004340", "body mass index", "", "phenotype",
     ["EFO:0004340"]),
    ("CHEBI:15365", "CHEBI:15365", "acetylsalicylic acid", "", "chemical entity",
     ["CHEBI:15365", "MESH:D001241"]),
    # ZFA:0000114 intentionally absent: fails normalization, ZFA not in the
    # greenlist (config.py:134-145) → dropped by the engine.
]

SYNONYM_ROWS = [
    ("UBERON:0007100", ["primary circulatory organ", "dorsal tube", "adult heart", "heart"]),
    ("UBERON:0000948", ["heart", "chambered heart"]),
    ("MONDO:0005068", ["myocardial infarction", "heart attack", "MI"]),
    ("MONDO:0004979", ["asthma", "bronchial asthma"]),
    ("UBERON:0002048", ["lung", "pulmo"]),
    ("CHEBI:15365", ["aspirin", "acetylsalicylic acid"]),
    ("EFO:0004340", []),
]

# Ontology KG replacing TranQL (FIXTURES.md §7): subclass_of trees per
# prefix, cross-type edges matching the 7 query templates
# (config.py:94-104), and a biolink:Publication node with HEALCDE: prefix
# to exercise node→element casting (crawler.py:253-275).
KG_NODE_ROWS = [
    ("MONDO:0005068", "myocardial infarction", ["biolink:Disease"], ["heart attack", "MI"]),
    ("MONDO:0004979", "asthma", ["biolink:Disease"], ["bronchial asthma"]),
    ("MONDO:0000001", "disease", ["biolink:Disease"], []),
    ("MONDO:0005267", "heart disorder", ["biolink:Disease"], ["heart disease"]),
    ("HP:0001658", "Myocardial infarction", ["biolink:PhenotypicFeature"], []),
    ("HP:0002098", "Respiratory distress", ["biolink:PhenotypicFeature"], ["breathing difficulty"]),
    ("UBERON:0000948", "heart", ["biolink:AnatomicalEntity"], ["chambered heart"]),
    ("UBERON:0002048", "lung", ["biolink:AnatomicalEntity"], ["pulmo"]),
    ("UBERON:0007100", "primary circulatory organ", ["biolink:AnatomicalEntity"], ["dorsal tube"]),
    ("CHEBI:15365", "acetylsalicylic acid", ["biolink:SmallMolecule"], ["aspirin"]),
    ("EFO:0004340", "body mass index", ["biolink:PhenotypicFeature"], ["BMI"]),
    ("HEALCDE:Pain_CDE_v1.0.json", "Filename: Pain_CDE_v1.0.json", ["biolink:Publication"], []),
]

KG_EDGE_ROWS = [
    # subclass_of tree
    ("e1", "MONDO:0005068", "biolink:subclass_of", "MONDO:0005267", []),
    ("e2", "MONDO:0005267", "biolink:subclass_of", "MONDO:0000001", []),
    ("e3", "MONDO:0004979", "biolink:subclass_of", "MONDO:0000001", []),
    # disease ↔ phenotypic_feature (templates "disease"/"pheno")
    ("e4", "MONDO:0005068", "biolink:has_phenotype", "HP:0001658", ["PMID:1"]),
    ("e5", "MONDO:0004979", "biolink:has_phenotype", "HP:0002098", ["PMID:2"]),
    # disease ↔ anatomical_entity (template "anat")
    ("e6", "MONDO:0005068", "biolink:disease_has_location", "UBERON:0000948", []),
    ("e7", "MONDO:0004979", "biolink:disease_has_location", "UBERON:0002048", []),
    # chemical → disease (templates "chem_to_disease", "small_molecule_to_disease")
    ("e8", "CHEBI:15365", "biolink:treats", "MONDO:0005068", ["PMID:3"]),
    # phenotypic_feature → anatomical_entity (template "phen_to_anat")
    ("e9", "HP:0001658", "biolink:phenotype_has_location", "UBERON:0000948", []),
    # publication edge for node→element casting
    ("e10", "MONDO:0005068", "biolink:mentioned_in", "HEALCDE:Pain_CDE_v1.0.json", []),
]

_FILLER = (
    "have you ever been diagnosed with asthma by a doctor",
    "how many times did the participant visit the clinic last year",
    "did you take aspirin daily during the study period",
    "age of participant at enrollment in years",
    "the subject reported chest pain radiating to the left arm",
    "BMI measured at baseline visit",
    "smoking status current former or never",
    "systolic blood pressure measured in mm hg",
    "has the subject ever had a heart attack or myocardial infarction",
    "lung function measured by spirometry fev1",
)


def heart_corpus(spark: SparkSession, n_docs: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic web corpus in the BASELINE input shape, seeded with
    dictionary terms; includes >2000-char docs (sliding-window path,
    monarch_annotator.py:85-111), "bmi"/"_" debreviator triggers
    (monarch_annotator.py:174-176), and non-en rows."""
    rng = random.Random(seed)
    rows = []
    langs = ["en"] * 8 + ["de", "fr"]
    for i in range(n_docs):
        parts = [rng.choice(_FILLER) for _ in range(rng.randint(1, 4))]
        if i % 7 == 0:
            parts.append("bmi recorded as body_mass measurement")
        if i % 11 == 0:  # long doc: force chunking
            parts = parts + [rng.choice(_FILLER) for _ in range(80)]
        text = ". ".join(parts)
        rows.append(
            (
                f"https://example.org/doc/{i}",
                f"2020-01-01 00:{i % 60:02d}:00",
                f"<html><body><p>{text}</p></body></html>".encode("utf-8"),
                text,
                langs[i % len(langs)],
            )
        )
    df = spark.createDataFrame(
        [(u, None, h, t, lg) for (u, _ts, h, t, lg) in rows], schema=schemas.WEB_CORPUS
    )
    ts = F.to_timestamp(
        F.concat(F.lit("2020-01-01 00:"), F.lpad((F.crc32(F.col("url")) % 60).cast("string"), 2, "0"), F.lit(":00"))
    )
    return df.withColumn("warc_ts", ts)


def heart_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(HEART_DICTIONARY, schema=schemas.TERM_DICTIONARY)


def curie_norm(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(CURIE_NORM_ROWS, schema=schemas.CURIE_NORM)


def synonyms(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(SYNONYM_ROWS, schema=schemas.SYNONYMS)


def kg_nodes(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, n, c, s, None) for (i, n, c, s) in KG_NODE_ROWS], schema=schemas.KG_NODES
    )


def kg_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(KG_EDGE_ROWS, schema=schemas.KG_EDGES)


# ---------------------------------------------------------------------------
# 2. Testdata-derived corpus + vocabulary dictionary (oracle-checkable).
#
# The driver's documents.parquet has a closed 30-word vocabulary; this
# dictionary maps single- and multi-word surface terms over it to synthetic
# CURIEs.  "XNA:"-prefixed terms are intentionally absent from VOCAB_NORM
# (normalization-failure path); "PATO:" is on the greenlist so it survives.
VOCAB_DICTIONARY = [
    ("hash join", "OP:0001", "hash join operator", ["operator"], 0.95),
    ("sort merge", "OP:0002", "sort-merge operator", ["operator"], 0.95),
    ("window", "OP:0003", "window operator", ["operator"], 0.90),
    ("filter", "OP:0004", "filter operator", ["operator"], 0.90),
    ("scan", "OP:0005", "scan operator", ["operator"], 0.90),
    ("stream", "OP:0006", "stream operator", ["operator"], 0.85),
    ("spark", "SYS:0001", "spark system", ["system"], 0.95),
    ("vector", "EXPR:0001", "vector expression", ["expression"], 0.85),
    ("dup", "PATO:0001", "duplicate row", ["quality"], 0.88),
    ("big table", "XNA:0001", "big table (unnormalizable)", ["thing"], 0.85),
]

# Normalization for the vocab dictionary: OP:0005 (scan) normalizes into
# OP:0004's cluster (merged concept → exercises canonicalization);
# XNA:0001 missing (dropped: XNA not greenlisted); PATO:0001 missing but
# greenlisted (kept as self-normalized).
VOCAB_NORM_ROWS = [
    ("OP:0001", "OP:0001", "hash join operator", "", "operator", ["OP:0001"]),
    ("OP:0002", "OP:0002", "sort-merge operator", "", "operator", ["OP:0002"]),
    ("OP:0003", "OP:0003", "window operator", "", "operator", ["OP:0003"]),
    ("OP:0004", "OP:0004", "filter operator", "", "operator", ["OP:0004", "OP:0005"]),
    ("OP:0005", "OP:0004", "filter operator", "", "operator", ["OP:0004", "OP:0005"]),
    ("OP:0006", "OP:0006", "stream operator", "", "operator", ["OP:0006"]),
    ("SYS:0001", "SYS:0001", "spark system", "", "system", ["SYS:0001"]),
    ("EXPR:0001", "EXPR:0001", "vector expression", "", "expression", ["EXPR:0001"]),
]

# Nodes for the vocab KG (targets of VOCAB_KG_EDGE_ROWS) so the flagship
# pipeline can exercise KG expansion (crawler.py:71-95) on oracle-checked
# dims: category "operator" matches the custom expand template below.
VOCAB_KG_NODE_ROWS = [
    ("OP:0000", "relational operator", ["operator"], ["op", "relational algebra operator"]),
    ("OP:0001", "hash join operator", ["operator"], ["hash join"]),
    ("OP:0003", "window operator", ["operator"], ["windowing"]),
]

# Custom expansion templates for the vocab KG (the biolink defaults only
# fire on MONDO/HP/UBERON/CHEBI prefixes): every vocab concept type
# expands to related "operator" nodes.
VOCAB_EXPAND_QUERIES = {"op_rel": ("operator", "operator")}
VOCAB_EXPAND_PREFIXES = {"operator": ["OP", "SYS", "EXPR", "PATO"]}

VOCAB_KG_EDGE_ROWS = [
    ("v1", "OP:0001", "biolink:subclass_of", "OP:0000", []),
    ("v2", "OP:0002", "biolink:subclass_of", "OP:0000", []),
    ("v3", "OP:0003", "biolink:subclass_of", "OP:0000", []),
    ("v4", "OP:0004", "biolink:subclass_of", "OP:0000", []),
    ("v5", "OP:0006", "biolink:subclass_of", "OP:0000", []),
    ("v6", "SYS:0001", "biolink:related_to", "OP:0001", []),
    ("v7", "EXPR:0001", "biolink:related_to", "OP:0003", []),
]


def vocab_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(VOCAB_DICTIONARY, schema=schemas.TERM_DICTIONARY)


# Ambiguous senses layered on the vocab dictionary: the same surface maps
# to a second CURIE with a different semantic type and lower prior —
# exercises entity disambiguation (operators/link.disambiguate_mentions):
# "window" resolves by type coherence (operator anchors vs system
# anchors), "stream" by the prior fallback (no media anchors ever exist).
AMBIG_EXTRA = [
    ("window", "SYS:0002", "windowing service", ["system"], 0.80),
    ("stream", "MEDIA:0001", "media stream", ["media"], 0.80),
]


def ambig_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        VOCAB_DICTIONARY + AMBIG_EXTRA, schema=schemas.TERM_DICTIONARY
    )


def vocab_norm(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(VOCAB_NORM_ROWS, schema=schemas.CURIE_NORM)


def vocab_kg_edges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(VOCAB_KG_EDGE_ROWS, schema=schemas.KG_EDGES)


def vocab_kg_nodes(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, n, c, s, None) for (i, n, c, s) in VOCAB_KG_NODE_ROWS],
        schema=schemas.KG_NODES,
    )


#: schema memo for the testdata input tables, keyed on (path, mtime) so a
#: rewritten path re-infers — METADATA caching only (the scan itself
#: re-reads the parquet bytes on every action; no rows or results are
#: memoized).  spark.read.parquet without a schema pays file listing +
#: footer schema inference on every call (~80 ms), which the 25-query
#: bench suite re-paid per query.
_PQ_SCHEMA_CACHE: dict[tuple[str, int], object] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of an input table with schema memoization (first call
    infers and remembers; later calls pass the schema explicitly and skip
    footer inference).  The memo is keyed on the path's mtime, so a
    rewrite (which replaces the file or directory) infers afresh."""
    key = (path, os.stat(path).st_mtime_ns)
    sch = _PQ_SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _PQ_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically lift the driver's documents.parquet into the
    BASELINE input shape (url, warc_ts, html, text, lang).

    html is the UTF-8 encoding of a fixed wrapper around text, so
    ``extract_text(html) == text`` byte-identically per url — the BASELINE
    per-row invariant.  Mirrors the SQL in __spark_entry__.oracle_sql.
    """
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string")).alias("url"),
        (F.to_timestamp(F.lit("2020-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id").cast("double"))).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")), "utf-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# 30-word closed vocabulary of the driver's documents tables
DOC_VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the", "dup",
]


def synthetic_dictionary_rows(
    n_bigrams: int = 150, n_trigrams: int = 2000, n_singles: int = 8, seed: int = 99
) -> list:
    """Ontology-scale synthetic term dictionary over the document
    vocabulary (Dug's Monarch dictionary is ~10^6 surface terms — the
    bench dictionary restores a realistic per-document annotation cost).

    Single-word terms match nearly every document → they ARE the
    skewed-hot-CURIE case from the BASELINE north_star."""
    rng = random.Random(seed)
    terms: set[str] = set()
    singles = DOC_VOCAB[: n_singles]
    while len(terms) < n_bigrams:
        terms.add(" ".join(rng.sample(DOC_VOCAB, 2)))
    bigrams = sorted(terms)
    terms = set()
    while len(terms) < n_trigrams:
        terms.add(" ".join(rng.sample(DOC_VOCAB, 3)))
    trigrams = sorted(terms)
    rows = []
    for i, t in enumerate(singles + bigrams + trigrams):
        rows.append(
            (
                t,
                f"SYN:{i:06d}",
                f"synthetic concept {i:06d}",
                ["thing"],
                0.8 + (i % 20) / 100.0,
            )
        )
    return rows


def synthetic_dictionary(
    spark: SparkSession,
    n_bigrams: int = 150,
    n_trigrams: int = 2000,
    n_singles: int = 8,
    seed: int = 99,
) -> DataFrame:
    return spark.createDataFrame(
        synthetic_dictionary_rows(n_bigrams, n_trigrams, n_singles, seed),
        schema=schemas.TERM_DICTIONARY,
    )


# --- deterministic web-shaping of the driver documents table ------------
# The driver's synthetic documents are single-line, punctuation-free word
# streams; real Common-Crawl text (the BASELINE input_hint shape) is
# multi-line prose that the C4/Gopher line rules act on.  webify_documents
# reshapes each document deterministically: sentences of 8 words ending
# in '.', one per line, plus (by doc_id arithmetic) a corpus-shared line
# (exercises corpus-global line dedup), a PII line (exercises redaction),
# and a boilerplate line (exercises the C4 marker drop).  The SAME
# transform is mirrored in pure Python (functions/pyoracle.webify_text)
# for the curate_corpus VALUES oracle.

WEB_SHARED_LINE = "this exact shared line appears in many documents today."
WEB_PII_LINE = "contact bob@example.com or 10.0.0.1 now please today okay."
WEB_BOILER_LINE = "please accept our cookie policy before reading this content."


def webify_documents(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Replace ``text_col`` with its web-shaped form (pure codegen column
    expressions — narrow, no shuffle; fuses into the scan Project)."""
    did = F.col(id_col)
    words = F.split(text_col, " ")
    n_sent = F.ceil(F.size(words) / F.lit(8)).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_sent - 1),
            lambda i: F.concat(
                F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)), F.lit(".")
            ),
        ),
        "\n",
    )
    webtext = F.concat_ws(
        "\n",
        body,
        F.when(did % 5 == 0, F.lit(WEB_SHARED_LINE)),
        F.when(did % 7 == 0, F.lit(WEB_PII_LINE)),
        F.when(did % 11 == 0, F.lit(WEB_BOILER_LINE)),
    )
    return df.withColumn(text_col, webtext)
