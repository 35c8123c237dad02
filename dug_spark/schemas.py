"""Explicit StructTypes for every table the engine reads or writes.

The reference keeps all schema implicit in duck-typed Python objects
(DugElement /root/reference/src/dug/core/parsers/_base.py:13-27,
DugIdentifier annotators/_base.py:17-75); its only explicit schemas are the
three strict Elasticsearch mappings (index.py:80-157).  Here every dataset
is an explicit Spark schema so Catalyst can prune columns and push
predicates into the parquet/Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

S = StringType()
AS = ArrayType(StringType())

# ---------------------------------------------------------------------------
# Input: Common-Crawl-style web corpus (BASELINE.json input_hint).
WEB_CORPUS = StructType(
    [
        StructField("url", S, False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", S, True),
        StructField("lang", S, True),
    ]
)

# ---------------------------------------------------------------------------
# Dictionary for the Aho-Corasick annotator (replaces the Monarch NER HTTP
# service, monarch_annotator.py:113-153: span.text + token{id,category,terms}).
TERM_DICTIONARY = StructType(
    [
        StructField("term", S, False),  # surface form, lowercase
        StructField("curie", S, False),
        StructField("label", S, True),
        StructField("types", AS, True),  # biolink categories
        StructField("score", DoubleType(), True),  # dictionary prior ∈ [0,1]
    ]
)

# Mentions emitted by the annotator: one row per (document, matched span).
MENTIONS = StructType(
    [
        StructField("url", S, False),
        StructField("element_id", S, False),
        StructField("search_text", S, False),  # matched surface span
        StructField("curie", S, False),
        StructField("label", S, True),
        StructField("types", AS, True),
        StructField("score", DoubleType(), True),
    ]
)

# Arrow-boundary form: element_id == url for web corpora, so the UDF emits
# one id column and the JVM aliases the second (halves the string volume
# crossing the Python↔JVM boundary).
MENTIONS_RAW = StructType([f for f in MENTIONS.fields if f.name != "element_id"])

# ---------------------------------------------------------------------------
# Normalization table (replaces NodeNorm HTTP, annotators/_base.py:116-180).
CURIE_NORM = StructType(
    [
        StructField("curie", S, False),
        StructField("preferred_id", S, False),
        StructField("preferred_label", S, True),
        StructField("description", S, True),
        StructField("biolink_type", S, True),  # prettified head type
        StructField("equivalent_identifiers", AS, True),
    ]
)

# Synonyms (replaces name-resolution HTTP, annotators/_base.py:193-229).
SYNONYMS = StructType(
    [
        StructField("curie", S, False),
        StructField("names", AS, True),
    ]
)

# ---------------------------------------------------------------------------
# Ontology KG (replaces TranQL graph service, tranql.py:13-190).
KG_NODES = StructType(
    [
        StructField("id", S, False),
        StructField("name", S, True),
        StructField("category", AS, True),
        StructField("synonyms", AS, True),
        StructField("attributes", MapType(S, S), True),
    ]
)

KG_EDGES = StructType(
    [
        StructField("id", S, False),
        StructField("subject", S, False),
        StructField("predicate", S, False),
        StructField("object", S, False),
        StructField("publications", AS, True),
    ]
)

# ---------------------------------------------------------------------------
# Parsed study metadata (DugElement, parsers/_base.py:13-27).
ELEMENTS = StructType(
    [
        StructField("element_id", S, False),
        StructField("element_name", S, True),
        StructField("element_desc", S, True),
        StructField("data_type", S, True),
        StructField("collection_id", S, True),
        StructField("collection_name", S, True),
        StructField("collection_desc", S, True),
        StructField("element_action", S, True),
        StructField("collection_action", S, True),
        StructField("metadata", MapType(S, S), True),
    ]
)
