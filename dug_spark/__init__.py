"""dug_spark — a from-scratch, PySpark-native knowledge-graph-construction
engine with the query and data-processing capabilities of helxplatform/dug
(reference read-only at /root/reference).

NOT a port: the reference is a single-threaded Python pipeline calling remote
HTTP services per element / identifier / concept
(/root/reference/src/dug/core/crawler.py:109-201).  This engine re-expresses
the same semantics as declarative Spark DataFrame plans: vectorized Arrow
UDFs for text extraction and dictionary NER, broadcast joins for
normalization / synonyms, iterative DataFrame connected-components for
entity canonicalization, and partitioned joins against a triple table for
KG expansion.

Layout
------
- ``session``      SparkSession builders (local test + scale profiles)
- ``schemas``      explicit StructTypes for every table in the engine
- ``fixtures``     deterministic synthetic inputs (web corpus, dictionary,
                   normalization tables, ontology graph) — seeded, no
                   external data
- ``functions``    scalar/vectorized text functions (preprocess, chunking,
                   n-gram scoring)
- ``operators``    the operator inventory from SURVEY.md §2 (annotate,
                   normalize, canonicalize, expand, aggregate, dedup,
                   similarity, text-stats, search)
- ``sources``      parsers for the reference's input formats (dbGaP-style
                   XML, TOPMed TSV+tags, RADx JSON)
- ``plans``        checkpoint manifest / exact resume, skew-salting helpers
- ``pipeline``     end-to-end corpus → triples driver
"""
