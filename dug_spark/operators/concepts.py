"""Concept construction + term aggregations (SURVEY §2.4 A1–A5).

The reference builds concepts imperatively: one DugConcept per CURIE with
search_text merged per identifier (parsers/_base.py:99-104), search_terms
= sorted(set(identifier.search_text + identifier.synonyms))
(parsers/_base.py:116-121), element terms inherited from concepts
(:63-78), all lists dedupe+sorted via clean() (:112-114).

Spark-native: each of these is one hash aggregation with
``array_sort(array_distinct(flatten(collect_list(...))))`` — partial
(map-side) aggregation comes free from Catalyst, so the shuffle carries
pre-merged term sets, not raw mentions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sorted_set(col):
    """clean(): sorted(list(set(...))) (parsers/_base.py:112-114)."""
    return F.array_sort(F.array_distinct(col))


def element_concept_edges(mentions: DataFrame) -> DataFrame:
    """J1: distinct (element_id, curie) link table (crawler.py:153-176)."""
    return mentions.select("element_id", "curie").distinct()


def build_concepts(mentions: DataFrame) -> DataFrame:
    """Mentions (normalized, with synonyms attached) → CONCEPTS.

    name/type election = min() for determinism (the reference keeps the
    first-seen identifier's label; after canonicalization all members
    share the preferred label, so min == that label).
    search_terms = sorted set of surface texts ∪ synonyms (A1+A2).
    """
    has_syn = "synonyms" in mentions.columns
    syn_col = F.col("synonyms") if has_syn else F.array().cast("array<string>")
    # un-normalized mentions carry `types` (array) instead of biolink_type
    type_col = (
        F.col("biolink_type")
        if "biolink_type" in mentions.columns
        else F.element_at("types", 1)
    )
    return (
        mentions.groupBy(F.col("curie").alias("concept_id"))
        .agg(
            F.min("label").alias("name"),
            F.min(type_col).alias("type"),
            _sorted_set(
                F.array_union(
                    F.flatten(F.collect_list(F.array("search_text"))),
                    F.flatten(F.collect_list(syn_col)),
                )
            ).alias("search_terms"),
        )
        .withColumn("description", F.lit(""))
        .withColumn("optional_terms", F.array().cast("array<string>"))
        .select(
            "concept_id", "name", "description", "type",
            "search_terms", "optional_terms",
        )
    )


def element_search_terms(
    element_concept: DataFrame, concepts: DataFrame
) -> DataFrame:
    """A3: element search_terms = sorted set over its concepts of
    (concept.search_terms ∪ concept.name) (parsers/_base.py:63-70)."""
    joined = element_concept.join(
        concepts.select("concept_id", "name", "search_terms"),
        element_concept["curie"] == F.col("concept_id"),
    )
    return joined.groupBy("element_id").agg(
        _sorted_set(
            F.flatten(
                F.collect_list(F.array_union(F.array("name"), F.col("search_terms")))
            )
        ).alias("search_terms")
    )


def inherit_parent_concepts(
    element_concept: DataFrame, concept_identifier: DataFrame
) -> DataFrame:
    """J2 (crawler.py:124-142): elements inherit identifiers of their
    user-defined parent concepts — for each element→concept→identifier
    where the identifier is itself a concept id, add element→identifier.

    Depth-1 transitive closure as a 2-hop join, unioned into the edge
    table.  concept_identifier: (concept_id, identifier_id)."""
    known = concept_identifier.select(F.col("concept_id").alias("_known")).distinct()
    hop = (
        element_concept.join(
            concept_identifier,
            element_concept["curie"] == concept_identifier["concept_id"],
        )
        # identifier must itself be a known concept (crawler.py:132-137)
        .join(known, F.col("identifier_id") == F.col("_known"), "left_semi")
        .select("element_id", F.col("identifier_id").alias("curie"))
    )
    return element_concept.unionByName(hop).distinct()


def concept_optional_terms(
    kg_answers: DataFrame,
) -> DataFrame:
    """A4: concept optional_terms = sorted set of answer-node names ∪
    synonyms (parsers/_base.py:123-129; names/synonyms extraction
    tranql.py:107-124).  Expects kg_answers with columns
    (concept_id, node_names array<string>, node_synonyms array<string>)."""
    return kg_answers.groupBy("concept_id").agg(
        _sorted_set(
            F.array_union(
                F.flatten(F.collect_list("node_names")),
                F.flatten(F.collect_list("node_synonyms")),
            )
        ).alias("optional_terms")
    )


def with_optional_terms(concepts: DataFrame, kg_answers: DataFrame) -> DataFrame:
    """``concepts`` with optional_terms replaced by
    ``concept_optional_terms(kg_answers)``: a left join on the broadcast
    answer-side table, empty for a concept with no answers."""
    return (
        concepts.drop("optional_terms")
        .join(F.broadcast(concept_optional_terms(kg_answers)), "concept_id", "left")
        .withColumn(
            "optional_terms",
            F.coalesce("optional_terms", F.array().cast("array<string>")),
        )
        .select(
            "concept_id", "name", "description", "type",
            "search_terms", "optional_terms",
        )
    )
