"""Triple materialization — the engine's native output table.

The reference hides its KG inside JSON documents: (element)-[HAS_CONCEPT]->
(concept) via element.concepts (crawler.py:153-176), (concept)-[...]->(node)
via TranQL answers (crawler.py:178-201).  Here they are first-class rows of
a normalized ``triples(subj, pred, obj, source_partition, lineage)`` table
(BASELINE north_rule), partitioned for scale and salted on hot keys.

Triple families:
- HAS_CONCEPT       element/url → canonical concept curie
- biolink:subclass_of  concept → ontology parent (from kg_edges)
- co_mentioned_with  concept ↔ concept co-occurring in one document
                     (canonical pair order subj < obj)

Scale notes: the co-mention self-join is quadratic per document in the
number of distinct concepts — bounded by `max_concepts_per_doc` exactly as
a real pipeline caps fan-out; hot concepts are handled by AQE skew joins
and plans/skew.salted_repartition before the write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HAS_CONCEPT = "HAS_CONCEPT"
SUBCLASS_OF = "biolink:subclass_of"
CO_MENTIONED = "co_mentioned_with"


def _finish(df: DataFrame, lineage: str) -> DataFrame:
    return df.select(
        "subj",
        "pred",
        "obj",
        F.spark_partition_id().alias("source_partition"),
        F.lit(lineage).alias("lineage"),
    )


def has_concept_triples(mentions: DataFrame, assume_distinct: bool = False) -> DataFrame:
    """distinct (element, HAS_CONCEPT, curie).  assume_distinct skips the
    dedup shuffle when the input is already distinct (element_id, curie)
    pairs — as in build_triples."""
    out = mentions.select(
        F.col("element_id").alias("subj"),
        F.lit(HAS_CONCEPT).alias("pred"),
        F.col("curie").alias("obj"),
    )
    return _finish(out if assume_distinct else out.distinct(), "annotate")


def subclass_triples(mentions: DataFrame, kg_edges: DataFrame) -> DataFrame:
    """concept → parent for every subclass_of edge whose subject is a
    mentioned concept (broadcast semi-join keeps only live concepts)."""
    live = mentions.select(F.col("curie")).distinct()
    edges = kg_edges.where(F.col("predicate") == SUBCLASS_OF)
    return _finish(
        edges.join(live, edges["subject"] == live["curie"], "left_semi").select(
            F.col("subject").alias("subj"),
            F.lit(SUBCLASS_OF).alias("pred"),
            F.col("object").alias("obj"),
        ).distinct(),
        "expand",
    )


def doc_concept_sets(mentions: DataFrame) -> DataFrame:
    """(element_id, cs: sorted array of distinct curies) — ONE shuffle on
    the unique document key; the compact array form (one row per document)
    is what every triple family consumes."""
    return mentions.groupBy("element_id").agg(
        F.array_sort(F.collect_set("curie")).alias("cs")
    )


def _co_mention_from_sets(
    per_doc: DataFrame, max_concepts_per_doc: int = 64
) -> DataFrame:
    """Pair explode over per-document concept arrays (subj < obj)."""
    per_doc = per_doc.where(F.size("cs").between(2, max_concepts_per_doc))
    # explode-amplification guard: the per-doc arrays are tiny (AQE
    # coalesces them to ~1 MB partitions) but each row explodes to
    # O(concepts²) pairs — repartition BEFORE the explode so the
    # amplification runs at full cluster width, not at the coalesced width
    width = per_doc.sparkSession.sparkContext.defaultParallelism * 2
    per_doc = per_doc.repartition(width, "element_id")
    # two flat Generates (posexplode, then explode of the tail slice)
    # instead of one nested transform/flatten: the higher-order-function
    # expression tree falls out of codegen into interpreted eval with
    # O(n²) array copies per row — measured 6-10× slower on the same input
    first = per_doc.select(F.posexplode("cs").alias("i", "a"), F.col("cs"))
    pairs = first.select(
        "a", F.explode(F.slice("cs", F.col("i") + 2, F.size("cs"))).alias("b")
    )
    return _finish(
        pairs.select(
            F.col("a").alias("subj"),
            F.lit(CO_MENTIONED).alias("pred"),
            F.col("b").alias("obj"),
        ).distinct(),
        "co_mention",
    )


def co_mention_triples(
    mentions: DataFrame, max_concepts_per_doc: int = 64
) -> DataFrame:
    """Unordered concept pairs co-occurring in one document, emitted once
    per pair with subj < obj.

    Implemented as collect_set per document + pair explode (one shuffle on
    the document key, which is unique → no skew), instead of a
    mentions⋈mentions self-join (two shuffles on the skewed curie key)."""
    return _co_mention_from_sets(doc_concept_sets(mentions), max_concepts_per_doc)


def build_triples(
    mentions: DataFrame,
    kg_edges: DataFrame | None = None,
    max_concepts_per_doc: int = 64,
) -> DataFrame:
    """Union of the three triple families over ONE annotation pass and
    ONE corpus-sized shuffle.

    mentions collapse to per-document concept arrays (`doc_concept_sets`,
    one groupBy on the unique doc key).  The three branches read that same
    shuffle: the planner reuses the identical exchange, so the Python
    annotation scan below it runs once per action, and building the
    result runs no Spark job.
    HAS_CONCEPT = explode (already distinct: unique doc key × set);
    subclass   = ontology edges semi-joined to the exploded live concepts;
    co-mention = pair explode of the same arrays."""
    per_doc = doc_concept_sets(mentions)
    out = _finish(
        per_doc.select(
            F.col("element_id").alias("subj"),
            F.lit(HAS_CONCEPT).alias("pred"),
            F.explode("cs").alias("obj"),
        ),
        "annotate",
    )
    if kg_edges is not None:
        live = per_doc.select(F.explode("cs").alias("curie"))
        out = out.unionByName(subclass_triples(live, kg_edges))
    return out.unionByName(_co_mention_from_sets(per_doc, max_concepts_per_doc))


def _pair_counts(
    mentions: DataFrame, max_concepts_per_doc: int, min_pair_count: int = 1
) -> tuple[DataFrame, int]:
    """Shared derivation for the weighted co-mention edge families
    (`co_mention_npmi`, `co_mention_similarity`): per-document concept
    sets → pair counts (ONE shuffle on the unique doc key, quadratic
    fan-out bounded by ``max_concepts_per_doc``) + broadcast node
    marginals joined on both endpoints.  Returns the joined frame with
    columns (a, b, n_co, c_a, c_b) and the scalar document count N."""
    per_doc = doc_concept_sets(mentions).where(
        F.size("cs").between(1, max_concepts_per_doc)
    )
    per_doc = per_doc.localCheckpoint(eager=False)
    n_docs = per_doc.count()  # scalar: one-row aggregate, folded to a literal
    # whole derivation as ONE parameterized spark.sql (round 6, py4j
    # round-trip economy) — same marginals aggregate, same repartition-
    # before-explode amplification guard (REPARTITION hint), same pair
    # explode and broadcast marginal joins as the old Column build.
    width = per_doc.sparkSession.sparkContext.defaultParallelism * 2
    having = f"HAVING count(1) >= {int(min_pair_count)}" if min_pair_count > 1 else ""
    joined = per_doc.sparkSession.sql(
        f"""
        WITH marginals AS (
          SELECT curie, count(1) AS c_node
          FROM (SELECT explode(cs) AS curie FROM {{pd}})
          GROUP BY curie),
        ex AS (SELECT /*+ REPARTITION({int(width)}, element_id) */
                      element_id, cs FROM {{pd}} WHERE size(cs) >= 2),
        fst AS (SELECT posexplode(cs) AS (i, a), cs FROM ex),
        pairs AS (SELECT a, explode(slice(cs, i + 2, size(cs))) AS b FROM fst),
        co AS (SELECT a, b, count(1) AS n_co FROM pairs GROUP BY a, b {having})
        SELECT /*+ BROADCAST(ma), BROADCAST(mb) */
               co.a, co.b, co.n_co, ma.c_node AS c_a, mb.c_node AS c_b
        FROM co JOIN marginals ma ON co.a = ma.curie
                JOIN marginals mb ON co.b = mb.curie
        """,
        pd=per_doc,
    )
    return joined, n_docs


def co_mention_similarity(
    mentions: DataFrame,
    max_concepts_per_doc: int = 64,
    min_pair_count: int = 1,
) -> DataFrame:
    """Set-overlap similarity edges over concept document-incidence:
    ``(src, dst, n_co, cosine, jaccard, dice)`` with ``src < dst`` — the
    distributional-similarity complement of `co_mention_npmi` (which
    measures association strength; these measure NEIGHBORHOOD overlap of
    the binary doc-incidence vectors):

        cosine  = c_xy / √(c_x·c_y)        (Salton, binary vectors)
        jaccard = c_xy / (c_x + c_y − c_xy)
        dice    = 2·c_xy / (c_x + c_y)

    Downstream of KG construction these weights drive concept clustering
    and "related concept" expansion (the reference's search-side concept
    expansion, async_search.py, is a flat synonym list; this is the
    corpus-statistical upgrade).

    Scale shape: identical to co_mention_npmi — the shared `_pair_counts`
    derivation (ONE doc-keyed shuffle + ONE pair-keyed aggregation, node
    marginals broadcast); the similarity arithmetic is map-only on the
    pair table.  cosine rounds to 5 (cross-engine libm sqrt); jaccard and
    dice are exact rationals rounded identically on both engines."""
    joined, _n = _pair_counts(mentions, max_concepts_per_doc, min_pair_count)
    nco = F.col("n_co").cast("double")
    return joined.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        "n_co",
        F.round(nco / F.sqrt(F.col("c_a") * F.col("c_b")), 5).alias("cosine"),
        F.round(nco / (F.col("c_a") + F.col("c_b") - F.col("n_co")), 5).alias(
            "jaccard"
        ),
        F.round(F.lit(2.0) * nco / (F.col("c_a") + F.col("c_b")), 5).alias("dice"),
    )


def co_mention_npmi(
    mentions: DataFrame,
    max_concepts_per_doc: int = 64,
    min_pair_count: int = 1,
) -> DataFrame:
    """NPMI-weighted co-mention edges: ``(src, dst, n_co, npmi)`` with
    ``src < dst`` — the statistical upgrade of the raw co-mention triple
    family (Bouma 2009, "Normalized (pointwise) mutual information in
    collocation extraction").  The reference emits unweighted co-occurrence
    links inside KG answers (crawler.py:178-201); a KG built at web scale
    needs edge weights that separate "co-mentioned because both are
    everywhere" from genuine association, which is exactly what NPMI
    normalizes for:

        pmi(x,y)  = ln( N·c_xy / (c_x·c_y) )
        npmi(x,y) = pmi / ln(N / c_xy)        (∈ [-1, 1]; 1 ⇔ always together)

    where N is the number of documents with ≥1 concept, c_x the number of
    documents mentioning x, and c_xy the number mentioning both.

    Scale shape: pair counts ride the same per-document pair explode as
    `co_mention_triples` (ONE shuffle on the unique doc key, quadratic
    fan-out bounded by ``max_concepts_per_doc``) followed by ONE pair-keyed
    aggregation — partial map-side combine absorbs hot-pair skew before the
    exchange.  Concept marginals are NODE-sized and broadcast onto the pair
    table twice (src/dst), so the corpus-sized relation never shuffles on
    the skewed concept key.  N is a one-row aggregate collected as a scalar
    (same class as the BM25 corpus-stats collect, operators/search.py).

    npmi(x,x) is undefined and self-pairs never emit (src < dst strictly);
    pairs present in every document (c_xy = N) hit the ln(N/c_xy) = 0 pole
    and emit npmi = 1.0 exactly."""
    joined, n_docs = _pair_counts(mentions, max_concepts_per_doc, min_pair_count)
    n = F.lit(float(n_docs))
    pmi = F.log(F.col("n_co").cast("double") * n / (F.col("c_a") * F.col("c_b")))
    denom = F.log(n / F.col("n_co").cast("double"))
    npmi = F.when(denom == 0.0, F.lit(1.0)).otherwise(pmi / denom)
    return joined.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        "n_co",
        # ROUND(5): Java Math.log vs DuckDB ln may differ in the last ulp
        # (same reasoning as the PageRank oracle's rounding)
        F.round(npmi, 5).alias("npmi"),
    )


def write_triples(
    triples: DataFrame,
    path: str,
    num_partitions: int | None = None,
    hot_threshold: int = 100_000,
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize the triples table partitioned by predicate family with
    salted repartitioning on hot object concepts (BASELINE north_star:
    ubiquitous CURIEs would otherwise put one ontology term's worth of a
    100 TB corpus into one write task).  Salt is derived from the subject
    (deterministic per row), so re-runs produce identical partition
    placement — required for the checkpoint manifest's exact resume.
    On Iceberg this write is `MERGE INTO`/append with the same
    pre-partitioning."""
    from ..plans.skew import salted_repartition

    spark = triples.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    salted = salted_repartition(
        triples, key="obj", salt_source="subj",
        num_partitions=num_partitions, hot_threshold=hot_threshold,
    )
    salted.write.mode(mode).partitionBy("pred").parquet(path)
    return spark.read.parquet(path)


def to_ntriples(
    triples: DataFrame,
    base_iri: str = "https://example.org/id/",
    pred_iri: str = "https://example.org/pred/",
) -> DataFrame:
    """Serialize (subj, pred, obj) rows to N-Triples lines (RDF 1.1
    N-Triples, W3C REC-n-triples-20140225) — the interchange format a
    KG pipeline materializes for downstream triple stores.

    Mapping: subj/obj that look like CURIEs or bare ids become IRIs
    under ``base_iri`` (already-absolute http(s) IRIs pass through);
    predicates under ``pred_iri`` (biolink: CURIEs keep their prefix as
    a path segment).  IRI characters outside the N-Triples IRIREF set
    (`<>"{}|^\\`` and controls) percent-encode; this corpus's ids are
    URL-safe already, so the rule matters for the general case.
    Map-only column ops (concat + regexp_replace chains) — serialization
    adds NO shuffle; one line per input triple, ordered by caller.
    Output: a single ``line`` column.
    """

    def iri(col, base):
        absolute = col.rlike("^https?://")
        # percent-encode the IRIREF-forbidden set (minimal, spec §2.2)
        esc = col
        for ch, enc in ((" ", "%20"), ("<", "%3C"), (">", "%3E"),
                        ('"', "%22"), ("{", "%7B"), ("}", "%7D"),
                        ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
                        ("\\", "%5C")):
            esc = F.replace(esc, F.lit(ch), F.lit(enc))
        return F.concat(
            F.lit("<"),
            F.when(absolute, esc).otherwise(F.concat(F.lit(base), esc)),
            F.lit(">"),
        )

    return triples.select(
        F.concat(
            iri(F.col("subj"), base_iri),
            F.lit(" "),
            iri(F.col("pred"), pred_iri),
            F.lit(" "),
            iri(F.col("obj"), base_iri),
            F.lit(" ."),
        ).alias("line")
    )


def kg_diff(
    old_triples: DataFrame,
    new_triples: DataFrame,
    keys: tuple[str, ...] = ("subj", "pred", "obj"),
) -> DataFrame:
    """Triple-set delta between two KG materializations (e.g. two crawl
    snapshots): one row per triple present in exactly one side, tagged
    ``change`` ∈ {'added', 'removed'} — the maintenance feed a recrawl
    pipeline publishes downstream instead of a full re-export.

    Anti-join formulation (two LEFT ANTI joins on the triple key), so
    Catalyst plans hash joins that AQE can broadcast/skew-split; both
    sides dedup first (a triple's multiplicity is not part of KG set
    semantics).  Output is |added| + |removed| rows — change-sized, not
    corpus-sized.
    """
    kcols = list(keys)
    o = old_triples.select(*kcols).distinct()
    n = new_triples.select(*kcols).distinct()
    added = n.join(o, kcols, "left_anti").withColumn("change", F.lit("added"))
    removed = o.join(n, kcols, "left_anti").withColumn(
        "change", F.lit("removed")
    )
    return added.unionByName(removed)


def provenance_rollup(
    doc_triples: DataFrame,
    ts_col: str | None = None,
    min_docs: int = 1,
) -> DataFrame:
    """Per-triple provenance: collapse document-level triple emissions
    into one row per (subj, pred, obj) carrying its evidence — how many
    documents and mentions assert it, when it was first/last observed,
    and a bounded confidence score.

    The reference keeps per-element provenance implicitly (each
    kg-answer indexes the TranQL query that produced it, reference
    `src/dug/core/crawlers.py` crawl metadata); a 10^12-page KG build
    needs it explicit: downstream consumers rank assertions by support
    ("said by 40k pages over 3 years" ≠ "said once"), and incremental
    recrawls age facts out via last_seen.

    confidence = n_docs / (n_docs + k) with k=5 — the standard
    add-k support saturation (monotone in evidence, bounded below 1,
    no corpus-size term so increments compose: re-running the rollup
    over old∪new emissions gives the same row as merging rollups).

    One hash aggregation on the triple key — the same shuffle the
    dedup the write path already does, now carrying evidence columns;
    skew on hot triples is the salted-repartition case plans/skew.py
    handles at write time.
    """
    gb = doc_triples.groupBy("subj", "pred", "obj")
    aggs = [
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_mentions"),
    ]
    if ts_col is not None:
        aggs.append(F.min(ts_col).alias("first_seen"))
        aggs.append(F.max(ts_col).alias("last_seen"))
    rolled = gb.agg(*aggs).where(F.col("n_docs") >= min_docs)
    conf = F.col("n_docs").cast("double") / (
        F.col("n_docs").cast("double") + F.lit(5.0)
    )
    return rolled.withColumn("confidence", F.round(conf, 6))
