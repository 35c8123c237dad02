"""End-to-end pipeline: web corpus → mentions → normalized/canonical
concepts → triples (+ optional KG expansion).

Mirrors the reference crawl lifecycle (crawler.py:45-107: parse → annotate
→ normalize → expand → index) as ONE declarative DataFrame plan per stage;
node boundaries that were HTTP calls in the reference become broadcast
joins or shuffles that Catalyst schedules.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.text import extract_text_col
from .operators import annotate, canonicalize, concepts, link, normalize, triples

# linking keeps candidates whose dictionary prior reaches SCORE_THRESHOLD
# (F5), at most TOP_K per surface; a run annotates only LANGS pages
SCORE_THRESHOLD = 0.8
TOP_K = 10
LANGS = ["en"]


def _scan_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s widest input scan, read from the
    physical plan without running a Spark job.  ``df.rdd`` would execute
    an adaptive plan's broadcast and shuffle stages (the recrawl's
    hash-compare join), which the real write then runs again; a leaf
    scan's RDD only lists its files."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the initial plan; no stage has run
    leaves = plan.collectLeaves()
    return max(leaves.apply(i).execute().getNumPartitions() for i in range(leaves.size()))


@dataclass
class PipelineResult:
    mentions: DataFrame
    concepts: DataFrame
    element_concept: DataFrame
    triples: DataFrame
    # KG expansion products (when the pipeline has kg_nodes): the TRAPI-
    # style answer table and graph-extracted elements (crawler.py:71-95)
    kg_answers: DataFrame | None = None
    expanded_elements: DataFrame | None = None
    # per-source-partition (input_docs, extracted_mentions) accumulator;
    # populated after the first action on any derived DataFrame
    lineage_acc: object | None = None

    def lineage(self) -> dict[int, tuple[int, int]]:
        """{source_partition: (input_rows, extracted_mentions)} — read
        after an action has materialized the annotate scan.  CUMULATIVE
        across actions that execute the scan (each stage write of a
        derived DataFrame is one); CheckpointManager.write_stage
        snapshots before/after its write to attribute a single pass."""
        return dict(self.lineage_acc.value) if self.lineage_acc is not None else {}


@dataclass
class Pipeline:
    """Configurable corpus→triples pipeline.

    dictionary / curie_norm / synonyms / kg_edges are dimension
    DataFrames (broadcastable); corpus is the fact table.
    """

    dictionary: DataFrame
    curie_norm: DataFrame | None = None
    synonyms: DataFrame | None = None
    kg_edges: DataFrame | None = None
    # when kg_nodes is provided, the run expands mention concepts against
    # the ontology KG (crawler.py:71-95): kg_answers are materialized,
    # concept optional_terms (A4) filled from answer-node names/synonyms,
    # and qualifying nodes cast to new elements (J9)
    kg_nodes: DataFrame | None = None
    expand_queries: dict[str, tuple[str, str]] | None = None
    expand_prefixes: dict[str, list[str]] | None = None
    use_extracted_html: bool = False
    greenlist: list[str] | None = None  # None → reference default (F6)
    # collect {source_partition: (input_docs, mentions)} from the annotate
    # scan via a Spark accumulator (plans/lineage.py) — zero extra jobs
    track_lineage: bool = False
    # Fold link-scoring + normalization + canonicalization INTO the
    # broadcast dictionary (they are pure per-(term, curie) functions of
    # the dimension tables): the corpus-side plan becomes a single
    # scan → mapInPandas → aggregate with no per-run broadcast-join
    # chain.  Set False to run the stepwise operator chain instead
    # (identical output triples — test_pipeline asserts the equivalence).
    fold_dimensions: bool = True
    _canon_mapping: DataFrame | None = field(default=None, init=False, repr=False)
    _effective_dict: DataFrame | None = field(default=None, init=False, repr=False)
    _dict_entries: dict | None = field(default=None, init=False, repr=False)

    def canonical_mapping(self) -> DataFrame | None:
        """The curie→canonical_id mapping is a pure function of the
        dimension table: run the iterative CC election once per pipeline,
        materialize it (localCheckpoint), and broadcast-join it on every
        run.  Without this the O(log n)-round loop — whose wall time is
        all driver round-trips on a dimension-sized graph — re-executes
        per corpus batch and caps scaling efficiency."""
        if self.curie_norm is None:
            return None
        if self._canon_mapping is None:
            self._canon_mapping = canonicalize.canonical_mapping(
                self.curie_norm
            ).localCheckpoint(eager=True)
        return self._canon_mapping

    def effective_dictionary(self) -> DataFrame:
        """Push the per-mention enrichment chain through the DICTIONARY
        once (dimension-sized), by running the real operators over the
        dictionary-as-corpus — semantics equal the stepwise chain by
        construction.  The result (term → final canonical curie + label +
        type) is what the annotator broadcasts, so corpus batches never
        pay the link/normalize/canonicalize joins again."""
        if self._effective_dict is None:
            d = self.dictionary
            fake = d.select(
                F.col("term").alias("url"),
                F.col("term").alias("element_id"),
                F.col("term").alias("search_text"),
                "curie",
                "label",
                "types",
                "score",
            )
            m = link.score_candidates(fake, SCORE_THRESHOLD, TOP_K, dictionary=d)
            if self.curie_norm is not None:
                m = normalize.normalize_mentions(m, self.curie_norm, self.greenlist)
                m = canonicalize.canonicalize_mentions(
                    m, self.curie_norm, mapping=self.canonical_mapping()
                )
                eff = m.select(
                    F.col("search_text").alias("term"),
                    "curie",
                    "label",
                    F.array("biolink_type").alias("types"),
                    "score",
                )
            else:
                eff = m.select(
                    F.col("search_text").alias("term"), "curie", "label", "types", "score"
                )
            # deterministic election when canonicalization merges several
            # dictionary rows onto one (term, curie): keep the highest
            # score, tie-broken by label — a bare dropDuplicates would pick
            # an arbitrary survivor and make mention labels/scores vary
            # across runs
            from pyspark.sql import Window

            w = Window.partitionBy("term", "curie").orderBy(
                F.desc("score"), F.asc("label")
            )
            self._effective_dict = (
                eff.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") == 1)
                .drop("_rk")
                .localCheckpoint(eager=True)
            )
        return self._effective_dict

    def run(self, corpus: DataFrame) -> PipelineResult:
        df = corpus.where(F.col("lang").isin(LANGS))
        # parallelism floor: a small-file scan can collapse to 1 input
        # partition (parquet splits only at row-group boundaries), which
        # would serialize every downstream pandas-UDF stage.  At real
        # corpus scale the scan already has thousands of partitions and
        # this is a no-op.
        target = df.sparkSession.sparkContext.defaultParallelism
        if _scan_partitions(df) < target:
            df = df.repartition(target, "url")
        if self.use_extracted_html:
            # BASELINE invariant: extract_text(html) byte-identical to
            # text — as whole-stage codegen (extract_text_col), so the
            # extraction pays no Python boundary
            df = df.withColumn("text", extract_text_col(F.col("html")))

        acc = None
        if self.track_lineage:
            from .plans.lineage import partition_lineage_accumulator

            acc = partition_lineage_accumulator(df.sparkSession)

        if self.fold_dimensions:
            if self._dict_entries is None:
                self._dict_entries = annotate.collect_dictionary(
                    self.effective_dictionary()
                )
            m = annotate.annotate_mentions(
                df, None, entries=self._dict_entries, lineage_acc=acc
            )
        else:
            m = annotate.annotate_mentions(df, self.dictionary, lineage_acc=acc)
            m = link.score_candidates(
                m, SCORE_THRESHOLD, TOP_K, dictionary=self.dictionary
            )
            if self.curie_norm is not None:
                m = normalize.normalize_mentions(m, self.curie_norm, self.greenlist)
                m = canonicalize.canonicalize_mentions(
                    m, self.curie_norm, mapping=self.canonical_mapping()
                )
        if self.synonyms is not None:
            m = normalize.attach_synonyms(m, self.synonyms)

        conc = concepts.build_concepts(m)
        edges = concepts.element_concept_edges(m)
        trip = triples.build_triples(m, self.kg_edges)

        # KG expansion (crawler.py:71-95): mention concepts × ontology KG →
        # kg_answers; optional_terms (A4) from answer-node names/synonyms;
        # qualifying nodes cast to new elements (J9).  The identifier set
        # is dictionary-bounded (distinct canonical curies), so both joins
        # against the KG broadcast the small side.
        kg_answers = None
        expanded_elements = None
        if self.kg_nodes is not None and self.kg_edges is not None:
            from .operators import expand

            ids = m.select(
                F.col("curie").alias("concept_id"), "curie"
            ).distinct()
            kg_answers = expand.expand_concepts(
                ids,
                self.kg_edges,
                self.kg_nodes,
                queries=self.expand_queries,
                curie_prefixes=self.expand_prefixes,
            )
            conc = concepts.with_optional_terms(conc, kg_answers)
            expanded_elements = expand.nodes_to_elements(kg_answers, self.kg_nodes)

        return PipelineResult(
            mentions=m,
            concepts=conc,
            element_concept=edges,
            triples=trip,
            kg_answers=kg_answers,
            expanded_elements=expanded_elements,
            lineage_acc=acc,
        )


def incremental_update(
    table,
    pipe: Pipeline,
    new_corpus: DataFrame,
    prev_corpus: DataFrame,
    content_col: str = "text",
    tombstone_missing: bool = False,
):
    """Recrawl increment: re-annotate ONLY new/changed urls and commit the
    result as ONE merge-on-read delta snapshot on ``table`` (a
    plans.snapshots.SnapshotTable holding the HAS_CONCEPT triple family).

    Change detection is a url-keyed hash compare of ``content_col``
    (xxhash64 — 8 bytes/row through the join, never the text): urls new in
    this crawl or whose content hash changed are re-annotated; everything
    else is untouched — at 10^12 docs with ~1% daily churn the pipeline
    touches 10^10 docs, not the world.  The commit is
    ``table.delta(new_triples, keys=changed urls)``: the changed urls'
    STALE triples are equality-tombstoned and the re-extracted ones
    appended, atomically (visible only once the log record is published), so
    readers never see a half-updated url.  ``tombstone_missing=True``
    additionally tombstones urls that disappeared from the crawl.

    SCOPE: only the element→concept (HAS_CONCEPT) family is incremental —
    its rows are url-local, so a url-keyed tombstone is exact.  The
    concept-level families (subclass-of, co-mention) are corpus-global
    aggregates; they are dictionary/vocabulary-sized and get recomputed
    and OVERWRITTEN in their own table per increment (cheap), which this
    function deliberately does not hide.

    Returns ``(snapshot_id, changed_urls_df)``.
    """
    h = F.xxhash64(content_col)
    prev = prev_corpus.select("url", h.alias("_h_prev"))
    changed = (
        new_corpus.withColumn("_h", h)
        .join(prev, on="url", how="left")
        .where(F.col("_h_prev").isNull() | (F.col("_h") != F.col("_h_prev")))
        .drop("_h", "_h_prev")
    )
    res = pipe.run(changed)
    new_triples = res.triples.where(F.col("pred") == "HAS_CONCEPT")
    keys = changed.select(F.col("url").alias("subj"))
    if tombstone_missing:
        gone = prev_corpus.select("url").join(
            new_corpus.select("url"), on="url", how="left_anti"
        )
        keys = keys.unionByName(gone.select(F.col("url").alias("subj")))
    snap_id = table.delta(new_triples, keys.distinct(), partition_by=["pred"])
    return snap_id, changed
