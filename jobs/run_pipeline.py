"""spark-submit entry point: corpus → triples with checkpointed stages.

The BASELINE north_rule requires the pipeline to run "via spark-submit
--py-files on a multi-executor cluster" and be "resumable from checkpoint
with per-partition lineage + metrics".  This job is that artifact:

    scripts/submit.sh --input /root/testdata/sf0.001 --output /tmp/kg_out

It builds no SparkSession config of its own beyond app defaults — master,
executor counts, and memory come from spark-submit, so the same file runs
unchanged on local[N] here and on a 1000-executor cluster.

Stages (each an atomic checkpointed write; a killed run resumes from the
last committed stage):
    mentions   annotate + link + normalize + canonicalize
    triples    HAS_CONCEPT + subclass_of + co-mention families
    concepts   per-concept term aggregation

Reference lifecycle being mirrored: /root/reference/src/dug/core/
crawler.py:45-107 (parse → annotate → expand → index with a crawlspace
spool between phases).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir (documents.parquet) or corpus parquet path")
    ap.add_argument("--output", required=True, help="checkpoint/output root")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--realistic-dictionary", action="store_true",
                    help="use the ontology-scale synthetic dictionary")
    args = ap.parse_args(argv)

    spark = (
        SparkSession.builder.appName("dug_spark.run_pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from dug_spark import fixtures
    from dug_spark.operators import concepts as concepts_op
    from dug_spark.operators import triples as triples_op
    from dug_spark.pipeline import Pipeline
    from dug_spark.plans.manifest import CheckpointManager

    corpus = fixtures.corpus_from_documents(spark, args.input)
    dictionary = (
        fixtures.synthetic_dictionary(spark)
        if args.realistic_dictionary
        else fixtures.vocab_dictionary(spark)
    )
    pipe = Pipeline(
        dictionary=dictionary,
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
        kg_nodes=fixtures.vocab_kg_nodes(spark),
        expand_queries=fixtures.VOCAB_EXPAND_QUERIES,
        expand_prefixes=fixtures.VOCAB_EXPAND_PREFIXES,
        use_extracted_html=True,
        track_lineage=True,
        # the synthetic dictionary's CURIE prefixes must pass the
        # normalization greenlist, else every mention is filtered (F6)
        greenlist=["SYN", "OP", "EXPR", "SYS", "PATO"]
        if args.realistic_dictionary
        else None,
    )
    ckpt = CheckpointManager(args.output, run_id=args.run_id)

    from dug_spark.plans.skew import salted_repartition

    # the annotate scan's lineage accumulator fills during the stage write
    # action; write_stage then records (input_docs, mentions) per source
    # partition alongside the per-output-partition rows
    if ckpt.is_done("mentions"):
        mentions = ckpt.read_stage(spark, "mentions")
        # the manifest record is its own atomic commit AFTER the stage
        # rename; a kill in between leaves the committed stage without
        # lineage — repair with output-partition rows (wall_ms=-1)
        ckpt.backfill_manifest("mentions")
    else:
        r = pipe.run(corpus)
        mentions = ckpt.write_stage("mentions", r.mentions, lineage_acc=r.lineage_acc)

    def _build_triples():
        t = triples_op.build_triples(mentions, pipe.kg_edges)
        # north_star: salted repartitioning on skewed high-frequency
        # concepts before the partitioned write — deterministic salt
        # (derived from subj) keeps partition placement stable across
        # resume re-runs
        return salted_repartition(
            t, key="obj", salt_source="subj",
            num_partitions=spark.sparkContext.defaultParallelism * 2,
            hot_threshold=100_000,
        )

    triples = ckpt.run_or_resume(spark, "triples", _build_triples)

    # KG expansion stages (crawler.py:71-95): answers from the checkpointed
    # mentions' concept set, optional_terms folded into concepts, nodes cast
    # to elements — each its own resumable commit.
    from pyspark.sql import functions as F

    from dug_spark.operators import expand

    def _build_answers():
        ids = mentions.select(
            F.col("curie").alias("concept_id"), "curie"
        ).distinct()
        return expand.expand_concepts(
            ids, pipe.kg_edges, pipe.kg_nodes,
            queries=pipe.expand_queries,
            curie_prefixes=pipe.expand_prefixes,
        )

    kg_answers = ckpt.run_or_resume(spark, "kg_answers", _build_answers)

    def _build_concepts():
        return concepts_op.with_optional_terms(
            concepts_op.build_concepts(mentions), kg_answers
        )

    concepts = ckpt.run_or_resume(spark, "concepts", _build_concepts)

    n_m, n_t, n_c = mentions.count(), triples.count(), concepts.count()
    n_a = kg_answers.count()
    print(
        f"RESULT mentions={n_m} triples={n_t} concepts={n_c} "
        f"kg_answers={n_a} run_id={ckpt.run_id}"
    )
    ckpt.metrics(spark).orderBy("stage", "partition_id").show(50, truncate=False)


if __name__ == "__main__":
    main(sys.argv[1:])
