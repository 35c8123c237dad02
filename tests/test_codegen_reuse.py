"""Generated code is reused across a build → recrawl → KG reads → compact
cycle: a second pass with the same shapes compiles no class (but for an
occasional AQE stage renumbering, see the test).

The pass runs in a fresh SparkSession (a child process), so the first
pass's compile count does not depend on which tests ran before it and
the session gets ``get_spark``'s own codegen cache size.  Run this file
directly to print the compiles per step of two passes:

    PYTHONPATH=. python tests/test_codegen_reuse.py
"""

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_pass(spark, root):
    """Pipeline build + write_triples, a recrawl delta, a BGP match and a
    2-hop reach over the merged read, then compact; returns the Janino
    compiles of each step."""
    from pyspark.sql import functions as F

    from dug_spark import fixtures
    from dug_spark.operators import bgp, triples
    from dug_spark.pipeline import Pipeline, incremental_update
    from dug_spark.plans.snapshots import SnapshotTable

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    counts = {}

    def step(name, fn):
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        fn()
        counts[name] = codegen.METRIC_COMPILATION_TIME().getCount() - c0

    # parquet pages, as a crawl lands them; a third of them change text
    fixtures.heart_corpus(spark, n_docs=48).write.parquet(os.path.join(root, "pages"))
    corpus = spark.read.parquet(os.path.join(root, "pages"))
    h = F.abs(F.xxhash64("url")) % 3
    recrawled = corpus.withColumn(
        "text",
        F.when(h == 0, F.lit("heart attack and blood pressure")).otherwise(F.col("text")),
    )
    pipe = Pipeline(
        dictionary=fixtures.heart_dictionary(spark),
        curie_norm=fixtures.curie_norm(spark),
        kg_edges=fixtures.kg_edges(spark),
    )
    path = os.path.join(root, "triples")
    table = SnapshotTable(os.path.join(root, "kg"))

    def build():
        triples.write_triples(pipe.run(corpus).triples, path)
        table.overwrite(
            spark.read.parquet(path).select("subj", "pred", "obj"), partition_by=["pred"]
        )

    def match():
        snap = table.read(spark).select("subj", "pred", "obj")
        bgp.match_bgp(snap, [("?c", "biolink:subclass_of", "?p"),
                             ("?doc", "HAS_CONCEPT", "?c")]).collect()

    def reach():
        snap = table.read(spark)
        edges = snap.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        seeds = spark.createDataFrame([("MONDO:0005068",)], "seed string")
        bgp.bounded_reachability(edges, seeds, 2).collect()

    step("build", build)
    step("delta", lambda: incremental_update(table, pipe, recrawled, corpus))
    step("bgp", match)
    step("reach", reach)
    step("compact", lambda: table.compact(spark, partition_by=["pred"]))
    return counts


def main(root):
    from dug_spark.session import get_spark

    spark = get_spark("codegen_reuse", cores=2, shuffle_partitions=4)
    try:
        passes = [one_pass(spark, os.path.join(root, f"pass{i}")) for i in (1, 2)]
    finally:
        spark.stop()
    print(json.dumps({"first": passes[0], "second": passes[1]}))


def test_second_pass_compiles_no_class(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(tmp_path)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    counts = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = sum(counts["first"].values()), sum(counts["second"].values())
    # the pass's working set is larger than Spark's default cache of 100,
    # which recompiles nearly all of it on the second pass
    assert first > 100, counts
    # 0 in nearly every run: AQE numbers whole-stage codegen stages in the
    # order its concurrent query stages finish, so now and then a build
    # renumbers a stage and compiles its classes again (4 classes in 1 of
    # 6 measured second passes)
    assert second <= first // 20, counts


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp())
