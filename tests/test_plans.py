"""Checkpoint manifest (exact resume + lineage) and skew-salting tests."""

import time

from pyspark.sql import functions as F

from dug_spark.plans.manifest import CheckpointManager
from dug_spark.plans.skew import hot_keys, salted_repartition


def test_write_and_resume(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path / "ckpt"), run_id="r1")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    out1 = cm.run_or_resume(spark, "stage_a", build)
    assert out1.count() == 100
    assert calls["n"] == 1
    # resume: committed stage is read back, not recomputed
    out2 = cm.run_or_resume(spark, "stage_a", build)
    assert calls["n"] == 1
    assert out2.count() == 100
    assert cm.is_done("stage_a")


def test_manifest_lineage_rows(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path / "ckpt"), run_id="r2")
    cm.write_stage("stage_b", spark.range(1000).repartition(4))
    m = cm.metrics(spark, "stage_b").collect()
    assert len(m) >= 1
    assert sum(r["output_rows"] for r in m) == 1000
    assert all(r["run_id"] == "r2" for r in m)
    assert all(r["wall_ms"] >= 0 for r in m)


def test_interrupted_stage_not_committed(spark, tmp_path):
    cm = CheckpointManager(str(tmp_path / "ckpt"), run_id="r3")
    # simulate a crash: tmp dir exists but no rename happened
    import os

    os.makedirs(str(tmp_path / "ckpt" / "stage_c.tmp-dead"), exist_ok=True)
    assert not cm.is_done("stage_c")
    out = cm.run_or_resume(spark, "stage_c", lambda: spark.range(10))
    assert out.count() == 10
    assert cm.is_done("stage_c")


def test_hot_keys_detection(spark):
    df = spark.range(10000).select(
        F.when(F.col("id") % 100 == 0, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("curie"),
        F.col("id").cast("string").alias("url"),
    )
    hot = [r["curie"] for r in hot_keys(df, "curie", hot_threshold=50).collect()]
    assert hot == ["HOT"]


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(20000).select(
        F.when(F.col("id") < 10000, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("curie"),
        F.col("id").cast("string").alias("url"),
    )
    out = salted_repartition(
        df, "curie", "url", num_partitions=16, hot_threshold=1000, factor=8
    )
    # the hot key must span multiple partitions post-salt
    parts = (
        out.where(F.col("curie") == "HOT")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert parts >= 4
    # row integrity preserved
    assert out.count() == 20000
    assert out.columns == ["curie", "url"]


def test_write_triples_salted_partitioned(spark, tmp_path):
    from dug_spark.operators.triples import write_triples

    rows = [(f"u{i}", "HAS_CONCEPT", "HOT:1", 0, "annotate") for i in range(400)]
    rows += [(f"u{i}", "HAS_CONCEPT", f"COLD:{i}", 0, "annotate") for i in range(40)]
    rows += [("HOT:1", "biolink:subclass_of", "P:1", 0, "expand")]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, source_partition int, lineage string"
    )
    out = write_triples(
        t, str(tmp_path / "triples"), num_partitions=8, hot_threshold=100
    )
    # partitioned by predicate family; all rows and values survive
    assert sorted(p.name for p in (tmp_path / "triples").iterdir() if p.is_dir()) == [
        "pred=HAS_CONCEPT", "pred=biolink%3Asubclass_of",
    ]
    assert out.count() == 441
    # the hot key was spread across >1 file within its predicate partition
    import pyspark.sql.functions as F

    hot_files = (
        out.where(F.col("obj") == "HOT:1")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert hot_files > 1


def test_manifest_records_source_lineage(spark, tmp_path):
    """north_rule: per-partition lineage with REAL input_rows — the
    annotate scan's accumulator feeds (input_docs, mentions) per source
    partition into the manifest."""
    from dug_spark import fixtures
    from dug_spark.pipeline import Pipeline

    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        use_extracted_html=True,
        track_lineage=True,
    )
    corpus = fixtures.corpus_from_documents(spark, "/root/testdata/sf0.001")
    res = pipe.run(corpus)
    cm = CheckpointManager(str(tmp_path / "ckpt"), run_id="rl")
    cm.write_stage("mentions", res.mentions, lineage_acc=res.lineage_acc)
    m = cm.metrics(spark, "mentions").collect()
    src = [r for r in m if r["scope"] == "source"]
    out = [r for r in m if r["scope"] == "output"]
    assert src and out
    assert all(r["input_rows"] is not None and r["input_rows"] > 0 for r in src)
    # input docs across source partitions = the en-corpus row count
    n_en = corpus.where(F.col("lang") == "en").count()
    assert sum(r["input_rows"] for r in src) == n_en
    # extraction counts across source partitions = total mentions written
    assert sum(r["output_rows"] for r in src) == sum(r["output_rows"] for r in out)
    # PipelineResult.lineage() is cumulative across scan-executing actions
    # (the stage write is the only one here: 1 pass)
    lin = res.lineage()
    total = sum(v[0] for v in lin.values())
    assert total >= n_en and total % n_en == 0


def test_failure_injection_task_dies_mid_write(spark, tmp_path):
    """A write action that dies mid-stage (one task raises — the local
    stand-in for an executor loss past max retries) must leave NO commit:
    resume under a fresh run id recomputes the stage exactly — no
    duplicated and no missing rows — cleans the dead run's partial tmp,
    and the manifest holds lineage only for the committed attempt."""
    import os

    import pytest
    from pyspark.sql.types import LongType

    root = str(tmp_path / "ckpt")
    cm = CheckpointManager(root, run_id="r_kill")
    cm.run_or_resume(spark, "s1", lambda: spark.range(500).repartition(4))

    def bomb(x):
        if x == 450:
            raise RuntimeError("injected mid-write failure")
        return x

    bomb_udf = F.udf(bomb, LongType())
    failing = spark.range(500).repartition(4).select(bomb_udf("id").alias("id"))
    with pytest.raises(Exception, match="injected|Job aborted"):
        cm.write_stage("s2", failing)
    assert not cm.is_done("s2")
    dead_tmps = [n for n in os.listdir(root) if n.startswith("s2.tmp-")]
    assert dead_tmps
    # age the dead tmp past the GC threshold (a fresh tmp is presumed to
    # belong to a LIVE writer and must survive — see CheckpointManager
    # single-writer contract); only old debris is collected
    old = time.time() - CheckpointManager.TMP_GC_AGE_S - 60
    for n in dead_tmps:
        os.utime(os.path.join(root, n), (old, old))

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(500).repartition(4).select(F.col("id"))

    cm2 = CheckpointManager(root, run_id="r_resume")
    # committed stage untouched by resume
    cm2.run_or_resume(spark, "s1", lambda: (_ for _ in ()).throw(AssertionError))
    out = cm2.run_or_resume(spark, "s2", build)
    assert calls["n"] == 1
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(500)), "exact rows: no dups, none missing"
    # dead run's partial tmp garbage-collected by the successful write
    assert not [n for n in os.listdir(root) if n.startswith("s2.tmp-r_kill")]
    m = cm2.metrics(spark, "s2").collect()
    assert {r["run_id"] for r in m} == {"r_resume"}, "no lineage from the dead run"
    assert sum(r["output_rows"] for r in m) == 500


def test_failure_injection_crash_before_commit(spark, tmp_path, monkeypatch):
    """Crash in the window AFTER the parquet write but BEFORE the atomic
    rename: the stage data is complete on disk yet uncommitted — resume
    must still treat it as never-run (rename is the only commit point)."""
    import os

    import pytest

    from dug_spark.plans import manifest as mf

    root = str(tmp_path / "ckpt")
    cm = CheckpointManager(root, run_id="r_precommit")
    real_rename = os.rename
    monkeypatch.setattr(
        mf.os, "rename", lambda *a: (_ for _ in ()).throw(OSError("killed"))
    )
    with pytest.raises(OSError, match="killed"):
        cm.write_stage("s4", spark.range(100))
    monkeypatch.setattr(mf.os, "rename", real_rename)
    assert not cm.is_done("s4")
    cm2 = CheckpointManager(root, run_id="r_after")
    out = cm2.run_or_resume(spark, "s4", lambda: spark.range(100))
    assert sorted(r["id"] for r in out.collect()) == list(range(100))
    m = cm2.metrics(spark, "s4").collect()
    assert {r["run_id"] for r in m} == {"r_after"}


def test_resume_backfills_manifest_after_crash_window(spark, tmp_path):
    """A kill between the atomic rename and the manifest append leaves a
    committed stage with no lineage rows; resume must backfill the
    output-partition rows (wall_ms=-1 sentinel) instead of leaving the
    committed stage invisible to metrics."""
    import os
    import shutil

    root = str(tmp_path / "ckpt")
    cm = CheckpointManager(root, run_id="r_dead")
    cm.write_stage("s", spark.range(100).repartition(4))
    # simulate the crash window: stage committed, manifest rows gone
    shutil.rmtree(os.path.join(root, "_manifest"))
    assert cm.is_done("s")

    cm2 = CheckpointManager(root, run_id="r_back")
    out = cm2.run_or_resume(spark, "s", lambda: (_ for _ in ()).throw(AssertionError))
    assert out.count() == 100
    m = cm2.metrics(spark, "s").collect()
    assert m, "backfilled manifest rows exist"
    assert all(r["run_id"] == "r_back" and r["wall_ms"] == -1 for r in m)
    assert sum(r["output_rows"] for r in m) == 100
    assert all(r["scope"] == "output" for r in m), "no invented source lineage"
    # second resume does NOT duplicate the backfill
    cm3 = CheckpointManager(root, run_id="r_back2")
    cm3.run_or_resume(spark, "s", lambda: (_ for _ in ()).throw(AssertionError))
    assert {r["run_id"] for r in cm3.metrics(spark, "s").collect()} == {"r_back"}
