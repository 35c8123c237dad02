"""Commit records (plans/records.py): table metadata costs no Spark jobs.

Jobs are counted per block under a job group, read back from Spark's
status store after the listener bus has delivered every event."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dug_spark.plans.manifest import CheckpointManager
from dug_spark.plans.snapshots import SnapshotTable


@contextmanager
def _jobs(spark, group):
    """Yields a list that holds, after the block, the block's job count."""
    sc = spark.sparkContext
    out = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _kv(spark, n, k0=0):
    return spark.range(k0, k0 + n).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v"),
        (F.col("id") % 3).cast("string").alias("p"),
    )


def test_table_metadata_runs_no_spark_jobs(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.overwrite(_kv(spark, 600), partition_by=["p"])
    keys = spark.createDataFrame([("k1",), ("k2",), ("k3",)], "k string")
    new = _kv(spark, 3, k0=1)
    with _jobs(spark, "delta") as n_delta:
        t.delta(new, keys, partition_by=["p"])
    with _jobs(spark, "bare") as n_bare:
        new.write.partitionBy("p").parquet(str(tmp_path / "bare_data"))
        keys.distinct().coalesce(4).write.parquet(str(tmp_path / "bare_del"))
    assert n_delta[0] <= n_bare[0], (n_delta, n_bare)

    with _jobs(spark, "reads") as n_reads:
        cur = t.read(spark)
        old = t.read_as_of(spark, s1)
        log = sorted(t.snapshots(spark).collect(), key=lambda r: r["seq"])
    assert n_reads == [0]
    assert [r["operation"] for r in log] == ["overwrite", "delta"]
    assert [r["rows_written"] for r in log] == [600, 3]
    assert cur.count() == 600 and old.count() == 600
    assert cur.columns == ["k", "v", "p"]

    cm = CheckpointManager(str(tmp_path / "ckpt"))
    cm.write_stage("s", spark.range(100).repartition(4))
    with _jobs(spark, "resume") as n_resume:
        out = cm.run_or_resume(spark, "s", lambda: pytest.fail("recomputed"))
        m = cm.metrics(spark).collect()
    assert n_resume == [0]
    assert out.columns == ["id"]
    assert sum(r["output_rows"] for r in m) == 100
    assert sorted(r["partition_id"] for r in m) == [0, 1, 2, 3]


def test_merged_read_jobs_do_not_grow_with_pending_tombstones(spark, tmp_path):
    """A merged read is one broadcast anti-join whatever the number of
    tombstone dirs since the last compact(): counting it runs the same
    jobs at one and at four pending deltas (an anti-join per suffix of
    newer tombstone dirs ran one more job per delta)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(_kv(spark, 60), partition_by=["p"])
    counts = []
    for i in range(4):
        keys = spark.createDataFrame([(f"k{i}",), (f"k{i + 10}",)], "k string")
        t.delta(_kv(spark, 1, k0=i + 10), keys, partition_by=["p"])
        with _jobs(spark, f"merged{i}") as n:
            assert t.read(spark).count() == 60 - (i + 1)
        counts.append(n[0])
    assert counts == [counts[0]] * 4, counts
