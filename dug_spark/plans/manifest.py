"""Checkpoint manifest: idempotent stage outputs + exact resume with
per-partition lineage and extraction-count metrics.

Replaces the reference's crawlspace file spool (crawler.py:37-43,65,99-107
— JSON per concept/element, skip-if-exists per TranQL query at
concept_expander.py:29-32) and its Redis HTTP memo-cache (factory.py:21-33)
with the Spark-native shape:

- each pipeline stage writes to ``<root>/<stage>/`` atomically (tmp dir +
  rename; parquet ``_SUCCESS`` marker is the commit point — on Iceberg this
  would be a snapshot commit);
- ``_manifest/`` holds one JSON commit record per stage write
  (plans/records.py): rows per write task and per source partition, wall
  time and run id — the per-partition lineage the BASELINE north_rule
  requires.  Records are read in plain Python and row counts come from
  parquet footers, so no Spark job runs on this metadata;
- ``run_or_resume`` skips any stage whose commit marker exists, giving
  exact resume: a killed run re-executes only uncommitted stages, and
  re-execution is deterministic so committed outputs never change.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import records

#: columns of ``manifest()`` / ``metrics()``
MANIFEST_COLUMNS = (
    "stage string, scope string, partition_id int, input_rows long, "
    "output_rows long, wall_ms long, run_id string"
)


class CheckpointManager:
    """SINGLE WRITER PER ROOT: one live CheckpointManager (one run) owns a
    checkpoint root at a time — the same contract as the reference's
    crawlspace directory.  Concurrent runs must use distinct roots; the
    stale-tmp GC in ``write_stage`` assumes any other-run tmp dir older
    than ``TMP_GC_AGE_S`` belongs to a DEAD run (a crash before rename),
    and the age threshold is what keeps a briefly-overlapping writer's
    in-flight tmp safe from deletion."""

    #: other-run tmp dirs younger than this are left alone (a live writer
    #: may still be streaming into them); older ones are dead-run debris
    TMP_GC_AGE_S = 3600

    def __init__(self, root: str, run_id: str | None = None):
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifest")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._stage_dir(stage), "_SUCCESS"))

    # -- lineage ----------------------------------------------------------
    def _record(self, stage: str, wall_ms: int, lineage: dict | None = None):
        """One JSON record (plans/records.py) per committed stage write: a
        row per write task (scope='output'; rows from the parquet footers,
        no Spark job), plus — when the caller passes the annotate scan's
        lineage accumulator value — one per SOURCE partition with real
        input_rows and extraction counts (scope='source'), satisfying the
        per-partition lineage + extraction-count metric requirement."""
        parts = [
            ("output", pid, None, n)
            for pid, n in sorted(records.task_rows(self._stage_dir(stage)).items())
        ]
        parts += [
            ("source", int(pid), int(n_in), int(n_out))
            for pid, (n_in, n_out) in sorted((lineage or {}).items())
        ]
        records.publish(
            self._manifest_dir(),
            f"{stage}-{self.run_id}-{uuid.uuid4().hex[:8]}.json",
            {"stage": stage, "run_id": self.run_id, "wall_ms": wall_ms, "parts": parts},
        )

    def manifest(self, spark: SparkSession) -> DataFrame:
        recs = records.load(self._manifest_dir())
        if not recs:
            raise FileNotFoundError(f"no manifest records under {self._manifest_dir()}")
        return records.frame(spark, MANIFEST_COLUMNS, [
            {
                "stage": r["stage"], "scope": scope, "partition_id": pid,
                "input_rows": n_in, "output_rows": n_out,
                "wall_ms": r["wall_ms"], "run_id": r["run_id"],
            }
            for r in recs
            for scope, pid, n_in, n_out in r["parts"]
        ])

    # -- stage I/O ----------------------------------------------------------
    def write_stage(
        self, stage: str, df: DataFrame, lineage_acc=None
    ) -> DataFrame:
        """Atomic write: tmp dir + rename; returns the re-read DataFrame
        (reading back decouples downstream stages from upstream lineage).
        ``lineage_acc``: a plans.lineage accumulator threaded through the
        stage's annotate scan — its value is read AFTER the write action
        (which materializes the scan) and recorded per source partition."""
        spark = df.sparkSession
        final = self._stage_dir(stage)
        # garbage-collect tmp dirs left by KILLED runs: a crash anywhere
        # before the rename leaves <stage>.tmp-<old-run> with partial (or
        # even complete-but-uncommitted) parquet — never readable state,
        # safe to drop, and dropping keeps resume storage bounded.  Only
        # dirs older than TMP_GC_AGE_S are dropped so that, should two
        # managers ever (against the single-writer contract) share a root,
        # one cannot delete the other's in-flight tmp mid-write
        now = time.time()
        for name in os.listdir(self.root):
            if name.startswith(f"{stage}.tmp-") and name != f"{stage}.tmp-{self.run_id}":
                path = os.path.join(self.root, name)
                try:
                    age = now - os.path.getmtime(path)
                except OSError:
                    continue
                if age > self.TMP_GC_AGE_S:
                    shutil.rmtree(path, ignore_errors=True)
        tmp = final + f".tmp-{self.run_id}"
        # the accumulator is cumulative across every action that executes
        # the annotate scan (e.g. an earlier stage's write); snapshot
        # before the write so the recorded lineage is exactly this stage's
        # pass over the source partitions
        before = dict(lineage_acc.value) if lineage_acc is not None else {}
        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(tmp)
        wall_ms = int((time.monotonic() - t0) * 1000)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        lineage = None
        if lineage_acc is not None:
            after = dict(lineage_acc.value)
            lineage = {
                pid: (
                    a - before.get(pid, (0, 0))[0],
                    b - before.get(pid, (0, 0))[1],
                )
                for pid, (a, b) in after.items()
                if (a, b) != before.get(pid, (0, 0))
            }
        self._record(stage, wall_ms, lineage=lineage)
        return self.read_stage(spark, stage)

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed stage, read with the schema its parquet footers
        carry (no schema-inference job)."""
        path = self._stage_dir(stage)
        return spark.read.schema(records.spark_schema(path)).parquet(path)

    def backfill_manifest(self, stage: str):
        """Repair the crash window between a stage's rename-commit and its
        manifest record: if the committed stage has no record, record its
        output-partition rows from the committed files' footers (wall_ms=-1
        sentinel; source-scope lineage from the dead run is unrecoverable
        and stays absent).  Idempotent."""
        if not any(r["stage"] == stage for r in records.load(self._manifest_dir())):
            self._record(stage, wall_ms=-1)

    def run_or_resume(
        self, spark: SparkSession, stage: str, build, lineage_acc=None
    ) -> DataFrame:
        """Exact resume: committed stages are read back, not recomputed
        (the skip-if-exists semantics of concept_expander.py:29-32 at
        stage granularity, with lineage recorded per partition).

        Crash-window backfill: the commit point is the rename, and the
        manifest record is published AFTER it — a kill in between leaves a
        committed stage with no lineage rows (observed in the 1.6M-doc
        resume evidence run).  On resume, such a stage gets its
        output-partition manifest rows backfilled from the committed files
        under THIS run id with wall_ms=-1 (the sentinel for "recovered,
        wall time unknown").  Source-scope lineage from the dead run's
        accumulator is genuinely unrecoverable and stays absent — the
        backfill records that honestly rather than inventing it."""
        if self.is_done(stage):
            self.backfill_manifest(stage)
            return self.read_stage(spark, stage)
        return self.write_stage(stage, build(), lineage_acc=lineage_acc)

    def metrics(self, spark: SparkSession, stage: str | None = None) -> DataFrame:
        m = self.manifest(spark)
        return m.where(F.col("stage") == stage) if stage else m
