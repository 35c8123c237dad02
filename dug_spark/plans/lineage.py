"""Per-source-partition lineage counters for the annotate scan.

The BASELINE north_rule requires "per-partition lineage + extraction-count
metrics written to a checkpoint manifest".  Output-partition row counts
come free from the written files' parquet footers (plans/records.py), but
*input* rows per source partition cannot be recovered after the shuffle —
so the annotate ``mapInPandas`` emits them through a Spark accumulator
keyed by ``TaskContext.partitionId()``: zero extra jobs, no second scan of
the corpus.

Accumulator semantics note: Spark re-sends accumulator updates on task
retry, so counts are exact only for successfully-completed first attempts
— the standard caveat for metric accumulators (identical to Spark's own
task metrics).  Lineage rows are diagnostics, not data.
"""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam


class PartitionCountsParam(AccumulatorParam):
    """Accumulator of {partition_id: (input_rows, extracted_rows)}."""

    def zero(self, value):
        return {}

    def addInPlace(self, v1, v2):
        for pid, (a, b) in v2.items():
            if pid in v1:
                v1[pid] = (v1[pid][0] + a, v1[pid][1] + b)
            else:
                v1[pid] = (a, b)
        return v1


def partition_lineage_accumulator(spark):
    """A fresh per-run accumulator to thread through annotate_mentions."""
    return spark.sparkContext.accumulator({}, PartitionCountsParam())
