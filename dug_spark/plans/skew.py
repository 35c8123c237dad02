"""Skew handling: salted repartitioning on hot keys.

BASELINE north_star requirement: "salted repartitioning on skewed
high-frequency concepts (e.g., common UMLS/MONDO terms)".  Ubiquitous
CURIEs dominate the mentions/triples key distribution; a plain
``repartition(curie)`` puts one ontology term's worth of a 100 TB corpus
into one task.

Strategy (complements AQE skew-join splitting, which only helps *joins*):
1. one exact frequency pass finds keys above `hot_threshold` (every
   caller salts on concept CURIEs, a key space the dictionary bounds, so
   the per-key count aggregate stays dictionary-sized);
2. hot keys get a salt column `pmod(xxhash64(row-unique col), factor)`,
   cold keys salt=0;
3. repartition on (key, salt) → hot keys spread over `factor` tasks.

Aggregations over salted data run two-level: partial agg on (key, salt),
final agg on key — which is exactly what Catalyst's partial+final hash
aggregation already does for algebraic aggs, so explicit salting is only
needed for sort/write locality and non-algebraic reshapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, hot_threshold: int) -> DataFrame:
    """Keys whose row count exceeds hot_threshold (the frequency pass)."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_freq"))
        .where(F.col("_freq") > hot_threshold)
        .select(key)
    )


def salted_repartition(
    df: DataFrame,
    key: str,
    salt_source: str,
    num_partitions: int,
    hot_threshold: int = 1_000_000,
    factor: int = 16,
) -> DataFrame:
    """Repartition on (key, salt) where salt spreads only the hot keys.

    ``salt_source`` is any per-row (near-)unique column (e.g. url) so the
    salt is deterministic — re-runs land rows in the same partitions,
    which keeps the checkpoint manifest stable for exact resume.
    """
    hot = hot_keys(df, key, hot_threshold).withColumn("_is_hot", F.lit(True))
    out = df.join(F.broadcast(hot), key, "left").withColumn(
        "_salt",
        F.when(
            F.col("_is_hot").isNotNull(),
            F.pmod(F.xxhash64(F.col(salt_source)), F.lit(factor)),
        ).otherwise(F.lit(0)),
    )
    return out.repartition(num_partitions, F.col(key), F.col("_salt")).drop(
        "_is_hot", "_salt"
    )
