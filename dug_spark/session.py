"""SparkSession builders.

Local-mode profile for tests/bench plus the config set we would ship on a
real multi-executor cluster (same knobs, different master).  All Arrow /
AQE switches live here so every entry point gets identical semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that matter at 100 TB and are harmless at sf0.001:
#  - AQE on: runtime coalescing + skew-join splitting (hot CURIEs).
#  - Arrow on: every per-row op in this engine is a pandas/Arrow UDF.
#  - UTC session TZ: DuckDB-oracle comparability (duckdb timestamps are
#    UTC-naive).
#  - maxRecordsPerBatch: bounds pandas-UDF batch memory on wide text rows.
#  - codegen cache: Spark keeps compiled whole-stage classes in an LRU
#    cache of 100 entries by default, but one build → recrawl → KG reads →
#    compact cycle uses ~140 classes, so at that size every operation's
#    classes are evicted before its next call and Janino compiles them
#    again (~12 ms a class, and a fresh class for the JIT to warm).
#    kgbench's build_dense set-up plus three cycles needs 290 distinct
#    classes (659 compiles at the default size); 1000 entries is ~3× that
#    working set and a few MB of bytecode (~2.9 KB a class).  Static
#    conf: it only takes effect when the session is created.
_COMMON = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "1000",
}

# Shuffle/spill dir: prefer tmpfs when present — this sandbox's block
# device shows large I/O-steal variance that swamps benchmark timings.
# On a real cluster spark.local.dir comes from the cluster manager
# (local NVMe), so this is a local-mode-only affordance.
_SHM = "/dev/shm"
if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
    _COMMON["spark.local.dir"] = os.path.join(_SHM, "spark_local")


def _default_driver_memory() -> str:
    """A quarter of physical memory, capped at 48g.  In local mode the
    driver JVM is the whole engine; a heap larger than the host lets it
    grow until the kernel OOM-kills it mid-run."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 4, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "dug_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32, driver memory to
    $SPARK_GRAFT_DRIVER_MEM or ``_default_driver_memory()``.  Shuffle
    partitions default to the core count — at cluster scale this would
    instead be sized so post-shuffle partitions land at 128–256 MB (AQE
    coalescing makes the exact number forgiving).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in _COMMON.items():
        builder = builder.config(k, v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
