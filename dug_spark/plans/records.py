"""Commit records for ``CheckpointManager`` (plans/manifest.py,
``<root>/_manifest/``) and ``SnapshotTable`` (plans/snapshots.py,
``<root>/_log/``): small JSON files read on the driver in plain Python,
so no Spark job touches table metadata.

A record is written to a private ``.tmp`` file and published with
``os.link``, which creates the final name only if it is absent: a record
is whole or missing, and two writers never both claim one name (Iceberg's
atomic metadata-pointer swap; ``os.rename`` would let the second one win).
A kill between the write and the link leaves a small ``.tmp`` file that
no reader lists.  Facts about the data a commit just wrote come from the
parquet footers (``pyarrow``) instead of a re-read: row counts, and the
Spark schema a Spark-written footer carries.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

#: footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def publish(dir_: str, name: str, record: dict) -> None:
    """Commit ``record`` as ``dir_/name``.  Raises ``FileExistsError`` if
    that name is already committed; the caller's record is then not
    published."""
    os.makedirs(dir_, exist_ok=True)
    final = os.path.join(dir_, name)
    tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    finally:
        os.remove(tmp)


def load(dir_: str) -> list[dict]:
    """Every committed record under ``dir_``, in name order."""
    if not os.path.isdir(dir_):
        return []
    out = []
    for n in sorted(os.listdir(dir_)):
        if n.endswith(".json"):
            with open(os.path.join(dir_, n)) as f:
                out.append(json.load(f))
    return out


def frame(spark: SparkSession, ddl: str, rows: list[dict]) -> DataFrame:
    """``rows`` (dicts keyed by column name) as a DataFrame of the ``ddl``
    columns.  It is built from an Arrow table, which Spark keeps as a local
    relation: collecting it, or a filter of it, starts no Spark job (a
    ``createDataFrame`` of a Python list parallelizes an RDD)."""
    schema = DataType.fromDDL(ddl)
    table = pa.table({f.name: [r[f.name] for r in rows] for f in schema.fields})
    return spark.createDataFrame(table, schema)


def _parquet_files(path: str):
    for d, _subdirs, files in sorted(os.walk(path)):
        for n in sorted(files):
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                yield n, os.path.join(d, n)


def task_rows(path: str) -> dict[int, int]:
    """Rows per write task of the Spark parquet output under ``path``,
    summed from the file footers.  A task's partition id is the ``NNNNN``
    of its ``part-NNNNN-…`` file names (a task writes one file per hive
    partition it touches)."""
    rows: dict[int, int] = {}
    for name, path_ in _parquet_files(path):
        pid = int(name.split("-")[1])
        rows[pid] = rows.get(pid, 0) + pq.read_metadata(path_).num_rows
    return rows


def spark_schema(path: str) -> StructType:
    """The schema a Spark parquet write under ``path`` stored in its
    footers (Spark writes at least one file, even for no rows)."""
    _name, path_ = next(_parquet_files(path))
    meta = pq.read_schema(path_).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
