"""Snapshot-versioned table: Iceberg-style commit log + time travel on
plain parquet.

SCALE.md §Iceberg documents what the stage-level emulation
(plans/manifest.py) deliberately does NOT give: snapshot history and
time travel.  This module closes that gap for the single-writer case
with the same two-phase commit Iceberg uses — immutable data dirs
first, then a LOG RECORD published create-if-absent, whose appearance is
the commit point (Iceberg: manifest files, then the metadata-pointer swap).

Layout under ``root``::

    snap-<seq>-<uuid>/      immutable data dirs (parquet)
    _log/<seq>.json         commit records (JSON, plans/records.py), one
                            per snapshot: snapshot_id, seq, ts_ms,
                            operation, data_dirs (the FULL dir list of
                            the snapshot), delete_dirs, rows_written,
                            run_id, and the data and tombstone schemas

- a reader resolves the CURRENT snapshot by max seq over committed log
  records (plain Python, no Spark job) and scans each dir with its stored
  schema (no inference job) — a crash after the data rename but before
  the log record leaves an orphan data dir that no reader ever sees
  (GC'd by ``expire_snapshots``);
- ``append`` commits a snapshot whose dir list = parent's dirs + the new
  dir (no rewrite of existing data — Iceberg's fast append);
- ``overwrite`` commits a snapshot with only the new dir;
- ``read`` / ``read_as_of(snapshot_id)`` / ``read_as_of_ts(ts_ms)`` give
  current, by-id, and by-timestamp time travel; a reader holding a
  snapshot id keeps a consistent view until ``expire_snapshots`` drops
  it (snapshot isolation for readers);
- ``expire_snapshots(keep_last=n)`` retires old log records and any data
  dir no kept snapshot references.

Equality-delete merge-on-read (Iceberg v2's delete files): a 100 TB
triple table whose source urls get recrawled cannot rewrite data files
for 1% churn.  ``delta(new_df, delete_keys)`` commits, in ONE snapshot,
a tombstone dir (``del-<seq>-<id>``, a parquet of key values) plus an
appended data dir; ``delete_where(keys)`` commits a tombstone alone.
Readers merge on read: a row is dropped iff some tombstone with a
STRICTLY NEWER commit seq matches its key — so a delta commit's own new
rows survive its own tombstone, and re-deleting later works.  Seqs live
in the dir names (no storage) and are parsed from each row's file path,
so a read is ONE anti-join of the data against a broadcast of every
tombstone (churn-sized, never table-sized) on the key columns plus
"tombstone seq > data seq", whatever the version or the number of
pending tombstone dirs; the data side parses its seq only for rows
whose key a tombstone matches.  ``compact()``
materializes the merged view into a fresh overwrite snapshot, clearing
tombstones (Iceberg's rewrite_data_files).  All tombstones of a table
must share one key schema (checked at commit against the stored one).

SINGLE WRITER PER ROOT, enforced: a log record is named by its seq alone
and published create-if-absent, so when two writers race for one seq
exactly one commit wins; the other raises ``FileExistsError`` and its
data dir stays an invisible orphan for ``expire_snapshots`` to collect.
Optimistic commit-retry across writers is what real Iceberg metadata
transactions add on top, and is documented as the deployment boundary.

Scale note: log records and dir lists are snapshot-count-sized, never
data-sized; ``read`` is a union of per-dir parquet scans, so partition
pruning and predicate pushdown hit the scan exactly as for any parquet
read.  Reference parity: the reference has no table versioning at all
(its crawlspace spool overwrites in place, crawler.py:37-43); this is
the BASELINE north_star's "partitioned Iceberg tables" surface.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import records

#: columns of ``snapshots()`` (the stored read schemas stay in the records)
LOG_COLUMNS = (
    "snapshot_id string, seq int, ts_ms long, operation string, "
    "data_dirs array<string>, delete_dirs array<string>, "
    "rows_written long, run_id string"
)


def _path_seq(path):
    """Commit seq of the data/tombstone dir holding the file at ``path``
    (a Column): the ``<seq>`` of its last ``snap-<seq>-<id>`` /
    ``del-<seq>-<id>`` path segment."""
    return F.regexp_extract(path, r".*/(?:snap|del)-(\d+)-[^/]*/", 1).cast("long")


def _key_columns(schema: dict) -> list[tuple[str, str]]:
    return sorted((f["name"], str(f["type"])) for f in schema["fields"])


class SnapshotTable:
    def __init__(self, root: str, run_id: str | None = None):
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(os.path.join(root, "_log"), exist_ok=True)

    # -- log ---------------------------------------------------------------
    def _log_dir(self) -> str:
        return os.path.join(self.root, "_log")

    def _records(self) -> list[dict]:
        """Committed log records, oldest first (their names are zero-padded
        seqs); raises if there are none."""
        recs = records.load(self._log_dir())
        if not recs:
            raise FileNotFoundError(f"no snapshots under {self.root}")
        return recs

    def snapshots(self, spark: SparkSession) -> DataFrame:
        """The snapshot log as a DataFrame (Iceberg's ``table.snapshots``
        metadata table)."""
        return records.frame(spark, LOG_COLUMNS, self._records())

    # -- commit ------------------------------------------------------------
    def _commit(
        self,
        df: DataFrame | None,
        operation: str,
        partition_by: list[str] | None = None,
        delete_keys: DataFrame | None = None,
    ) -> str:
        """Write the new data/tombstone dirs, then publish the log record
        (the commit point).  Every operation but ``overwrite`` starts from
        the current snapshot's dir lists."""
        recs = records.load(self._log_dir())
        cur = recs[-1] if recs else None
        seq = cur["seq"] + 1 if cur else 1
        snap_id = uuid.uuid4().hex[:16]
        rec = {
            "snapshot_id": snap_id, "seq": seq,
            "operation": operation, "data_dirs": [], "delete_dirs": [],
            "rows_written": 0, "run_id": self.run_id,
            "schema": None, "delete_schema": None,
        }
        if cur and operation != "overwrite":
            for k in ("data_dirs", "delete_dirs", "schema", "delete_schema"):
                rec[k] = cur[k]
        if df is not None:
            data_name = f"snap-{seq:08d}-{snap_id}"
            data_final = os.path.join(self.root, data_name)
            data_tmp = data_final + ".tmp"
            w = df.write.mode("overwrite")
            if partition_by:
                # hive-style partition dirs inside the snapshot dir:
                # readers get partition PRUNING on the partition columns
                # for free (the north_star's "partitioned Iceberg
                # tables" surface)
                w = w.partitionBy(*partition_by)
            w.parquet(data_tmp)
            rec["rows_written"] = sum(records.task_rows(data_tmp).values())
            os.rename(data_tmp, data_final)
            rec["data_dirs"] = rec["data_dirs"] + [data_name]
            # the read schema lists partition columns last, as a scan
            # of the hive-style dir returns them
            part = partition_by or []
            rec["schema"] = StructType(
                [f for f in df.schema if f.name not in part]
                + [df.schema[c] for c in part]
            ).jsonValue()
        if delete_keys is not None:
            key_schema = delete_keys.schema.jsonValue()
            got, want = _key_columns(key_schema), rec["delete_schema"]
            if rec["delete_dirs"] and got != _key_columns(want):
                raise ValueError(
                    f"tombstone key columns {got} differ from the table's "
                    f"{_key_columns(want)}"
                )
            del_name = f"del-{seq:08d}-{snap_id}"
            del_final = os.path.join(self.root, del_name)
            del_tmp = del_final + ".tmp"
            # tombstones are churn-sized; keep them in few files
            delete_keys.distinct().coalesce(4).write.mode("overwrite").parquet(
                del_tmp
            )
            os.rename(del_tmp, del_final)
            rec["delete_dirs"] = rec["delete_dirs"] + [del_name]
            rec["delete_schema"] = key_schema
        # publishing the LOG record is the commit point: a kill before it
        # leaves invisible orphan dirs, never a half-visible snapshot; a
        # writer that lost this seq to another raises FileExistsError here
        rec["ts_ms"] = int(time.time() * 1000)
        records.publish(self._log_dir(), f"{seq:08d}.json", rec)
        return snap_id

    def overwrite(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Commit a snapshot replacing the table contents (clears any
        tombstones); returns its id."""
        return self._commit(df, "overwrite", partition_by)

    def append(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Commit a snapshot adding rows on top of the current one (fast
        append: existing data dirs are referenced, never rewritten)."""
        return self._commit(df, "append", partition_by)

    def delete_where(self, delete_keys: DataFrame) -> str:
        """Commit an equality-delete tombstone: rows in EXISTING data dirs
        whose values on ``delete_keys.columns`` match any tombstone row
        disappear from subsequent reads (merge-on-read; no data rewrite)."""
        return self._commit(None, "delete", delete_keys=delete_keys)

    def delta(
        self,
        df: DataFrame,
        delete_keys: DataFrame,
        partition_by: list[str] | None = None,
    ) -> str:
        """ONE commit that tombstones ``delete_keys`` matches in existing
        data AND appends ``df`` — the recrawl-increment primitive: stale
        triples of changed urls vanish, their re-extracted triples land,
        atomically (both visible only when the log record is published)."""
        return self._commit(df, "delta", partition_by, delete_keys=delete_keys)

    def compact(self, spark: SparkSession,
                partition_by: list[str] | None = None) -> str:
        """Materialize the merged (post-tombstone) view into a fresh
        overwrite snapshot — Iceberg's rewrite_data_files.  Run when the
        tombstone count grows enough that the read-side anti-join costs
        more than one rewrite."""
        return self.overwrite(self.read(spark), partition_by)

    # -- read --------------------------------------------------------------
    def _read_dirs(self, spark: SparkSession, rec: dict) -> DataFrame:
        # each snapshot dir is its OWN parquet root (it may carry
        # hive-style partition subdirs): read per root and union, so
        # partition discovery — and partition PRUNING under filters —
        # applies inside every branch; a single multi-path read would
        # raise CONFLICTING_DIRECTORY_STRUCTURES across partitioned roots
        def scan(dirs: list[str], schema: dict, path_col: str = "") -> DataFrame:
            sch = StructType.fromJson(schema)
            frames = [spark.read.schema(sch).parquet(os.path.join(self.root, d))
                      for d in dirs]
            if path_col:
                frames = [f.select("*", F.col("_metadata.file_path").alias(path_col))
                          for f in frames]
            return reduce(DataFrame.unionByName, frames)

        if not rec["delete_dirs"]:
            return scan(rec["data_dirs"], rec["schema"])
        data = scan(rec["data_dirs"], rec["schema"], "_dpath")
        cols = [c for c in data.columns if c != "_dpath"]
        # merge-on-read: a row survives unless a tombstone from a
        # STRICTLY NEWER commit matches its key.  Each side's commit seq
        # is parsed from its file's dir name, so the plan has one shape
        # whatever the version (no per-version literal, and one broadcast
        # anti-join however many tombstone dirs are pending); the data
        # side parses it only for rows whose key a tombstone matches.
        tomb = scan(rec["delete_dirs"], rec["delete_schema"], "_tpath")
        keys = [c for c in tomb.columns if c != "_tpath"]
        tomb = tomb.select(*keys, _path_seq(F.col("_tpath")).alias("_tseq"))
        cond = reduce(
            lambda a, b: a & b,
            [data[k] == tomb[k] for k in keys],
            tomb["_tseq"] > _path_seq(data["_dpath"]),
        )
        return data.join(F.broadcast(tomb), on=cond, how="left_anti").select(*cols)

    def read(self, spark: SparkSession) -> DataFrame:
        """The current snapshot (tombstones merged on read)."""
        return self._read_dirs(spark, self._records()[-1])

    def read_as_of(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel by snapshot id (``VERSION AS OF``); applies exactly
        that snapshot's tombstone set."""
        for r in self._records():
            if r["snapshot_id"] == snapshot_id:
                return self._read_dirs(spark, r)
        raise LookupError(f"snapshot {snapshot_id} not found (expired?)")

    def read_as_of_ts(self, spark: SparkSession, ts_ms: int) -> DataFrame:
        """Time travel by timestamp (``TIMESTAMP AS OF``): the latest
        snapshot committed at or before ``ts_ms``."""
        best = None
        for r in self._records():
            if r["ts_ms"] <= ts_ms:
                best = r
        if best is None:
            raise LookupError(f"no snapshot at or before ts {ts_ms}")
        return self._read_dirs(spark, best)

    # -- retention ----------------------------------------------------------
    def expire_snapshots(self, spark: SparkSession, keep_last: int = 1) -> int:
        """Drop all but the newest ``keep_last`` snapshots and GC every
        data dir (including crash-orphaned ones) no kept snapshot
        references.  Returns the number of snapshots expired."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        recs = self._records()
        keep, drop = recs[-keep_last:], recs[:-keep_last]
        kept_dirs = {d for r in keep for d in r["data_dirs"] + r["delete_dirs"]}
        for r in drop:
            os.remove(os.path.join(self._log_dir(), f"{r['seq']:08d}.json"))
        for name in os.listdir(self.root):
            if (
                name.startswith("snap-") or name.startswith("del-")
            ) and name not in kept_dirs:
                # orphans from a crash window are .tmp or unreferenced
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return len(drop)
