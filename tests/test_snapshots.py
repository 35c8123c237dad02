"""Snapshot-versioned table (plans/snapshots.py): commit log, time
travel, crash-window invisibility, retention."""

import os
import random

import pytest

from dug_spark.plans.snapshots import SnapshotTable


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x int")


def _xs(df):
    return sorted(r["x"] for r in df.collect())


def test_overwrite_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [1, 2]))
    s2 = t.append(_df(spark, [3]))
    s3 = t.overwrite(_df(spark, [9]))
    assert _xs(t.read(spark)) == [9]
    assert _xs(t.read_as_of(spark, s1)) == [1, 2]
    assert _xs(t.read_as_of(spark, s2)) == [1, 2, 3]
    assert _xs(t.read_as_of(spark, s3)) == [9]
    log = {r["snapshot_id"]: r for r in t.snapshots(spark).collect()}
    assert log[s2]["operation"] == "append" and log[s2]["rows_written"] == 1
    assert [log[s]["seq"] for s in (s1, s2, s3)] == [1, 2, 3]


def test_timestamp_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [1]))
    s2 = t.overwrite(_df(spark, [2]))
    log = {r["snapshot_id"]: r["ts_ms"] for r in t.snapshots(spark).collect()}
    assert _xs(t.read_as_of_ts(spark, log[s1])) == [1]
    assert _xs(t.read_as_of_ts(spark, log[s2] + 10)) == [2]
    with pytest.raises(LookupError):
        t.read_as_of_ts(spark, log[s1] - 10)


def test_crash_window_is_invisible(spark, tmp_path):
    """A data dir renamed without its log record (kill between the two
    renames) must never be visible, and expire_snapshots GCs it."""
    root = str(tmp_path / "tbl")
    t = SnapshotTable(root)
    t.overwrite(_df(spark, [1]))
    # simulate the crash window: materialize an orphan data dir by hand
    orphan = os.path.join(root, "snap-00000002-deadbeefdeadbeef")
    _df(spark, [777]).write.parquet(orphan)
    assert _xs(t.read(spark)) == [1]  # orphan invisible
    s2 = t.overwrite(_df(spark, [2]))  # next commit takes seq 2 in the LOG
    assert _xs(t.read(spark)) == [2]
    t.expire_snapshots(spark, keep_last=1)
    assert not os.path.exists(orphan)
    assert _xs(t.read(spark)) == [2]
    assert _xs(t.read_as_of(spark, s2)) == [2]


def test_expire_keeps_reader_view_consistent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.overwrite(_df(spark, [1]))
    s2 = t.append(_df(spark, [2]))
    t.overwrite(_df(spark, [3]))
    n = t.expire_snapshots(spark, keep_last=1)
    assert n == 2
    assert _xs(t.read(spark)) == [3]
    with pytest.raises(LookupError):
        t.read_as_of(spark, s1)
    with pytest.raises(LookupError):
        t.read_as_of(spark, s2)


def test_append_never_rewrites_parent_dirs(spark, tmp_path):
    """Fast append: parent data dirs are referenced, not rewritten —
    their mtimes must not change across an append."""
    root = str(tmp_path / "tbl")
    t = SnapshotTable(root)
    t.overwrite(_df(spark, [1]))
    first_dir = [d for d in os.listdir(root) if d.startswith("snap-")][0]
    mtime = os.path.getmtime(os.path.join(root, first_dir))
    t.append(_df(spark, [2]))
    assert os.path.getmtime(os.path.join(root, first_dir)) == mtime
    assert _xs(t.read(spark)) == [1, 2]


def test_expired_then_reused_root_continues_seq(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [1]))
    t.overwrite(_df(spark, [2]))
    # a NEW manager (new run) on the same root picks up the seq chain
    t2 = SnapshotTable(str(tmp_path / "tbl"))
    t2.append(_df(spark, [3]))
    assert [r["seq"] for r in sorted(t2.snapshots(spark).collect(), key=lambda r: r["seq"])] == [1, 2, 3]
    assert _xs(t2.read(spark)) == [2, 3]


def test_partitioned_snapshot_prunes(spark, tmp_path):
    """partition_by writes hive-style dirs inside the snapshot; a filter
    on the partition column must reach the scan as partition pruning
    (PartitionFilters / fewer files), and append chains must stay
    readable across partitioned dirs."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "HAS_CONCEPT"), (2, "HAS_CONCEPT"), (3, "subclass_of")],
        "x int, pred string",
    )
    t.overwrite(df, partition_by=["pred"])
    t.append(
        spark.createDataFrame([(4, "co_mention")], "x int, pred string"),
        partition_by=["pred"],
    )
    cur = t.read(spark)
    assert sorted(r["x"] for r in cur.collect()) == [1, 2, 3, 4]
    filtered = cur.where(cur["pred"] == "HAS_CONCEPT")
    assert sorted(r["x"] for r in filtered.collect()) == [1, 2]
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred" in plan, plan


def test_pipeline_triples_to_snapshot_table(spark, tmp_path):
    """North-star integration: materialize pipeline triples to a
    partitioned snapshot table, append an incremental batch, time-travel
    back to the first snapshot."""
    from dug_spark import fixtures
    from dug_spark.pipeline import Pipeline

    corpus = fixtures.corpus_from_documents(spark, "/root/testdata/sf0.001")
    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
    )
    res = pipe.run(corpus)
    t = SnapshotTable(str(tmp_path / "triples"))
    s1 = t.overwrite(res.triples, partition_by=["pred"])
    n1 = t.read(spark).count()
    assert n1 == res.triples.count() and n1 > 0
    from pyspark.sql import functions as F

    extra = spark.createDataFrame(
        [("X:1", "HAS_CONCEPT", "Y:1")], "subj string, pred string, obj string"
    )
    for f in res.triples.schema.fields:
        if f.name not in extra.columns:
            extra = extra.withColumn(f.name, F.lit(None).cast(f.dataType))
    extra = extra.select(*res.triples.columns)
    t.append(extra, partition_by=["pred"])
    assert t.read(spark).count() == n1 + 1
    assert t.read_as_of(spark, s1).count() == n1


# -------------------------------------------------- merge-on-read deletes

def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k string, v int")


def _kvs(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k string")


def test_delete_where_merge_on_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    s1 = t.overwrite(_kv(spark, [("a", 1), ("b", 2), ("c", 3)]))
    s2 = t.delete_where(_keys(spark, ["b"]))
    assert _kvs(t.read(spark)) == [("a", 1), ("c", 3)]
    # time travel BEFORE the tombstone still sees b
    assert _kvs(t.read_as_of(spark, s1)) == [("a", 1), ("b", 2), ("c", 3)]
    assert _kvs(t.read_as_of(spark, s2)) == [("a", 1), ("c", 3)]
    log = {r["snapshot_id"]: r for r in t.snapshots(spark).collect()}
    assert log[s2]["operation"] == "delete"
    assert len(log[s2]["delete_dirs"]) == 1


def test_delta_atomic_replace_and_reinsert(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(_kv(spark, [("a", 1), ("b", 2)]))
    # ONE commit: tombstone a's old rows, append its re-extracted row —
    # the delta's own new rows must survive its own tombstone
    t.delta(_kv(spark, [("a", 10)]), _keys(spark, ["a"]))
    assert _kvs(t.read(spark)) == [("a", 10), ("b", 2)]
    # a LATER tombstone kills the re-inserted row too (newer seq wins)
    t.delete_where(_keys(spark, ["a"]))
    assert _kvs(t.read(spark)) == [("b", 2)]
    # and a later append resurrects the key (dir seq > tombstone seq)
    t.append(_kv(spark, [("a", 99)]))
    assert _kvs(t.read(spark)) == [("a", 99), ("b", 2)]


def test_merge_on_read_matches_model_over_commit_stream(spark, tmp_path):
    """A seeded stream of 20 commits (overwrite, append, delta,
    delete_where) over five reused keys, every snapshot read back by
    ``read_as_of`` and compared with a pure-Python model of merge-on-read:
    a row is dropped iff a tombstone with a STRICTLY newer seq matches
    its key.  The stream reaches three or more live tombstone dirs and
    re-adds tombstoned keys; the key is not the table's first column, so
    every read must also keep the stored column order."""
    rng = random.Random(5)
    keys = ["a", "b", "c", "d", "e"]
    t = SnapshotTable(str(tmp_path / "tbl"))
    data, tombs = [], []  # the model: (seq, rows) and (seq, keys) lists
    expected, max_tombs, readded, v = {}, 0, False, 0
    for seq in range(1, 21):
        op = "overwrite" if seq == 1 else rng.choices(
            ["overwrite", "append", "delta", "delete"], [1, 3, 4, 3])[0]
        rows, dead = [], []
        if op != "delete":
            for k in rng.sample(keys, rng.randint(1, 3)):
                v += 1
                rows.append((v, k))
        if op in ("delta", "delete"):
            dead = rng.sample(keys, rng.randint(1, 2))
        df = spark.createDataFrame(rows, "v int, k string")
        ks = _keys(spark, dead)
        if op == "overwrite":
            snap = t.overwrite(df)
            data, tombs = [], []
        elif op == "append":
            snap = t.append(df)
        elif op == "delta":
            snap = t.delta(df, ks)
        else:
            snap = t.delete_where(ks)
        readded |= any(k in tks for _s, tks in tombs for _v, k in rows)
        if rows:
            data.append((seq, rows))
        if dead:
            tombs.append((seq, dead))
        max_tombs = max(max_tombs, len(tombs))
        expected[snap] = sorted(
            (k, val) for ds, rs in data for val, k in rs
            if not any(ts > ds and k in tks for ts, tks in tombs)
        )
    assert max_tombs >= 3 and readded
    for snap, want in expected.items():
        got = t.read_as_of(spark, snap)
        assert got.columns == ["v", "k"]
        assert _kvs(got) == want, snap


def test_new_version_reuses_generated_code(spark, tmp_path):
    """Commit seqs are parsed from file paths at run time, not inlined as
    per-version literals, so reading a new snapshot version of the same
    shape compiles no new Java classes (Spark's CodegenMetrics counts
    every Janino compile).  This holds for the merge's join as written
    in ``SnapshotTable._read_dirs``; a seq literal in the plan recompiled
    6-35 classes per version and query."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(spark.createDataFrame(
        [(f"d{i}", f"c{i % 7}", "HAS_CONCEPT") for i in range(40)],
        "subj string, obj string, pred string"), partition_by=["pred"])

    def new_version(i):
        t.delta(spark.createDataFrame([(f"d{i}", "c9", "HAS_CONCEPT")],
                                      "subj string, obj string, pred string"),
                spark.createDataFrame([(f"d{i}",)], "subj string"),
                partition_by=["pred"])
        snap = t.read(spark)
        return [snap.groupBy("pred").count(),
                snap.where("obj = 'c9'").join(snap.where("obj = 'c2'"), "subj")]

    for q in new_version(1):
        q.collect()
    t.compact(spark, partition_by=["pred"])
    queries = new_version(2)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    got = [sorted(q.collect()) for q in queries]
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before
    assert got[0][0]["count"] == 40 and got[1] == []


def test_tombstone_key_columns_must_match(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(_kv(spark, [("a", 1)]))
    t.delete_where(_keys(spark, ["a"]))
    with pytest.raises(ValueError, match="key columns"):
        t.delete_where(spark.createDataFrame([(1,)], "v int"))


def test_compact_clears_tombstones(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.overwrite(_kv(spark, [("a", 1), ("b", 2), ("c", 3)]))
    t.delta(_kv(spark, [("b", 20)]), _keys(spark, ["b"]))
    before = _kvs(t.read(spark))
    t.compact(spark)
    rec = sorted(t.snapshots(spark).collect(), key=lambda r: r["seq"])[-1]
    assert rec["operation"] == "overwrite"
    assert len(rec["data_dirs"]) == 1 and not (rec["delete_dirs"] or [])
    assert _kvs(t.read(spark)) == before == [("a", 1), ("b", 20), ("c", 3)]


def test_expire_gc_tombstone_dirs(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t = SnapshotTable(root)
    t.overwrite(_kv(spark, [("a", 1), ("b", 2)]))
    t.delete_where(_keys(spark, ["a"]))
    t.compact(spark)  # newest snapshot references no tombstones
    t.expire_snapshots(spark, keep_last=1)
    assert not [d for d in os.listdir(root) if d.startswith("del-")]
    assert _kvs(t.read(spark)) == [("b", 2)]


def test_incremental_update_equals_full_recompute(spark):
    """North-star: recrawl increment (changed-url re-annotate + one MOR
    delta commit) must read back EQUAL to a from-scratch run on the new
    corpus — HAS_CONCEPT family."""
    import tempfile

    from pyspark.sql import functions as F

    from dug_spark import fixtures
    from dug_spark.pipeline import Pipeline, incremental_update

    corpus_v1 = fixtures.corpus_from_documents(
        spark, "/root/testdata/sf0.001"
    ).limit(120)
    pipe = Pipeline(
        dictionary=fixtures.vocab_dictionary(spark),
        curie_norm=fixtures.vocab_norm(spark),
        kg_edges=fixtures.vocab_kg_edges(spark),
    )
    # v2: ~1/3 of urls get new content (text rewritten to mention a
    # different operator), the rest unchanged
    h = F.abs(F.xxhash64("url")) % 3
    corpus_v2 = corpus_v1.withColumn(
        "text",
        F.when(h == 0, F.lit("the window operator and the stream operator"))
        .otherwise(F.col("text")),
    )
    with tempfile.TemporaryDirectory() as d:
        t = SnapshotTable(d + "/tbl")
        v1_triples = pipe.run(corpus_v1).triples.where(
            F.col("pred") == "HAS_CONCEPT"
        )
        t.overwrite(v1_triples, partition_by=["pred"])
        snap_id, changed = incremental_update(t, pipe, corpus_v2, corpus_v1)
        assert changed.count() > 0
        got = {
            (r["subj"], r["obj"])
            for r in t.read(spark).select("subj", "obj").collect()
        }
        want = {
            (r["subj"], r["obj"])
            for r in pipe.run(corpus_v2)
            .triples.where(F.col("pred") == "HAS_CONCEPT")
            .select("subj", "obj")
            .collect()
        }
        assert got == want
        rec = sorted(t.snapshots(spark).collect(), key=lambda r: r["seq"])[-1]
        assert rec["operation"] == "delta" and rec["snapshot_id"] == snap_id


def test_racing_writers_one_commit_wins(spark, tmp_path, monkeypatch):
    """Two handles on one root pick the same next seq; the log record is
    claimed create-if-absent, so the second publish raises, the winner's
    snapshot is the one readers see, and the loser's data dir is an
    orphan that expiry collects."""
    from dug_spark.plans import records

    root = str(tmp_path / "tbl")
    loser, winner = SnapshotTable(root), SnapshotTable(root)
    real_publish = records.publish

    def publish_after_winner(*args):
        # the winner commits between the loser's seq pick and its publish
        monkeypatch.setattr(records, "publish", real_publish)
        winner.overwrite(_df(spark, [2]))
        real_publish(*args)

    monkeypatch.setattr(records, "publish", publish_after_winner)
    with pytest.raises(FileExistsError):
        loser.overwrite(_df(spark, [1]))
    assert _xs(loser.read(spark)) == [2]
    assert [r["run_id"] for r in loser.snapshots(spark).collect()] == [winner.run_id]
    assert os.listdir(os.path.join(root, "_log")) == ["00000001.json"]
    assert len([d for d in os.listdir(root) if d.startswith("snap-")]) == 2
    loser.expire_snapshots(spark, keep_last=1)
    assert len([d for d in os.listdir(root) if d.startswith("snap-")]) == 1
    assert _xs(loser.read(spark)) == [2]
