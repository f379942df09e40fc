"""LakeTable unit tests: atomic commit, bucket pruning, retention,
crash-safety of the commit protocol."""

from __future__ import annotations

import json
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest
from omicidx_etl_spark.lake import LakeTable, manifest
from omicidx_etl_spark.lake.table import atomic_write_json, bucket_expr

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def test_overwrite_and_read(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    base = datagen.gen_sequences(spark, 200, seed=1)
    t.overwrite(base)
    assert t.read().count() == 200
    # bucket pruning returns exactly the rows hashing to those buckets
    pruned = t.read(buckets=[0, 1]).count()
    expected = base.withColumn("b", bucket_expr("doc_id", 4)).filter(
        F.col("b").isin([0, 1])
    ).count()
    assert pruned == expected


def test_merge_touches_only_affected_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=8)
    t.overwrite(datagen.gen_sequences(spark, 400, seed=2))
    before = t.snapshot()["buckets"]
    one = spark.createDataFrame(
        [(1, "U", "doc_00000007", [1, 2, 3], 3, "web")],
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    snap = t.merge(dedup_latest(one))
    assert snap["summary"]["touched_buckets"] == 1
    after = snap["buckets"]
    changed = [b for b in after if after[b] != before[b]]
    assert len(changed) == 1
    got = t.read().filter(F.col("doc_id") == "doc_00000007").first()
    assert list(got["tokens"]) == [1, 2, 3]
    assert t.read().count() == 400


def test_commit_is_atomic_pointer_swap(spark, tmp_path):
    """A crashed writer (data staged, pointer not swapped) must be invisible."""
    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=4)
    t.overwrite(datagen.gen_sequences(spark, 100, seed=3))
    n0 = t.read().count()
    # simulate a crash: stage orphan data files without committing a snapshot
    orphan = datagen.gen_sequences(spark, 50, seed=4).withColumn(
        "__bucket", bucket_expr("doc_id", 4)
    )
    orphan.write.mode("overwrite").partitionBy("__bucket").parquet(
        os.path.join(root, "data", "snap-999999999")
    )
    t2 = LakeTable.load(spark, root)
    assert t2.read().count() == n0  # orphans not visible


def test_expire_snapshots_keeps_current_readable(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    t.overwrite(datagen.gen_sequences(spark, 100, seed=5))
    for i in range(3):
        ch = spark.createDataFrame(
            [(i + 1, "U", f"doc_{i:08d}", [i], 1, "web")],
            "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
        )
        t.merge(dedup_latest(ch), app_id="x", batch_id=i)
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted  # superseded bucket rewrites removed
    assert t.read().count() == 100
    assert len(t.history()) == 1


def test_idempotent_batch_guard(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    ch = spark.createDataFrame(
        [(1, "I", "a", [1], 1, "web")],
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    s1 = t.merge(dedup_latest(ch), app_id="app", batch_id=0)
    assert not s1["summary"]["skipped"]
    s2 = t.merge(dedup_latest(ch), app_id="app", batch_id=0)
    assert s2["summary"]["skipped"]
    assert t.read().count() == 1
    # a different app id is not blocked
    s3 = t.merge(dedup_latest(ch), app_id="other", batch_id=0)
    assert not s3["summary"]["skipped"]


def test_lookup_prunes_to_key_buckets(spark, tmp_path, monkeypatch):
    """Point lookup must read only the buckets its keys hash to, and return
    exactly those keys' current rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=8)
    t.overwrite(datagen.gen_sequences(spark, 200, seed=5))
    keys = ["doc_00000003", "doc_00000077"]

    seen: dict[str, object] = {}
    orig = LakeTable.read

    def spy(self, buckets=None, **kw):
        seen["buckets"] = buckets
        return orig(self, buckets=buckets, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    out = t.lookup(keys).collect()
    assert sorted(r.doc_id for r in out) == sorted(keys)
    assert seen["buckets"] is not None and 1 <= len(seen["buckets"]) <= 2


def test_create_rejects_unhashable_key_type(spark, tmp_path):
    """Keys are hashed on the driver (lake.hashing), which knows Spark's
    byte encoding for string, int and bigint only; widening a key would
    re-bucket new rows away from their old versions."""
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.StringType())]
    )
    with pytest.raises(ValueError, match="supported key types"):
        LakeTable.create(spark, str(tmp_path / "d"), schema, key="k")
    assert not LakeTable.exists(str(tmp_path / "d"))

    schema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "i"), schema, key="k", n_buckets=2)
    with pytest.raises(ValueError, match="bucket key"):
        t.widen_column("k", T.LongType())


def test_read_and_lookup_plan_without_spark_jobs(spark, tmp_path, count_jobs):
    """Building a manifest read and a point lookup is driver work: a
    16-bucket table with a base and 4 deltas per bucket (80 dirs, past
    Spark's default 32-path parallel-listing threshold) reads without a
    listing job, and a bloom-pruned lookup hashes its keys on the driver.
    The first job is the caller's action."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=16)
    t.overwrite(datagen.gen_sequences(spark, 400, seed=6))
    for i in range(4):
        ch = spark.createDataFrame(
            [(1000 * (i + 1) + d, "U", f"doc_{d:08d}", [i, d], 2, "web")
             for d in range(400)],
            "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
        )
        t.merge(dedup_latest(ch), mode="mor")
    buckets = t.snapshot()["buckets"].values()
    assert sum(1 + len(e["deltas"]) for e in buckets if e["base"]) == 80

    df, n_jobs = count_jobs(t.read)
    assert n_jobs == 0
    assert df.count() == 400

    t.build_blooms()
    keys = ["doc_00000003", "doc_00000077", "doc_00000150", "doc_00000399"]
    out, n_jobs = count_jobs(lambda: t.lookup(keys))
    assert n_jobs == 0
    rows, n_jobs = count_jobs(out.collect)
    assert n_jobs > 0  # the counter sees the action's jobs
    assert sorted((r.doc_id, list(r.tokens)) for r in rows) == [
        (k, [3, int(k[4:])]) for k in keys
    ]


def test_sorted_compact_clusters_rowgroups(spark, tmp_path):
    """compact(sort_by_key=True) = Iceberg sort-order rewrite: each base
    file is key-sorted so row-group min/max stats are tight and the pushed
    lookup predicate can skip row groups."""
    import glob as _glob

    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 400, seed=21))
    ch = datagen.gen_changes(spark, 500, 400, seed=22)
    t.merge(dedup_latest(ch), mode="mor")
    t.compact(sort_by_key=True)
    snap = t.snapshot()
    checked = 0
    for entry in snap["buckets"].values():
        base = entry["base"]
        assert entry["deltas"] == []
        for f in _glob.glob(os.path.join(str(tmp_path / "t"), base["dir"], "*.parquet")):
            pf = pq.ParquetFile(f)
            keys = pf.read(columns=["doc_id"])["doc_id"].to_pylist()
            assert keys == sorted(keys)  # file is key-clustered
            md = pf.metadata
            idx = [
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "doc_id"
            ][0]
            prev_max = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                assert st.min <= st.max
                if prev_max is not None:
                    assert st.min >= prev_max  # row groups ordered by key
                prev_max = st.max
                checked += 1
    assert checked > 0
    # correctness unchanged: lookup still resolves
    one = t.read().select("doc_id").first()["doc_id"]
    assert t.lookup([one]).count() == 1


def test_read_where_prunes_by_column_bounds(spark, tmp_path):
    """read(where=...) = Iceberg scan planning over manifest column bounds:
    buckets whose every file group is excluded by the bounds are never
    scanned; surviving rows still pass through the full residual filter."""
    sch = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("t", T.IntegerType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, key="doc_id", n_buckets=8)
    # secondary column equal to the row's bucket id -> per-bucket bounds [b, b]
    rows = spark.range(400).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("doc_id")
    ).withColumn("t", bucket_expr("doc_id", 8))
    t.overwrite(rows)

    out = t.read(where=[("t", "=", 3)])
    assert t.last_scan["buckets_read"] == [3]
    assert len(t.last_scan["buckets_skipped"]) == 7
    got = out.collect()
    assert got and all(r.t == 3 for r in got)
    expect = rows.filter(F.col("t") == 3).count()
    assert len(got) == expect

    out = t.read(where=[("t", ">=", 6)])
    assert t.last_scan["buckets_read"] == [6, 7]
    assert out.count() == rows.filter(F.col("t") >= 6).count()


def test_read_where_keeps_dirty_bucket_with_matching_delta(spark, tmp_path):
    """A delta-carrying bucket is skipped only when EVERY group is excluded
    (MOR-safe granularity); the residual filter still applies post-merge."""
    sch = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("t", T.IntegerType()),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, key="doc_id", n_buckets=4)
    rows = spark.range(100).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("doc_id")
    ).withColumn("t", bucket_expr("doc_id", 4))
    t.overwrite(rows)
    # update a handful of bucket-2 keys to t=99 via a MOR delta
    upd = (
        rows.filter(F.col("t") == 2)
        .limit(5)
        .withColumn("t", F.lit(99))
        .withColumn("seq", F.lit(10).cast("long"))
        .withColumn("op", F.lit("u"))
    )
    t.merge(upd, mode="mor")

    # t=99 exists only in bucket 2's delta: every other bucket prunes away
    out = t.read(where=[("t", "=", 99)])
    assert t.last_scan["buckets_read"] == [2]
    assert out.count() == 5

    # t=2 rows: bucket 2 must still be read (its base matches), and the
    # 5 updated keys must NOT resurrect their old t=2 version
    out = t.read(where=[("t", "=", 2)])
    assert 2 in t.last_scan["buckets_read"]
    assert out.count() == rows.filter(F.col("t") == 2).count() - 5

    # nothing matches t=50 anywhere: every bucket prunes, zero rows
    out = t.read(where=[("t", "=", 50)])
    assert t.last_scan["buckets_read"] == []
    assert out.count() == 0


def test_expire_grace_protects_inflight_staging(spark, tmp_path):
    """A dir no snapshot references may be a CONCURRENT writer's in-flight
    staging (files land outside the commit lock): expire_snapshots must
    leave fresh never-referenced dirs alone until they age past the grace,
    while dirs referenced only by expired snapshots delete immediately."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 50, seed=1))
    t.overwrite(datagen.gen_sequences(spark, 50, seed=2))  # snap 1's dirs expire

    # simulate a crashed/in-flight writer: staged files, no commit
    stage = tmp_path / "t" / "data" / "snap-000000099-deadbeef" / "__bucket=0"
    stage.mkdir(parents=True)
    (stage / "part-0.zstd.parquet").write_bytes(b"x" * 64)

    deleted = t.expire_snapshots(keep_last=1)  # default grace: 1h
    rel = os.path.join("data", "snap-000000099-deadbeef", "__bucket=0")
    assert rel not in deleted and stage.exists()  # fresh orphan survives
    assert any("snap-000000001" in d for d in deleted)  # expiry still works

    # aged past the grace -> swept
    old = 7200
    os.utime(stage, (os.path.getmtime(stage) - old, os.path.getmtime(stage) - old))
    os.utime(stage / "part-0.zstd.parquet",
             (os.path.getmtime(stage) - old, os.path.getmtime(stage) - old))
    deleted = t.expire_snapshots(keep_last=1)
    assert rel in deleted and not stage.exists()
    assert t.read().count() == 50  # table unharmed throughout


def test_expire_keeps_a_commit_that_races_it(spark, tmp_path, monkeypatch):
    """A commit landing while expire_snapshots walks the history must keep
    its snapshot: expiry reads the pointer, lists the history and deletes
    snapshot files under the commit lock, so the racing commit waits and
    then lands on the retained head. The racer is a thread: a flock lock
    belongs to an open file, so a second lock taken inline would block."""
    import threading

    import omicidx_etl_spark.lake.table as lake_table

    root = str(tmp_path / "t")
    t = LakeTable.create(spark, root, SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 20, seed=1))
    t.overwrite(datagen.gen_sequences(spark, 20, seed=2))
    ch = spark.createDataFrame(
        [(1, "I", "doc_racing", [7], 1, "web")],
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    writer = LakeTable.load(spark, root)
    errors: list[Exception] = []

    def race():
        try:
            writer.merge(ch, app_id="race", batch_id=0, mode="mor")
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    racer = threading.Thread(target=race)
    at_lock = threading.Event()
    real_lock, real_history = lake_table._commit_lock, t.history

    def lock(meta_dir):
        if threading.current_thread() is racer:
            at_lock.set()  # staged; about to commit
        return real_lock(meta_dir)

    def history():
        # land the racing commit between the pointer read and the listing
        racer.start()
        assert at_lock.wait(120)
        racer.join(timeout=2)  # commits at once unless expiry holds the lock
        return real_history()

    monkeypatch.setattr(lake_table, "_commit_lock", lock)
    monkeypatch.setattr(t, "history", history)
    t.expire_snapshots(keep_last=1)
    racer.join()
    assert errors == []
    t.snapshot()  # the pointer names a live snapshot file
    assert t.committed_batch("race") == 0
    assert t.read().filter(F.col("doc_id") == "doc_racing").count() == 1
    assert t.read().count() == 21


def test_compact_sort_by_secondary_column(spark, tmp_path):
    """compact(sort_by=['source']) = Iceberg sort order on a NON-key
    column: every rewritten base is clustered by it, so parquet row-group
    stats on that column become selective inside every bucket (the manifest
    prunes only on the key; this is the other columns' pruning path)."""
    import glob as _glob

    import pyarrow.parquet as pq

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 400, seed=31))
    ch = datagen.gen_changes(spark, 500, 400, seed=32)
    t.merge(dedup_latest(ch), mode="mor")
    before = {r["doc_id"]: r["source"] for r in t.read().collect()}
    t.compact(sort_by=["source"])
    snap = t.snapshot()
    checked = 0
    for entry in snap["buckets"].values():
        assert entry["deltas"] == []
        for f in _glob.glob(os.path.join(str(tmp_path / "t"), entry["base"]["dir"], "*.parquet")):
            vals = pq.ParquetFile(f).read(columns=["source"])["source"].to_pylist()
            # Spark ascending order places NULLs first
            assert vals == sorted(vals, key=lambda v: (v is not None, v or ""))
            checked += 1
    assert checked > 0
    after = {r["doc_id"]: r["source"] for r in t.read().collect()}
    assert after == before  # sort order never changes table contents


def test_manifest_format_only_in_manifest_py():
    """lake/manifest.py is the engine's only reader of the bucket-entry
    format and the only spelling of the snapshot file name: no other
    engine module walks an entry base-then-deltas or formats
    ``snapshot-{sid}``."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "omicidx_etl_spark"
    pattern = re.compile(r'\["base"\]\]\s+if|snapshot-\{')
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "lake/manifest.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == [], hits


def test_legacy_bucket_entries_read_like_normalized(spark, tmp_path):
    """Tables written before the delta tier stored a bucket entry as None
    (empty bucket) or as a bare file group (base only). Rewriting the
    current snapshot into those forms changes nothing a reader returns."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    rows = datagen.gen_sequences(spark, 120, seed=7).withColumn("b", bucket_expr("doc_id", 4))
    t.overwrite(rows.filter(F.col("b") != 3).drop("b"))
    dirty_key = rows.filter(F.col("b") == 2).first()["doc_id"]
    ch = spark.createDataFrame(
        [(5, "U", dirty_key, [5], 1, "web")],
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    t.merge(dedup_latest(ch), mode="mor")
    keys = [dirty_key] + [r["doc_id"] for r in rows.filter(F.col("b") == 0).limit(2).collect()]

    def observed():
        fsck = t.fsck()
        return (
            sorted(tuple(r) for r in t.read().select("doc_id", "n_tok").collect()),
            sorted(tuple(r) for r in t.lookup(keys).select("doc_id", "n_tok").collect()),
            sorted(tuple(r) for r in t.meta_files().collect()),
            (fsck["ok"], fsck["findings"], fsck["checked"]),
        )

    want = observed()
    snap = t.snapshot()
    path = manifest.snapshot_path(os.path.join(t.root, "_meta"), snap["snapshot_id"])
    with open(path) as f:
        raw = json.load(f)
    assert raw["buckets"]["3"] == {"base": None, "deltas": []}
    assert raw["buckets"]["0"]["deltas"] == [] and raw["buckets"]["2"]["deltas"]
    raw["buckets"]["3"] = None
    raw["buckets"]["0"] = raw["buckets"]["0"]["base"]
    atomic_write_json(path, raw)

    assert t.snapshot()["buckets"] == snap["buckets"]
    assert observed() == want
