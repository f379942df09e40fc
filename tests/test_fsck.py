"""lake/fsck.py: the integrity checker must pass a healthy table and catch
each corruption class it claims to catch — a checker that never fires is
worse than none (false confidence)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest
from omicidx_etl_spark.lake import LakeTable, manifest

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def _changes_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "seq long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=4)
    t.overwrite(datagen.gen_sequences(spark, 50, seed=3))
    t.merge(
        dedup_latest(
            _changes_df(spark, [(100, "U", "doc_00000001", [1, 2], 2, "web")])
        ),
        mode="mor",
    )
    return t


def _codes(report):
    return sorted(f["code"] for f in report["findings"])


def test_healthy_table_passes_deep(table):
    r = table.fsck(deep=True)
    assert r["ok"], r["findings"]
    assert r["errors"] == 0 and r["warnings"] == 0
    assert r["checked"]["file_groups"] > 0 and r["checked"]["files"] > 0


def test_missing_dir_detected(table):
    snap = table.snapshot()
    victim = next(
        g["dir"] for _, g, is_delta in manifest.snapshot_file_groups(snap) if not is_delta
    )
    shutil.rmtree(os.path.join(table.root, victim))
    r = table.fsck()
    assert not r["ok"] and "missing_dir" in _codes(r)


def test_corrupt_file_detected_deep_only(table):
    # truncate one parquet file mid-byte: metadata tier stays green, the
    # deep footer check fires
    snap = table.snapshot()
    d = next(
        os.path.join(table.root, g["dir"])
        for _, g, is_delta in manifest.snapshot_file_groups(snap)
        if not is_delta
    )
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    with open(f, "r+b") as fh:
        fh.truncate(os.path.getsize(f) // 2)
    assert table.fsck()["ok"]
    r = table.fsck(deep=True)
    assert not r["ok"] and "unreadable_file" in _codes(r)


def test_lying_stats_bounds_detected(table):
    """Tighten a recorded max below the data's max — the corruption that
    makes bounds-pruned reads silently drop rows."""
    snap = table.snapshot()
    from omicidx_etl_spark.lake.table import atomic_write_json

    tampered = False
    for _, g, is_delta in manifest.snapshot_file_groups(snap):
        if not is_delta and g.get("stats", {}).get("n_tok"):
            lo, hi = g["stats"]["n_tok"]
            if hi > lo:
                g["stats"]["n_tok"] = [lo, lo]  # lie: max == min
                tampered = True
                break
    assert tampered, "fixture produced no multi-value n_tok dir"
    atomic_write_json(manifest.snapshot_path(table._meta_dir, snap["snapshot_id"]), snap)
    r = table.fsck(deep=True)
    assert not r["ok"] and "stats_bounds" in _codes(r)


def test_stale_bloom_warns_not_errors(table):
    table.build_blooms()
    table.compact()  # old delta/base dirs replaced; their sidecars go stale
    r = table.fsck()
    assert r["ok"]  # warnings don't fail the check
    assert "stale_bloom" in _codes(r)
    # retention deletes the dead dirs; build_blooms then prunes their
    # sidecars and the warning clears
    table.expire_snapshots(keep_last=1, orphan_grace_s=0)
    table.build_blooms()
    assert "stale_bloom" not in _codes(table.fsck())


def test_bad_constraint_detected(table):
    table.add_constraint("nonneg", "n_tok >= 0")
    assert table.fsck()["ok"]
    # corrupt the constraint expression directly in the snapshot (simulates
    # metadata damage; the API itself refuses to drop a referenced column)
    snap = table.snapshot()
    from omicidx_etl_spark.lake.table import atomic_write_json

    snap["constraints"]["nonneg"] = "no_such_column >= 0"
    atomic_write_json(manifest.snapshot_path(table._meta_dir, snap["snapshot_id"]), snap)
    r = table.fsck()
    assert not r["ok"] and "bad_constraint" in _codes(r)


def test_dangling_tag_detected(table):
    table.create_tag("v1")
    assert table.fsck()["ok"]
    # retarget the tag at a snapshot id that never existed (simulates a tag
    # surviving past its snapshot's expiry)
    tags_path = table._tags_path()
    with open(tags_path) as f:
        tags = json.load(f)
    tags["v1"] = 999999
    from omicidx_etl_spark.lake.table import atomic_write_json

    atomic_write_json(tags_path, tags)
    r = table.fsck()
    assert not r["ok"] and "dangling_ref" in _codes(r)


def test_seq_ceiling_low_detected(table):
    snap = table.snapshot()
    from omicidx_etl_spark.lake.table import atomic_write_json

    snap["seq_ceiling"] = -1  # below the merged seq=100
    atomic_write_json(manifest.snapshot_path(table._meta_dir, snap["snapshot_id"]), snap)
    r = table.fsck(deep=True)
    assert not r["ok"] and "seq_ceiling_low" in _codes(r)


def test_fsck_green_across_maintenance_lifecycle(spark, tmp_path):
    """The checker must never false-positive: after every legitimate
    operation the engine offers (merge cow/mor, delete, schema evolution,
    compact, rebucket, purge, expire, rollback, clone), deep fsck stays
    clean. A checker that cries wolf on healthy tables trains operators
    to ignore it."""
    t = LakeTable.create(
        spark, str(tmp_path / "life"), SCHEMA, key="doc_id", n_buckets=4
    )
    t.overwrite(datagen.gen_sequences(spark, 40, seed=8))

    def ok(step):
        r = t.fsck(deep=True)
        assert r["ok"], (step, r["findings"])

    ok("overwrite")
    t.merge(
        dedup_latest(_changes_df(spark, [(10, "U", "doc_00000002", [7], 1, "web")])),
        mode="mor",
    )
    ok("merge mor")
    t.merge(
        dedup_latest(_changes_df(spark, [(11, "I", "doc_x", [8], 1, "web")])),
        mode="cow",
    )
    ok("merge cow")
    t.delete_where([("doc_id", "=", "doc_00000005")])
    ok("delete_where")
    import pyspark.sql.types as T2

    t.add_column("extra", T2.LongType())
    ok("add_column")
    t.rename_column("extra", "extra2")
    ok("rename_column")
    t.compact()
    ok("compact")
    t.rebucket(8)
    ok("rebucket")
    t.purge_tombstones(before_seq=100)
    ok("purge_tombstones")
    t.expire_snapshots(keep_last=2, orphan_grace_s=0)
    ok("expire_snapshots")
    c = t.clone(str(tmp_path / "life_clone"))
    r = c.fsck(deep=True)
    assert r["ok"], r["findings"]


def test_corrupt_bloom_sidecar_warns_not_crashes(table):
    """Review-fix regression: a half-written sidecar json is reported as
    a bad_bloom warning, not an uncaught JSONDecodeError."""
    import os

    from omicidx_etl_spark.lake.bloom import BLOOM_SUBDIR

    table.build_blooms()
    bdir = os.path.join(table.root, BLOOM_SUBDIR)
    victim = next(f for f in sorted(os.listdir(bdir)) if f.endswith(".json"))
    with open(os.path.join(bdir, victim), "w") as f:
        f.write('{"m": 1024, "bits": "truncat')  # mid-write crash artifact
    r = table.fsck()
    assert r["ok"]  # warning, not error
    assert "bad_bloom" in _codes(r)
