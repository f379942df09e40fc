"""Bloom sidecars: point-lookup dir skipping over immutable data dirs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest
from omicidx_etl_spark.lake import LakeTable, manifest
from omicidx_etl_spark.lake.bloom import dirs_to_skip

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
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, key="doc_id", n_buckets=2)
    t.overwrite(datagen.gen_sequences(spark, 80, seed=5))
    # five MOR delta commits touching DIFFERENT single keys -> long chains
    for i, seq in enumerate(range(100, 105)):
        t.merge(
            dedup_latest(
                _changes_df(
                    spark, [(seq, "U", f"doc_{i:08d}", [i], 1, "web")]
                )
            ),
            mode="mor",
        )
    return t


def _n_dirs(df) -> int:
    return len({os.path.dirname(f) for f in df.inputFiles()})


def test_lookup_equal_with_and_without_blooms(table):
    out = table.build_blooms()
    assert out["built"] > 0 and table.build_blooms()["built"] == 0  # idempotent
    for keys in (["doc_00000002"], ["doc_00000002", "doc_00000050"], ["nope"]):
        a = sorted(r["doc_id"] for r in table.lookup(keys, use_blooms=False).collect())
        b = sorted(r["doc_id"] for r in table.lookup(keys, use_blooms=True).collect())
        assert a == b


def test_bloom_skips_unrelated_delta_dirs(table):
    """A key updated in exactly one delta commit: the bloom lookup must
    scan fewer dirs than the unfiltered one (the other deltas' blooms
    exclude it)."""
    table.build_blooms()
    plain = table.lookup(["doc_00000002"], use_blooms=False)
    pruned = table.lookup(["doc_00000002"], use_blooms=True)
    assert _n_dirs(pruned) < _n_dirs(plain)
    assert pruned.first()["tokens"] == [2]  # the delta version, not the base


def test_unindexed_dirs_never_skip(table):
    """Dirs without a sidecar must always scan: build blooms, land a NEW
    delta (no sidecar yet), and look up its key — the fresh version must
    be visible."""
    table.build_blooms()
    table.merge(
        dedup_latest(_changes_df(table.spark, [(200, "U", "doc_00000009", [99], 1, "web")])),
        mode="mor",
    )
    got = table.lookup(["doc_00000009"]).first()
    assert got["tokens"] == [99]
    # next maintenance pass indexes exactly the new dir(s)
    assert table.build_blooms()["built"] >= 1


def test_dirs_to_skip_is_conservative(table):
    """dirs_to_skip never names a dir that actually holds the key."""
    table.build_blooms()
    snap = table.snapshot()
    all_dirs = [fe["dir"] for _, fe, _ in manifest.snapshot_file_groups(snap)]
    key = "doc_00000003"
    skip = dirs_to_skip(table, [key], all_dirs)
    holding = {
        os.path.relpath(os.path.dirname(f), table.root)
        for f in table.lookup([key], use_blooms=False).inputFiles()
        if table.spark.read.parquet(os.path.dirname(f))
        .filter(f"doc_id = '{key}'")
        .count()
        > 0
    }
    assert not (skip & holding)


def test_dirs_to_skip_submits_no_spark_job(table, count_jobs):
    """The probe hashes keys on the driver (lake.hashing), so choosing the
    dirs to skip costs no Spark job."""
    table.build_blooms()
    dirs = [fe["dir"] for _, fe, _ in manifest.snapshot_file_groups(table.snapshot())]
    skip, n_jobs = count_jobs(lambda: dirs_to_skip(table, ["doc_00000002", "nope"], dirs))
    assert n_jobs == 0
    assert skip  # the other single-key deltas' blooms exclude both keys


def test_bloom_sidecars_pruned_after_compaction(table):
    """Compaction/expiry replace data dirs; the next build_blooms pass
    must remove the dead dirs' sidecars (no unbounded _index/bloom
    growth) while lookups stay correct."""
    import os as _os

    table.build_blooms()
    bdir = _os.path.join(table.root, "_index", "bloom")
    n_before = len(_os.listdir(bdir))
    table.compact()
    table.expire_snapshots(keep_last=1, orphan_grace_s=0)
    out = table.build_blooms()
    assert out["pruned"] > 0
    # only live dirs carry sidecars now
    live = manifest.referenced_dirs(table.snapshot())
    import json as _json

    for name in _os.listdir(bdir):
        with open(_os.path.join(bdir, name)) as f:
            assert _json.load(f)["dir"] in live
    assert len(_os.listdir(bdir)) <= n_before
    got = table.lookup(["doc_00000002"]).first()
    assert got is not None


def test_orphan_tmp_files_pruned_after_grace(table):
    """A crashed atomic_write_json leaves '<name>.json.tmp-<hex>' orphans;
    prune_blooms deletes them once older than the grace period (fresh ones
    survive — they may be a concurrent in-flight write), and meta_blooms
    never surfaces them as sidecar rows even when fully written."""
    import json as _json
    import os as _os

    from omicidx_etl_spark.lake.bloom import prune_blooms

    table.build_blooms()
    bdir = _os.path.join(table.root, "_index", "bloom")
    # fully-written-but-unrenamed tmp (parses fine) + a fresh one
    real = next(n for n in _os.listdir(bdir) if n.endswith(".json"))
    with open(_os.path.join(bdir, real)) as f:
        payload = f.read()
    stale = _os.path.join(bdir, real + ".tmp-deadbeef")
    fresh = _os.path.join(bdir, real + ".tmp-cafebabe")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write(payload)
    _os.utime(stale, (0, 0))  # ancient mtime -> past any grace period

    rows = table.meta_blooms().collect()
    dirs = [r["dir"] for r in rows]
    assert len(dirs) == len(set(dirs)), "tmp file surfaced as duplicate sidecar"

    res = prune_blooms(table, detail=True)
    # tmp orphans are tracked separately from sidecar prunes (ADVICE r5):
    # only the stale tmp was removed here, no sidecar died
    assert res["tmp_removed"] >= 1 and res["pruned"] == 0
    assert not _os.path.exists(stale), "stale tmp orphan not cleaned"
    assert _os.path.exists(fresh), "fresh (in-flight) tmp must survive grace"
    # zero-grace sweep removes the fresh one too
    prune_blooms(table, tmp_grace_sec=0.0)
    assert not _os.path.exists(fresh)
    # sidecars untouched -> lookups still bloom-assisted and correct
    meta = _json.loads(payload)
    assert _os.path.exists(_os.path.join(bdir, real)) and meta["dir"]
