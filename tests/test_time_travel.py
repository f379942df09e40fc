"""Time travel (read ``as_of``) and incremental changelog (``changes``):
Iceberg-parity snapshot features over the lake table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from omicidx_etl_spark import datagen
from omicidx_etl_spark.cdc import dedup_latest
from omicidx_etl_spark.lake import LakeTable

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
    t.overwrite(datagen.gen_sequences(spark, 100, seed=11))  # sid 1, seq 0
    return t


def test_read_as_of_sees_historical_state(spark, table):
    sid1 = table.snapshot()["snapshot_id"]
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000001", [9, 9], 2, "web")]))
    )
    table.merge(
        dedup_latest(_changes_df(spark, [(6, "D", "doc_00000002", None, None, None)]))
    )
    # current: update applied, delete applied
    cur = table.read()
    assert cur.filter("doc_id = 'doc_00000001'").first()["tokens"] == [9, 9]
    assert cur.filter("doc_id = 'doc_00000002'").count() == 0
    # as_of sid1: pre-change state fully intact
    old = table.read(as_of=sid1)
    assert old.count() == 100
    assert old.filter("doc_id = 'doc_00000001'").first()["tokens"] != [9, 9]
    assert old.filter("doc_id = 'doc_00000002'").count() == 1


def test_read_as_of_survives_compaction(spark, table):
    sid1 = table.snapshot()["snapshot_id"]
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000003", [7], 1, "web")])),
        mode="mor",
    )
    table.compact()
    old = table.read(as_of=sid1)
    assert old.filter("doc_id = 'doc_00000003'").first()["tokens"] != [7]


def test_as_of_missing_snapshot_raises(table):
    with pytest.raises(FileNotFoundError, match="snapshot 999"):
        table.read(as_of=999)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_changes_net_per_key(spark, table, mode):
    sid1 = table.snapshot()["snapshot_id"]
    # interval: doc1 updated twice (net = seq 6), doc2 deleted, doc_new inserted
    table.merge(
        dedup_latest(
            _changes_df(
                spark,
                [
                    (5, "U", "doc_00000001", [5], 1, "web"),
                    (6, "D", "doc_00000002", None, None, None),
                ],
            )
        ),
        mode=mode,
    )
    table.merge(
        dedup_latest(
            _changes_df(
                spark,
                [
                    (7, "U", "doc_00000001", [6, 6], 2, "web"),
                    (8, "U", "doc_new", [1], 1, "pdf"),
                ],
            )
        ),
        mode=mode,
    )
    ch = {r["doc_id"]: r for r in table.changes(sid1).collect()}
    assert set(ch) == {"doc_00000001", "doc_00000002", "doc_new"}
    assert ch["doc_00000001"]["_change_type"] == "upsert"
    assert ch["doc_00000001"]["tokens"] == [6, 6]  # net latest, not intermediate
    assert ch["doc_00000002"]["_change_type"] == "delete"
    assert ch["doc_new"]["_change_type"] == "upsert"


def test_changes_empty_interval(table):
    sid = table.snapshot()["snapshot_id"]
    assert table.changes(sid).count() == 0


def test_changes_bounded_to_sid(spark, table):
    sid1 = table.snapshot()["snapshot_id"]
    s2 = table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000004", [4], 1, "web")]))
    )
    table.merge(
        dedup_latest(_changes_df(spark, [(6, "U", "doc_00000005", [5], 1, "web")]))
    )
    ch = table.changes(sid1, to_sid=s2["snapshot_id"])
    assert [r["doc_id"] for r in ch.collect()] == ["doc_00000004"]


def test_changes_excludes_compaction_rewrites(spark, table):
    """Compaction rewrites old rows into new base dirs; the changelog must
    not re-emit them (seq-ceiling filter on rewrite dirs)."""
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000006", [3], 1, "web")])),
        mode="mor",
    )
    sid_after = table.snapshot()["snapshot_id"]
    table.compact()  # rewrites every dirty bucket's full content
    assert table.changes(sid_after).count() == 0
    # and a post-compaction merge is still visible
    table.merge(
        dedup_latest(_changes_df(spark, [(9, "U", "doc_00000007", [2], 1, "web")])),
        mode="mor",
    )
    got = table.changes(sid_after).collect()
    assert [r["doc_id"] for r in got] == ["doc_00000007"]


def test_changes_keeps_delta_over_pruned_compaction_base(spark, table):
    """A compacted base whose seqs are all below the from-ceiling is pruned
    from the changelog scan; the MOR deltas appended to the same bucket
    after the compaction are still scanned."""
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000006", [3], 1, "web")])),
        mode="mor",
    )
    sid_after = table.snapshot()["snapshot_id"]
    table.compact()
    table.merge(
        dedup_latest(_changes_df(spark, [(9, "U", "doc_00000006", [4], 2, "web")])),
        mode="mor",
    )
    got = [(r["doc_id"], r["n_tok"]) for r in table.changes(sid_after).collect()]
    assert got == [("doc_00000006", 2)]


def test_changes_include_seq_orders_consumers(spark, table):
    sid1 = table.snapshot()["snapshot_id"]
    table.merge(
        dedup_latest(_changes_df(spark, [(42, "U", "doc_00000008", [1], 1, "web")]))
    )
    row = table.changes(sid1, include_seq=True).first()
    assert row["_seq"] == 42


def test_seq_ceiling_tracked_across_commit_kinds(spark, table):
    assert table.snapshot()["seq_ceiling"] == 0  # overwrite seq_value
    table.merge(
        dedup_latest(_changes_df(spark, [(17, "U", "doc_00000009", [1], 1, "web")])),
        mode="mor",
    )
    assert table.snapshot()["seq_ceiling"] == 17
    table.compact()
    assert table.snapshot()["seq_ceiling"] == 17  # maintenance doesn't move it


def test_changes_detects_lossy_purge_inside_interval(spark, table):
    sid0 = table.snapshot()["snapshot_id"]
    table.merge(dedup_latest(_changes_df(spark, [(10, "D", "doc-000005", None, None, None)])))
    table.purge_tombstones(before_seq=11)  # removes the delete physically
    with pytest.raises(ValueError, match="lossy"):
        table.changes(sid0)
    # a purge below the consumer's watermark is harmless and must not raise
    sid1 = table.snapshot()["snapshot_id"]
    table.merge(dedup_latest(_changes_df(spark, [(12, "U", "doc-000006", [1], 1, "s")])))
    table.purge_tombstones(before_seq=0)
    assert table.changes(sid1).count() == 1


def test_manifest_stats_recorded(spark, table):
    """Every committed file group carries per-column [min,max] bounds —
    at minimum for __seq, the column the changelog prunes on."""
    table.merge(
        _changes_df(spark, [(5, "U", "d1", [1, 2], 2, "s")]), mode="mor"
    )
    snap = table.snapshot()
    entries = []
    for e in snap["buckets"].values():
        if e.get("base"):
            entries.append(e["base"])
        entries.extend(e.get("deltas") or [])
    assert entries
    for fe in entries:
        st = fe.get("stats")
        assert st and "__seq" in st, fe
        lo, hi = st["__seq"]
        assert lo <= hi


def test_changes_prunes_compaction_rewrites(spark, table):
    """A compaction inside the changelog interval rewrites the whole table
    with already-seen seqs; the seq-bounds in the manifest must prune those
    rewrite dirs from the scan (O(delta), not O(table)) while the result
    stays identical."""
    table.merge(
        _changes_df(spark, [(10, "U", "da", [1], 1, "s"), (11, "U", "db", [2], 1, "s")]),
        mode="mor",
    )
    from_sid = table.snapshot()["snapshot_id"]
    compacted = table.compact()  # rewrites all dirty buckets, max seq <= 11
    assert compacted["summary"]["operation"] == "compact"
    table.merge(
        _changes_df(spark, [(12, "U", "dc", [3], 1, "s")]), mode="mor"
    )

    ch = table.changes(from_sid)
    got = {r["doc_id"]: r["_change_type"] for r in ch.collect()}
    assert got == {"dc": "upsert"}

    # the compaction's rewritten base dirs must not be scanned at all
    comp_dirs = {
        e["base"]["dir"]
        for e in table.snapshot_at(compacted["snapshot_id"])["buckets"].values()
        if e.get("base")
    }
    scanned = ch.inputFiles()
    for f in scanned:
        assert not any(d in f for d in comp_dirs), f


def test_changes_keeps_late_arrival_deltas_despite_old_seqs(spark, table):
    """Delta dirs are never seq-pruned: a post-interval-start MOR commit
    whose seqs are all below the from-ceiling is the documented
    late-arrival case and must stay visible."""
    table.merge(
        _changes_df(spark, [(50, "U", "d1", [1], 1, "s")]), mode="mor"
    )
    from_sid = table.snapshot()["snapshot_id"]  # ceiling now 50
    table.merge(
        _changes_df(spark, [(7, "U", "late_new_key", [9], 1, "s")]), mode="mor"
    )
    got = {r["doc_id"] for r in table.changes(from_sid).collect()}
    assert got == {"late_new_key"}


def test_read_as_of_ts_resolves_wall_clock(spark, table):
    """TIMESTAMP AS OF: a wall-clock timestamp resolves to the newest
    main-lineage snapshot committed at or before it, and reads exactly
    that state; a pre-creation timestamp raises."""
    import time as _time

    sid1 = table.snapshot()["snapshot_id"]
    ts_after_sid1 = _time.time()
    _time.sleep(0.02)
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000001", [9, 9], 2, "web")]))
    )
    _time.sleep(0.02)
    ts_after_sid2 = _time.time()
    table.merge(
        dedup_latest(_changes_df(spark, [(6, "D", "doc_00000002", None, None, None)]))
    )

    assert table.snapshot_id_as_of(ts_after_sid1) == sid1
    old = table.read(as_of_ts=ts_after_sid1)
    assert old.filter("doc_id = 'doc_00000001'").first()["tokens"] != [9, 9]
    assert old.filter("doc_id = 'doc_00000002'").count() == 1

    mid = table.read(as_of_ts=ts_after_sid2)
    assert mid.filter("doc_id = 'doc_00000001'").first()["tokens"] == [9, 9]
    assert mid.filter("doc_id = 'doc_00000002'").count() == 1

    # "now" resolves to the current head
    assert table.read(as_of_ts=_time.time()).count() == table.read().count()

    with pytest.raises(ValueError):
        table.snapshot_id_as_of(0.0)
    with pytest.raises(ValueError):
        table.read(as_of_ts=ts_after_sid1, as_of=sid1)


def test_as_of_ts_walks_branch_lineage_not_flat_listing(spark, table):
    """A side-branch snapshot committed before ts must never win a
    main-lineage resolution — and branch= resolves on the branch's own
    ancestry."""
    import time as _time

    main_sid = table.snapshot()["snapshot_id"]
    table.create_branch("audit")
    table.merge(
        dedup_latest(_changes_df(spark, [(7, "U", "doc_00000005", [1], 1, "web")])),
        branch="audit",
    )
    branch_head = table.branches()["audit"]
    _time.sleep(0.02)
    ts = _time.time()
    # main lineage: the branch commit is invisible at any ts
    assert table.snapshot_id_as_of(ts) == main_sid
    # branch lineage: ts resolves to the branch head
    assert table.snapshot_id_as_of(ts, branch="audit") == branch_head
    got = table.read(as_of_ts=ts, branch="audit")
    assert got.filter("doc_id = 'doc_00000005'").first()["tokens"] == [1]


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_changes_include_before_pre_images(spark, table, mode):
    """Debezium-style pre-images: _before carries the key's full row as of
    from_sid; NULL for inserts; present (pre-delete state) for deletes;
    the pre-image scan must be bucket-pruned, not a full-table read."""
    sid1 = table.snapshot()["snapshot_id"]
    old1 = table.read().filter("doc_id = 'doc_00000001'").first()
    table.merge(
        dedup_latest(
            _changes_df(
                spark,
                [
                    (5, "U", "doc_00000001", [5], 1, "web"),
                    (6, "D", "doc_00000002", None, None, None),
                    (7, "U", "doc_new", [1], 1, "pdf"),
                ],
            )
        ),
        mode=mode,
    )
    ch = {
        r["doc_id"]: r
        for r in table.changes(sid1, include_before=True).collect()
    }
    assert set(ch) == {"doc_00000001", "doc_00000002", "doc_new"}
    # update: pre-image is the sid1 row
    b = ch["doc_00000001"]["_before"]
    assert b is not None and b["tokens"] == list(old1["tokens"])
    # delete: pre-image present (state being deleted)
    assert ch["doc_00000002"]["_change_type"] == "delete"
    assert ch["doc_00000002"]["_before"] is not None
    # insert: no pre-image
    assert ch["doc_new"]["_before"] is None
    # compat: include_before off -> no _before column
    assert "_before" not in table.changes(sid1).columns


def test_changes_before_images_bucket_pruned(spark, table):
    """The pre-image read must touch only the buckets hosting changed keys
    (from-snapshot transform): with one changed key, a 4-bucket table
    reads exactly 1 bucket."""
    sid1 = table.snapshot()["snapshot_id"]
    table.merge(
        dedup_latest(_changes_df(spark, [(5, "U", "doc_00000001", [5], 1, "web")]))
    )
    from omicidx_etl_spark.lake.table import bucket_expr

    nb = table.snapshot()["table"]["n_buckets"]
    expect = (
        spark.createDataFrame([("doc_00000001",)], "doc_id string")
        .select(bucket_expr("doc_id", nb).alias("b"))
        .first()["b"]
    )
    ch = table.changes(sid1, include_before=True)
    import re

    pre_dirs = {
        m.group(1)
        for f in ch.inputFiles()
        for m in re.finditer(r"__bucket=(\d+)", f)
    }
    # both the delta scan and the pre-image scan touch only the changed
    # key's bucket — an unpruned pre-image read would surface all 4 here
    assert pre_dirs == {str(expect)}, pre_dirs
    r = ch.first()
    assert r["_before"] is not None
