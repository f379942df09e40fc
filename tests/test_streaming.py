"""Structured Streaming replay tests: checkpointed exactly-once resume
(T1), rate-limited micro-batches (T4), crash-replay dedup."""

from __future__ import annotations

import duckdb

from omicidx_etl_spark import datagen
from omicidx_etl_spark.lake import LakeTable, manifest
from omicidx_etl_spark.streaming import stream_replay


def _mk_log(spark, path, n_events, n_docs, seed, files):
    ch = datagen.gen_changes(spark, n_events, n_docs, seed=seed)
    datagen.write_change_log(ch, path, files=files)
    return ch.drop("seq", "op", "event_ts").schema


def _oracle(log_path):
    return duckdb.sql(
        f"""
        SELECT doc_id, n_tok FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) rn
          FROM read_parquet('{log_path}/*.parquet', union_by_name=true)
        ) WHERE rn = 1 AND op <> 'D' ORDER BY doc_id
        """
    ).df()


def test_stream_replay_and_resume(spark, tmp_path):
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 4000, 300, seed=21, files=4)
    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=8)

    committed = stream_replay(
        spark, table, log, ckpt, max_files_per_trigger=2, app_id="s1"
    )
    assert len(committed) == 2  # 4 files / 2 per trigger
    got = table.read().select("doc_id", "n_tok").orderBy("doc_id").toPandas()
    exp = _oracle(log)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_tok"].tolist() == exp["n_tok"].tolist()

    # no new files → restart is a no-op
    again = stream_replay(spark, table, log, ckpt, app_id="s1")
    assert again == []

    # append new change files → only they are processed on resume
    more = datagen.gen_changes(spark, 1000, 300, seed=22, full_prefix=False)
    more = more.withColumn("seq", more["seq"] + 4000)
    more.coalesce(1).write.mode("append").parquet(log)
    resumed = stream_replay(spark, table, log, ckpt, app_id="s1")
    assert len(resumed) == 1

    got2 = table.read().select("doc_id", "n_tok").orderBy("doc_id").toPandas()
    exp2 = _oracle(log)
    assert got2["doc_id"].tolist() == exp2["doc_id"].tolist()
    assert got2["n_tok"].tolist() == exp2["n_tok"].tolist()


def test_quarantine_poison_batch(spark, tmp_path):
    """T6: a batch whose merge fails is parked under _quarantine (data +
    error.json), recorded in lineage, and the stream finishes the rest."""
    import json
    import os

    from pyspark.sql import functions as F

    from omicidx_etl_spark.lineage import LineageLog

    log = str(tmp_path / "log")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 3000, 200, seed=41, files=3)
    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=4)
    lineage = LineageLog(root)

    poisoned: list[int] = []

    def validate(batch_df):
        # poison exactly the batch carrying seq 1: the per-batch validation
        # hook (the reference's per-record pydantic gate) raising routes the
        # batch to quarantine.
        if batch_df.filter(F.col("seq") == 1).count() > 0:
            poisoned.append(1)
            raise ValueError("poison batch: seq 1 present")

    committed = stream_replay(
        spark, table, log, str(tmp_path / "ckpt"), app_id="q1",
        max_files_per_trigger=1, lineage=lineage, validate=validate,
    )
    assert poisoned, "validator never fired"
    quar = [c for c in committed if c.get("quarantined")]
    good = [c for c in committed if not c.get("quarantined")]
    assert len(quar) == 1 and len(good) == 2
    qdir = os.path.join(root, "_quarantine", f"batch-{quar[0]['batch_id']:09d}")
    with open(os.path.join(qdir, "error.json")) as f:
        meta = json.load(f)
    assert "poison batch" in meta["error"] and meta["data_landed"]
    # quarantined data is replayable: row count matches one log file's batch
    qdata = spark.read.parquet(os.path.join(qdir, "data"))
    assert 0 < qdata.count() <= 3000
    # lineage has the quarantine row alongside the 2 commits
    lin = lineage.read(spark).toPandas()
    assert (lin["operation"] == "quarantine").sum() == 1
    # the rest of the stream committed despite the poison batch
    assert table.read().count() > 0

    # resume with the same checkpoint: the poison batch is consumed, not
    # retried forever — no new work.
    again = stream_replay(
        spark, table, log, str(tmp_path / "ckpt"), app_id="q1",
        validate=validate,
    )
    assert again == []


def test_quarantine_unreadable_batch(spark, tmp_path):
    """A batch from a corrupt source file can't be read at all — the error
    record still lands in quarantine and the stream completes."""
    import os

    log = str(tmp_path / "log")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 2000, 150, seed=42, files=2)
    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=4)
    # corrupt one segment: valid name, garbage bytes (schema passed
    # explicitly below — inference would trip on this footer)
    files = sorted(
        f for f in os.listdir(log) if f.endswith(".parquet")
    )
    with open(os.path.join(log, files[0]), "wb") as f:
        f.write(b"not a parquet file")
    log_schema = spark.read.parquet(
        os.path.join(log, files[1])
    ).schema
    committed = stream_replay(
        spark, table, log, str(tmp_path / "ckpt"), app_id="q2",
        max_files_per_trigger=1, schema=log_schema,
    )
    quar = [c for c in committed if c.get("quarantined")]
    good = [c for c in committed if not c.get("quarantined")]
    assert len(quar) == 1 and len(good) == 1
    assert not quar[0]["data_landed"]
    assert table.read().count() > 0


def test_stream_auto_compact_bounds_delta_depth(spark, tmp_path):
    """MOR + compact_deltas_over: the stream folds deltas itself, so the
    read-side delta chain stays bounded across many micro-batches."""
    log = str(tmp_path / "log")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 6000, 300, seed=43, files=6)
    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=4)

    committed = stream_replay(
        spark, table, log, str(tmp_path / "ckpt"), app_id="c1",
        max_files_per_trigger=1, mode="mor", compact_deltas_over=2,
    )
    compactions = [c for c in committed if c["summary"].get("operation") == "compact"]
    merges = [c for c in committed if c["summary"].get("operation") == "merge"]
    assert len(merges) == 6 and compactions, "no auto-compaction happened"
    assert manifest.max_delta_depth(table.snapshot()) <= 2
    got = table.read().select("doc_id", "n_tok").orderBy("doc_id").toPandas()
    exp = _oracle(log)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_tok"].tolist() == exp["n_tok"].tolist()


def test_crash_between_merge_and_checkpoint(spark, tmp_path):
    """If the table commit lands but the checkpoint doesn't (crash between),
    the replayed batch must be skipped by the (app_id, batch_id) watermark."""
    log = str(tmp_path / "log")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 1000, 100, seed=23, files=2)
    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=4)

    # first run with checkpoint A processes batch 0 (all files)
    stream_replay(spark, table, log, str(tmp_path / "ckptA"), app_id="s2")
    sid = table.snapshot()["snapshot_id"]
    n = table.read().count()

    # "crash": checkpoint lost entirely; restart from fresh checkpoint B.
    # The stream re-delivers batch 0 — the table watermark must no-op it.
    replayed = stream_replay(spark, table, log, str(tmp_path / "ckptB"), app_id="s2")
    assert all(s["summary"].get("skipped") for s in replayed)
    assert table.snapshot()["snapshot_id"] == sid
    assert table.read().count() == n


def test_stream_replay_dedup_within_drops_redelivery(spark, tmp_path):
    """dedup_within: an at-least-once log (1/5 of events delivered twice)
    replays to the same final state, and lineage event counts show the
    DEDUPLICATED feed — the duplicates never reach the merge."""
    from pyspark.sql import functions as F

    from omicidx_etl_spark.lineage import LineageLog

    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "t")
    schema = _mk_log(spark, log, 3000, 250, seed=31, files=3)
    dup = spark.read.parquet(log).filter(F.col("seq") % 5 == 0)
    dup.write.mode("append").parquet(log)
    assert spark.read.parquet(log).count() == 3600

    table = LakeTable.create(spark, root, schema, key="doc_id", n_buckets=8)
    lin = LineageLog(str(tmp_path / "lineage"))
    committed = stream_replay(
        spark, table, log, ckpt, app_id="dd", dedup_within="30 minutes",
        lineage=lin,
    )
    assert committed

    got = table.read().select("doc_id", "n_tok").orderBy("doc_id").toPandas()
    exp = _oracle(log)  # oracle over the redelivered feed == over distinct
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["n_tok"].tolist() == exp["n_tok"].tolist()

    rows = lin.read(spark).toPandas()
    assert int(rows["event_count"].fillna(0).sum()) == 3000  # not 3600


def test_quarantine_markers_never_partial(spark, tmp_path, monkeypatch):
    """The quarantine markers (``error.json``, ``_RESOLVED``) appear whole
    or not at all: a crash while writing either one leaves no marker, so a
    reader never parses half a record and a half-written ``_RESOLVED``
    never hides a batch that still needs its replay."""
    import json
    import os

    import pytest

    from omicidx_etl_spark.streaming.replay import (
        _quarantine_batch,
        replay_quarantined,
    )

    root = str(tmp_path / "t")
    ch = datagen.gen_changes(spark, 200, 50, seed=5)
    table = LakeTable.create(
        spark, root, ch.drop("seq", "op", "event_ts").schema, key="doc_id",
        n_buckets=2,
    )
    markers = ({"app_id", "batch_id"}, {"app_id", "batch_id", "error", "data_landed"})
    real_dump, real_dumps = json.dump, json.dumps

    def is_marker(obj):
        return isinstance(obj, dict) and set(obj) in markers

    def dump(obj, fp, *a, **k):
        if is_marker(obj):
            fp.write('{"app_id": ')  # the disk fills mid-record
            raise OSError("no space left on device")
        return real_dump(obj, fp, *a, **k)

    def dumps(obj, *a, **k):
        if is_marker(obj):
            raise OSError("no space left on device")
        return real_dumps(obj, *a, **k)

    def crash_markers():
        monkeypatch.setattr(json, "dump", dump)
        monkeypatch.setattr(json, "dumps", dumps)

    qdir = os.path.join(root, "_quarantine", f"batch-{7:09d}")
    crash_markers()
    with pytest.raises(OSError):
        _quarantine_batch(table, ch, 7, "qa", ValueError("poison"), None)
    assert not os.path.exists(os.path.join(qdir, "error.json"))
    monkeypatch.undo()
    _quarantine_batch(table, ch, 7, "qa", ValueError("poison"), None)
    with open(os.path.join(qdir, "error.json")) as f:
        assert json.load(f)["error"] == "ValueError: poison"

    crash_markers()
    with pytest.raises(OSError):
        replay_quarantined(table, app_id="qa", mode="mor")
    assert not os.path.exists(os.path.join(qdir, "_RESOLVED"))
    monkeypatch.undo()
    # the batch stays unresolved, so the next pass visits it again; the
    # merge already committed, so the revisit skips and marks it resolved
    assert replay_quarantined(table, app_id="qa", mode="mor") == [
        {"batch_id": 7, "replayed": True, "skipped": True}
    ]
    with open(os.path.join(qdir, "_RESOLVED")) as f:
        assert json.load(f) == {"app_id": "qa", "batch_id": 7}
