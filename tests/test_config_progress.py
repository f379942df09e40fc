"""Console heartbeat (progress.py) — the engine's equivalent of the
reference's rate-limited LogProgress (omicidx_etl/log.py:187-259)."""

from __future__ import annotations

import io
import json

import pytest

from omicidx_etl_spark.progress import LogProgress


def test_progress_rate_limited_by_time():
    """1000 updates inside one interval emit one line (plus complete);
    advancing the injected clock past the interval emits again."""
    buf = io.StringIO()
    t = [0.0]
    p = LogProgress(
        "replay", total=2000, min_interval_s=5.0, stream=buf,
        clock=lambda: t[0], table="/x",
    )
    for _ in range(1000):
        p.update(1)
    assert p.lines_emitted == 1  # only the first update emitted
    t[0] = 6.0
    p.update(1000)
    assert p.lines_emitted == 2
    p.complete()
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert [l["status"] for l in lines] == ["running", "running", "complete"]
    last = lines[-1]
    assert last["processed"] == 2000 and last["table"] == "/x"
    assert last["percent"] == 100.0
    assert last["rate_per_sec"] == pytest.approx(2000 / 6.0, rel=0.01)


def test_progress_threads_through_replay_log(spark, tmp_path):
    """replay_log(progress=) heartbeats with applied event counts."""
    from omicidx_etl_spark import datagen
    from omicidx_etl_spark.cdc import replay_log
    from omicidx_etl_spark.lake import LakeTable

    log = str(tmp_path / "log")
    ch = datagen.gen_changes(spark, 3000, 300, seed=21)
    datagen.write_change_log(ch, log, files=6)
    t = LakeTable.create(
        spark,
        str(tmp_path / "t"),
        ch.drop("seq", "op", "event_ts").schema,
        key="doc_id",
        n_buckets=4,
    )
    buf = io.StringIO()
    hb = LogProgress("replay", min_interval_s=0.0, stream=buf)
    replay_log(spark, t, log, chunk_events=1000, progress=hb)
    lines = [json.loads(l) for l in buf.getvalue().strip().splitlines()]
    assert len(lines) == 3  # one per batch at interval 0
    assert lines[-1]["processed"] == 3000
